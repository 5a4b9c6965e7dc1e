package graft.functions

import org.apache.hadoop.fs.{FileSystem, Path}

/** Filesystem helpers. Swapping state into place, and healing a crashed
  * swap, is `graft.streaming.StateLog`'s job alone. */
object FsUtils {

  /** Hadoop's Path parser is lenient where java.net.URI is strict — a
    * local path containing a space (or other unescaped characters) is
    * valid here and must not throw. Every state reader/writer in
    * `graft.streaming` routes through this, so the leniency has to live
    * HERE, not at individual call sites. */
  def fs(spark: org.apache.spark.sql.SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `FileSystem.rename` reports most failures via `false`, not an
    * exception (missing source, vanished destination parent, cross-store
    * moves) — ignoring it turns a failed swap into silent data loss. */
  def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst")

  /** Total data-file bytes under `path` (recursive, `_`-prefixed metadata
    * excluded) — the byte-size trigger metric for log-structured state
    * compaction. A pure driver-side listing (the same metadata a scan
    * would list, sizes included), so checking it per batch costs no
    * executor work. Bytes, not file count: small appends coalesce to one
    * file each, so a file-count trigger scales with batch CADENCE while
    * the read cost it guards scales with accumulated ROWS — bytes track
    * rows under any file layout. 0 for a missing dir. */
  def dataBytes(fs: FileSystem, path: Path): Long =
    if (!fs.exists(path)) 0L
    else {
      val it = fs.listFiles(path, true)
      var n = 0L
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.getName.startsWith("_")) n += f.getLen
      }
      n
    }
}
