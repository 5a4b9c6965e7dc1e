package perfbench

import java.io.File

/** The engine keeps its on-disk indexes at fixed `/tmp/graft-*` paths. The
  * launcher gives each run a private `/tmp` inside the checkout when the
  * platform allows it; either way a run starts from no engine indexes. */
object Isolation {
  private def engineDirs: Seq[File] =
    Option(new File("/tmp").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft-"))

  private def delete(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  def wipeEngineTmp(): Unit = engineDirs.foreach(delete)

  /** (bytes, files) under `path`. */
  def du(path: String): (Long, Long) = du(new File(path))

  private def du(f: File): (Long, Long) =
    if (f.isFile) (f.length, 1L)
    else Option(f.listFiles()).toSeq.flatten.map(du)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  /** (bytes, files) of the engine's on-disk indexes. */
  def engineIndexes: (Long, Long) = engineDirs.map(du)
    .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
}
