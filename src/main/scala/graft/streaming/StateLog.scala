package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.FsUtils

/** The package-wide parquet state commit discipline: the one module that
  * knows how streaming state is committed and healed. Users: the log
  * streams (ProfileStream, SubstringDedupStream, BpeStream,
  * HashedModelStream, HistogramStream, DriftStream, AnomalyStream,
  * QualityStream, RetentionStream, CdcStream, LexStatsStream,
  * DecontamStream, OverlapStream, ReservoirStream, OverviewStream,
  * StateHistoryStream), the batch-dir commits of CurationStream's output,
  * ComponentsStream's star log and the two tombstone logs
  * (EmbeddingIndexStream, LexStatsStream), the grid commits of
  * HistogramStream and DriftStream, the whole-dir swaps ([[StateLog.swapDir]])
  * of FunnelStream, StateHistoryStream, CurationStream, ComponentsStream,
  * ReservoirStream, EmbeddingIndexStream's compaction and recluster,
  * ImageAnn's reseed and Layout's z-order recluster, and the partition
  * swaps ([[StateLog.landPartitions]]) of EventsPipeline's merge and daily
  * aggregate and Layout's partition compaction (see each site's scaladoc
  * for its replay argument). No other module renames state into place.
  * One instance manages one append-only log of per-batch state dirs under
  * `stateDir/logName`:
  *
  *  - `batch=<id>` dirs accumulate one deterministic state write per
  *    micro-batch; the dir's presence is the batch's commit marker, so its
  *    existence short-circuits an at-least-once replay entirely
  *    ([[alreadyApplied]]).
  *  - [[compact]] folds all batch dirs into `batch=-1` — a dir no
  *    foreachBatch id can ever target. For NON-idempotent state (counts),
  *    a `foldmeta` watermark (folded-through batch id, the name of a marker
  *    file, so reading it is a listing and no Spark job) is temp-swapped
  *    into place BEFORE the log swap, so a replay of an already-folded
  *    batch is skipped via the watermark even though its dir is gone; for
  *    lossless idempotent folds the caller disables the watermark.
  *  - every crash window is covered: a crash between the watermark and the
  *    log swap leaves un-folded dirs whose re-fold is deterministic; a
  *    crash INSIDE a temp-swap (after delete(dst), before rename) leaves
  *    `dst.tmp` as the sole copy, and [[recoverSwaps]] — called on entry by
  *    every public reader/writer — completes the rename. A `dst.tmp` that
  *    never finished its write (a crash or abort before the write's job
  *    committed) is deleted instead, never landed.
  *
  * Single-writer discipline is the package contract: one driver folds a
  * given `stateDir`, exactly as Structured Streaming runs one foreachBatch
  * at a time per query. Readers on other sessions see either the old or the
  * new state (rename atomicity), never a torn mix.
  */
final class StateLog(
    spark: SparkSession,
    val stateDir: String,
    logName: String,
    sidecarNames: Seq[String] = Nil,
    foldmetaName: String = "foldmeta") {

  val logPath: String = s"$stateDir/$logName"
  // per-log watermark name: two logs sharing one stateDir (LexStatsStream's
  // stats + postings) must not share a fold watermark, or compacting one
  // would mark the other's batches as folded
  private val foldmetaPath: String = s"$stateDir/$foldmetaName"
  private def fs = FsUtils.fs(spark, stateDir)

  def sidecarPath(name: String): String = s"$stateDir/$name"

  /** Heal interrupted temp-swaps for the log, the foldmeta sidecar, and any
    * registered sidecar dirs (the crash window: delete(dst) happened, rename
    * didn't — `dst.tmp` is the sole surviving copy). */
  def recoverSwaps(): Unit =
    StateLog.healSwaps(spark, (logPath +: foldmetaPath +: sidecarNames.map(sidecarPath)): _*)

  /** Highest batch id folded into `batch=-1` (−1 when never compacted):
    * the name of the marker file inside `foldmeta`, so the replay guard
    * costs a listing and no Spark job. */
  def foldedUpto(): Long = {
    recoverSwaps()
    val fm = new Path(foldmetaPath)
    if (!fs.exists(fm)) -1L
    else fs.listStatus(fm).map(_.getPath.getName)
      .collect { case n if n.startsWith(StateLog.UptoMarker) =>
        n.stripPrefix(StateLog.UptoMarker).toLong }
      .foldLeft(-1L)(math.max)
  }

  /** The replay guard: the batch dir survived a prior delivery, or the
    * batch was already folded into `batch=-1` (watermark). */
  def alreadyApplied(batchId: Long): Boolean = {
    recoverSwaps()
    fs.exists(new Path(s"$logPath/batch=$batchId")) || batchId <= foldedUpto()
  }

  /** Accumulated state rows (batch dirs plus any folded `batch=-1`)
    * projected to `cols`; batches bounded by `uptoBatch` when given (−1
    * participates in every bounded read — the documented post-compaction
    * snapshot caveat). `empty` serves both the missing-dir and the
    * mkdirs'ed-but-nothing-committed crash windows. */
  def read(cols: Seq[String], empty: => DataFrame,
           uptoBatch: Long = Long.MaxValue): DataFrame = {
    recoverSwaps()
    if (!fs.exists(new Path(logPath))) empty
    else
      try {
        val raw = spark.read.parquet(logPath)
        val bounded =
          if (uptoBatch == Long.MaxValue) raw else raw.filter(col("batch") <= uptoBatch)
        bounded.select(cols.map(col): _*)
      } catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") => empty
      }
  }

  /** The raw accumulated log frame UNPROJECTED (partition `batch` column
    * included, plus whatever data columns the writes carried) — for readers
    * that must branch on column presence (the LexStatsStream src_batch
    * degrade path). Same missing-dir / empty-dir handling as [[read]]. */
  def readAll(empty: => DataFrame): DataFrame = {
    recoverSwaps()
    if (!fs.exists(new Path(logPath))) empty
    else
      try spark.read.parquet(logPath)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") => empty
      }
  }

  /** Commit one batch's own state rows ([[StateLog.commitBatchDir]] on
    * this log). */
  def commitBatch(own: DataFrame, batchId: Long, coalesce1: Boolean = true,
                  partitionByCols: Seq[String] = Nil): Unit =
    StateLog.commitBatchDir(spark, logPath, batchId, own, coalesce1, partitionByCols)

  /** Number of `batch=*` dirs in the log (the listing-cost metric the
    * auto-compaction trigger bounds). */
  def batchDirCount(): Int = {
    val lp = new Path(logPath)
    if (!fs.exists(lp)) 0
    else fs.listStatus(lp).count(_.getPath.getName.startsWith("batch="))
  }

  /** Highest non-negative batch id present (−1 when only `batch=-1` or
    * nothing is left — nothing to fold). */
  def maxBatchId(): Long = {
    val lp = new Path(logPath)
    if (!fs.exists(lp)) -1L
    else fs.listStatus(lp)
      .map(_.getPath.getName).filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong)
      .foldLeft(-1L)(math.max)
  }

  /** Run `doCompact` when the batch-dir count exceeds `limit` (0 = never). */
  def maybeAutoCompact(limit: Int)(doCompact: => Unit): Unit =
    if (limit > 0 && batchDirCount() > limit) doCompact

  /** Fold all batch dirs into one `batch=-1` dir. `fold` maps the raw
    * accumulated log frame (batch partition column included) to the folded
    * rows and MUST be deterministic. Commit order for non-idempotent state
    * (`watermark = true`):
    *  1. foldmeta (folded_upto = max folded id) via temp-swap — from this
    *     instant any replay of a folded batch is skipped;
    *  2. the whole log dir is swapped for {batch=-1} in one rename.
    * A crash between 1 and 2 leaves the un-folded dirs in place — reads
    * still fold to the same state, the watermark is merely early, and the
    * next compaction redoes the (deterministic) fold. Lossless idempotent
    * folds (distinct / min) pass `watermark = false` and rely on `batch=-1`
    * being un-targetable by replays. `skipAboveWatermark` (StateHistoryStream
    * shape) refuses to fold while a batch dir above the given applied
    * watermark exists — folding an uncommitted append would let its replay
    * re-append absorbed rows. */
  /** @param beforeSwap hook invoked with the fully-written tmp dir path
    *   just before the rename — for sidecar files that must travel INSIDE
    *   the same atomic swap as the folded data (e.g. the postings log's
    *   `.bucketmeta`: a bucket count arriving in a separate commit would
    *   open a window where readers prune the new layout with the old
    *   hash — silent misses, not an error). */
  /** @param force run the fold even when only `batch=-1` remains (no new
    *   batch dirs) — for LAYOUT rewrites of already-compacted state (the
    *   postings rebucket); the watermark write is skipped in that case
    *   (nothing new folded, nothing to fence). */
  def compact(fold: DataFrame => DataFrame, coalesce1: Boolean = true,
              watermark: Boolean = true,
              skipAboveWatermark: Option[Long] = None,
              partitionByCols: Seq[String] = Nil,
              beforeSwap: String => Unit = _ => (),
              force: Boolean = false): Unit = {
    recoverSwaps()
    val f = fs
    val lp = new Path(logPath)
    if (!f.exists(lp)) return
    val maxBatch = maxBatchId()
    if (maxBatch < 0 && !force) return
    if (skipAboveWatermark.exists(applied => maxBatch > applied)) return
    // the tmp write below finishes before the swap deletes any source
    val folded = fold(spark.read.parquet(logPath))
    if (watermark && maxBatch >= 0)
      StateLog.swapDir(spark, foldmetaPath)(tmp =>
        f.create(new Path(tmp, StateLog.UptoMarker + maxBatch)).close())
    StateLog.swapDir(spark, logPath) { tmp =>
      val w = (if (coalesce1) folded.coalesce(1) else folded)
        .write.mode("overwrite")
      (if (partitionByCols.nonEmpty) w.partitionBy(partitionByCols: _*) else w)
        .parquet(s"$tmp/batch=-1")
      beforeSwap(tmp)
    }
  }
}

object StateLog {

  /** Name prefix of the `foldmeta` marker file; the folded-through batch
    * id follows it. */
  private val UptoMarker = "_folded_upto="

  /** Complete any interrupted whole-dir swap ([[swapDir]]) at the given
    * paths, each through its default `path.tmp`; true when one landed. */
  def healSwaps(spark: SparkSession, paths: String*): Boolean =
    paths.map(p => healSwap(spark, p, p + ".tmp")).contains(true)

  /** Complete an interrupted [[swapDir]] of `path` through `tmp`: the crash
    * window between delete(dst) and rename leaves dst missing and `tmp` as
    * the sole surviving copy — without this heal a crash inside a swap
    * would silently zero accumulated state (and an already-committed
    * watermark would suppress the replays that could rebuild it). A `tmp`
    * whose write never finished is deleted instead: landing it would
    * replace missing state with a partial or empty table. True when the
    * tmp landed. */
  def healSwap(spark: SparkSession, path: String, tmp: String): Boolean = {
    val f = FsUtils.fs(spark, path)
    val (out, t) = (new Path(path), new Path(tmp))
    if (f.exists(out) || !f.exists(t)) false
    else if (finished(f, t)) { FsUtils.renameOrThrow(f, t, out); true }
    else { f.delete(t, true); false }
  }

  /** A temp-swap source holds a finished write: at least one file and no
    * Spark `_temporary` staging dir. A crash before the write's job commit
    * leaves the staging dir; an aborted write leaves the dir empty. */
  private def finished(f: FileSystem, dir: Path): Boolean = {
    val files = f.listFiles(dir, true)
    var any = false
    while (files.hasNext)
      if (files.next().getPath.toUri.getPath.contains("/_temporary/")) return false
      else any = true
    any
  }

  /** Commit `df` once at `path`: skipped when `path` exists, else written
    * to `staging` and renamed into place — the rename IS the commit point,
    * so a crash before it leaves only a stale `staging` that the next call
    * overwrites. `partitionByCols` writes the dir partitioned. */
  def commitOnce(spark: SparkSession, path: String, staging: String, df: DataFrame,
                 coalesce1: Boolean = true, partitionByCols: Seq[String] = Nil): Unit = {
    val f = FsUtils.fs(spark, path)
    val dst = new Path(path)
    if (f.exists(dst)) return
    val w = (if (coalesce1) df.coalesce(1) else df).write.mode("overwrite")
    (if (partitionByCols.nonEmpty) w.partitionBy(partitionByCols: _*) else w)
      .parquet(staging)
    f.mkdirs(dst.getParent)
    FsUtils.renameOrThrow(f, new Path(staging), dst)
    spark.catalog.refreshByPath(dst.getParent.toString)
  }

  /** Commit one batch's rows as `root/batch=<id>` through
    * `<root>.tmp-batch-<id>` ([[commitOnce]]): a replay of a committed
    * batch id is skipped, every step before the rename replays
    * deterministically. */
  def commitBatchDir(spark: SparkSession, root: String, batchId: Long, df: DataFrame,
                     coalesce1: Boolean = true, partitionByCols: Seq[String] = Nil): Unit =
    commitOnce(spark, s"$root/batch=$batchId", s"$root.tmp-batch-$batchId", df,
      coalesce1, partitionByCols)

  /** A state table read with its known schema (no schema-inference job)
    * after [[healSwaps]]; `None` when the table does not exist yet. */
  def readKnown(spark: SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType): Option[DataFrame] = {
    healSwaps(spark, path)
    if (FsUtils.fs(spark, path).exists(new Path(path)))
      Some(spark.read.schema(schema).parquet(path))
    else None
  }

  /** [[readKnown]], with a missing table read as empty. */
  def readKnownOrEmpty(spark: SparkSession, path: String,
                       schema: org.apache.spark.sql.types.StructType): DataFrame =
    readKnown(spark, path, schema).getOrElse(
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema))

  /** Swap a whole dir into place through `path.tmp` ([[swapDir]] with
    * the default tmp). */
  def swapDir(spark: SparkSession, path: String)(write: String => Unit): Unit =
    swapDir(spark, path, path + ".tmp")(write)

  /** The one whole-dir swap: heal an interrupted earlier swap ([[healSwap]]
    * — a tmp that is the sole copy lands, never dropped), clear a stale
    * `tmp` left by a swap that crashed before its delete, run `write(tmp)`,
    * then delete `path` and rename `tmp` over it. `path` is deleted only
    * after `write` returns, so a crash before that point leaves `path`
    * intact and its stale tmp is cleared on the next call; a crash inside
    * delete-and-rename leaves `path` missing and a finished `tmp`, which
    * the next reader's heal lands. `write` may read `path`: it is still
    * whole while `write` runs. */
  def swapDir(spark: SparkSession, path: String, tmp: String)(
      write: String => Unit): Unit = {
    val f = FsUtils.fs(spark, path)
    healSwap(spark, path, tmp)
    f.delete(new Path(tmp), true)
    write(tmp)
    replaceDir(f, new Path(tmp), new Path(path))
    spark.catalog.refreshByPath(path)
  }

  /** Temp-swap `df` into place at `path` ([[swapDir]]) — the single-rename
    * MV rewrite every keyed-state stream shares. `subdir` writes the rows
    * one level down (`batch=<max>`: a compacted log keeps a uniform
    * `batch=` layout for partition discovery). */
  def swapWrite(spark: SparkSession, path: String, df: DataFrame,
                coalesce1: Boolean = true, subdir: Option[String] = None): Unit =
    swapDir(spark, path) { tmp =>
      (if (coalesce1) df.coalesce(1) else df)
        .write.mode("overwrite").parquet(subdir.fold(tmp)(d => s"$tmp/$d"))
    }

  /** The delete-then-rename step of every swap; its crash window is what
    * [[healSwap]] and [[healPartitions]] close. */
  private def replaceDir(f: FileSystem, src: Path, dst: Path): Unit = {
    f.delete(dst, true)
    FsUtils.renameOrThrow(f, src, dst)
  }

  // --- partition swaps: rewrite some leaf partitions of a table in place ---

  /** Staging root of a partition swap on `root`. Its name differs from the
    * whole-dir `root.tmp`, so a [[swapDir]]'s stale-tmp delete can never
    * drop a partition orphan. Outside the table root: a staged leaf inside
    * it would be discovered as an extra partition value. */
  def partitionStaging(root: String): String = s"$root.parts-tmp"

  /** Leaf partition dirs (`=`-named, at any depth — `partitionBy("d", "t")`
    * puts the files two levels down) under `root`, each with its path
    * relative to `root`. Empty for a missing root. */
  def leafDirs(spark: SparkSession, root: String): Seq[(String, Path)] = {
    val f = FsUtils.fs(spark, root)
    val base = new Path(root)
    def walk(dir: Path): Seq[Path] =
      f.listStatus(dir).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .flatMap { st =>
          val deeper = walk(st.getPath)
          if (deeper.isEmpty) Seq(st.getPath) else deeper
        }
    if (!f.exists(base)) return Nil
    // URI paths of qualified paths on both sides: listStatus returns
    // scheme-qualified paths (file:/…) while `root` may be bare, and a
    // failed strip would leave an ABSOLUTE "relative" path that resolves
    // to the partition itself
    val b = f.makeQualified(base).toUri.getPath
    walk(base).map { p =>
      val c = f.makeQualified(p).toUri.getPath
      require(c.startsWith(b + "/"), s"$p not under $root")
      (c.stripPrefix(b + "/"), p)
    }
  }

  /** Restore leaf partitions orphaned by a crash inside [[landPartitions]]
    * (the leaf exists under the staging root but not under `root`), then
    * drop the staging root. Call before reading `root`. */
  def healPartitions(spark: SparkSession, root: String): Unit = {
    val f = FsUtils.fs(spark, root)
    val staging = partitionStaging(root)
    leafDirs(spark, staging).foreach { case (rel, src) =>
      val dst = new Path(new Path(root), rel)
      if (!f.exists(dst)) {
        f.mkdirs(dst.getParent)
        FsUtils.renameOrThrow(f, src, dst)
      }
    }
    f.delete(new Path(staging), true)
  }

  /** Land every leaf partition written under [[partitionStaging]] over its
    * twin in `root` (delete-and-rename per leaf), drop the staging root and
    * refresh `root`. Partitions not staged are never listed, read or
    * moved. */
  def landPartitions(spark: SparkSession, root: String): Unit = {
    val f = FsUtils.fs(spark, root)
    val staging = partitionStaging(root)
    leafDirs(spark, staging).foreach { case (rel, src) =>
      val dst = new Path(new Path(root), rel)
      f.mkdirs(dst.getParent)
      replaceDir(f, src, dst)
    }
    f.delete(new Path(staging), true)
    spark.catalog.refreshByPath(root)
  }

  /** Unpersist a localCheckpoint'ed frame's backing RDD (the per-batch
    * cached-block hygiene every fold shares). */
  def release(df: DataFrame): Unit =
    org.apache.spark.sql.graft.DatasetInternals.checkpointedRdd(df)
      .foreach(_.unpersist(blocking = false))
}
