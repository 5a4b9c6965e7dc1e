package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.StateLog

/** Direct contract spec for the extracted commit discipline (round 15) —
  * the per-stream specs cover it transitively through every operator; this
  * pins the HELPER's own invariants so a future edit can't weaken one
  * corner of the contract without a focused failure here. */
class StateLogSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-statelog").toString

  private def log(st: String) = new StateLog(spark, st, "cnt")

  private def empty: DataFrame =
    spark.range(0).select(col("id").as("k"), col("id").as("n"))

  private def batch(rows: (Long, Long)*): DataFrame = rows.toDF("k", "n")

  private def folded(st: String): Map[Long, Long] =
    log(st).read(Seq("k", "n"), empty)
      .groupBy("k").agg(sum("n").as("n"))
      .as[(Long, Long)].collect().toMap

  test("commit + read: batch dirs accumulate; empty fallbacks cover missing dir") {
    val st = tmp()
    assert(log(st).read(Seq("k", "n"), empty).count() == 0)
    assert(log(st).foldedUpto() == -1L)
    assert(!log(st).alreadyApplied(0))
    log(st).commitBatch(batch(1L -> 2L, 2L -> 3L), 0)
    log(st).commitBatch(batch(1L -> 5L), 1)
    assert(folded(st) == Map(1L -> 7L, 2L -> 3L))
    assert(log(st).batchDirCount() == 2 && log(st).maxBatchId() == 1L)
  }

  test("alreadyApplied: dir presence OR foldmeta watermark") {
    val st = tmp()
    log(st).commitBatch(batch(1L -> 1L), 0)
    assert(log(st).alreadyApplied(0))
    assert(!log(st).alreadyApplied(1))
    log(st).compact(_.groupBy("k").agg(sum("n").as("n")))
    // dir 0 is gone (folded into batch=-1), but the watermark covers it
    assert(log(st).foldedUpto() == 0L)
    assert(log(st).alreadyApplied(0))
    assert(!log(st).alreadyApplied(1))
  }

  test("compact: watermark-before-swap, batch=-1 participates in reads, lossless") {
    val st = tmp()
    (0 to 3).foreach(i => log(st).commitBatch(batch(i.toLong -> 1L, 9L -> 1L), i))
    val before = folded(st)
    log(st).compact(_.groupBy("k").agg(sum("n").as("n")))
    assert(folded(st) == before)
    assert(log(st).batchDirCount() == 1) // only batch=-1
    assert(log(st).maxBatchId() == -1L)  // nothing foldable remains
    // idempotent: second compact with nothing to fold is a no-op
    log(st).compact(_.groupBy("k").agg(sum("n").as("n")))
    assert(folded(st) == before && log(st).foldedUpto() == 3L)
    // post-compaction appends fold together with batch=-1
    log(st).commitBatch(batch(9L -> 1L), 4)
    assert(folded(st)(9L) == 5L)
  }

  test("compact(watermark = false) writes no foldmeta (idempotent-fold streams)") {
    val st = tmp()
    log(st).commitBatch(batch(1L -> 1L), 0)
    log(st).compact(_.select("k", "n").distinct(), watermark = false)
    assert(log(st).foldedUpto() == -1L)
    assert(folded(st) == Map(1L -> 1L))
  }

  test("compact(skipAboveWatermark) refuses to fold an uncommitted append") {
    val st = tmp()
    log(st).commitBatch(batch(1L -> 1L), 0)
    log(st).commitBatch(batch(1L -> 1L), 1) // "uncommitted": above the MV watermark
    log(st).compact(_.groupBy("k").agg(sum("n").as("n")),
      watermark = false, skipAboveWatermark = Some(0L))
    assert(log(st).batchDirCount() == 2, "fold must be skipped")
    log(st).compact(_.groupBy("k").agg(sum("n").as("n")),
      watermark = false, skipAboveWatermark = Some(1L))
    assert(log(st).batchDirCount() == 1)
    assert(folded(st) == Map(1L -> 2L))
  }

  test("recoverSwaps heals the delete-then-rename crash window (log, foldmeta, sidecar)") {
    val st = tmp()
    log(st).commitBatch(batch(1L -> 4L), 0)
    val fs = graft.functions.FsUtils.fs(spark, st)
    def crashSwap(path: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      val t = new org.apache.hadoop.fs.Path(path + ".tmp")
      graft.functions.FsUtils.renameOrThrow(fs, p, t) // dst missing, tmp sole copy
    }
    crashSwap(s"$st/cnt")
    assert(folded(st) == Map(1L -> 4L), "log heal failed")
    log(st).compact(_.groupBy("k").agg(sum("n").as("n")))
    crashSwap(s"$st/foldmeta")
    assert(log(st).foldedUpto() == 0L, "foldmeta heal failed")
    // registered sidecars heal through the same preamble
    val lg = new StateLog(spark, st, "cnt", sidecarNames = Seq("grid"))
    Seq((1L, 2L)).toDF("a", "b").write.parquet(s"$st/grid")
    crashSwap(s"$st/grid")
    lg.recoverSwaps()
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$st/grid")), "sidecar heal failed")
  }

  test("commitBatch crash window: a .tmp-batch orphan is overwritten by the replay") {
    val st = tmp()
    val fs = graft.functions.FsUtils.fs(spark, st)
    // simulate a crash AFTER the tmp write but BEFORE the rename: the
    // orphan must not be visible to reads, and the replay must overwrite
    // it and commit normally (the rename is the commit point)
    batch(1L -> 99L).coalesce(1).write.mode("overwrite")
      .parquet(s"$st/cnt.tmp-batch-0")
    assert(!log(st).alreadyApplied(0), "an orphan tmp is NOT a commit")
    assert(log(st).read(Seq("k", "n"), empty).count() == 0,
      "orphan tmp leaked into reads")
    log(st).commitBatch(batch(1L -> 4L), 0)
    assert(folded(st) == Map(1L -> 4L), "replay did not supersede the orphan")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$st/cnt.tmp-batch-0")))
  }

  test("swapWrite: atomic MV rewrite readable after an interrupted swap") {
    val st = tmp()
    val path = s"$st/mv"
    StateLog.swapWrite(spark, path, batch(1L -> 1L))
    StateLog.swapWrite(spark, path, batch(2L -> 2L))
    assert(spark.read.parquet(path).as[(Long, Long)].collect().toSeq == Seq((2L, 2L)))
  }

  test("maybeAutoCompact triggers only above the limit; 0 disables") {
    val st = tmp()
    var fired = 0
    (0 to 4).foreach { i =>
      log(st).commitBatch(batch(1L -> 1L), i)
      log(st).maybeAutoCompact(3) { fired += 1; log(st).compact(
        _.groupBy("k").agg(sum("n").as("n"))) }
      log(st).maybeAutoCompact(0) { fired += 100 }
    }
    assert(fired >= 1 && fired < 100)
    assert(folded(st) == Map(1L -> 5L))
  }

  test("read(uptoBatch) bounds batch dirs; batch=-1 participates in bounded reads") {
    val st = tmp()
    (0 to 2).foreach(i => log(st).commitBatch(batch(i.toLong -> 1L), i))
    def upto(b: Long) = log(st).read(Seq("k", "n"), empty, uptoBatch = b)
      .as[(Long, Long)].collect().toMap
    assert(upto(1L) == Map(0L -> 1L, 1L -> 1L))
    log(st).compact(_.groupBy("k").agg(sum("n").as("n")))
    // the documented post-compaction caveat: -1 ≤ everything
    assert(upto(0L) == Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
  }

  test("recoverSwaps deletes an unfinished tmp instead of landing it") {
    val st = tmp()
    val fs = graft.functions.FsUtils.fs(spark, st)
    log(st).commitBatch(batch(1L -> 4L), 0)
    // a crash during the first watermark write, before its job committed:
    // only the staging dir exists
    assert(fs.mkdirs(new org.apache.hadoop.fs.Path(s"$st/foldmeta.tmp/_temporary/0")))
    assert(!log(st).alreadyApplied(1))
    assert(log(st).foldedUpto() == -1L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$st/foldmeta.tmp")))
    // the same for a real first swapWrite that dies at its job commit
    intercept[Exception](CrashingCommitProtocol.during(spark, "mv.tmp")(
      StateLog.swapWrite(spark, s"$st/mv", batch(1L -> 1L))))
    assert(StateLog.readKnown(spark, s"$st/mv", batch().schema).isEmpty)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$st/mv.tmp")))
  }

  test("job budget: alreadyApplied reads the fold watermark without a Spark job") {
    val st = tmp()
    val lg = log(st)
    (0 to 1).foreach(i => lg.commitBatch(batch(1L -> 1L), i))
    lg.compact(_.groupBy("k").agg(sum("n").as("n")))
    lg.commitBatch(batch(1L -> 1L), 2)
    var applied = Seq.empty[Boolean]
    assert(jobsOf { applied = Seq(0L, 2L, 3L).map(lg.alreadyApplied) } == 0)
    assert(applied == Seq(true, true, false))
  }

  test("tombstone verbs commit once: a re-call for a committed batch id changes nothing") {
    val st = tmp()
    def files(dir: String): Seq[(String, Long, Long)] =
      new java.io.File(dir).listFiles().toSeq
        .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1)
    def ids(n: Long*) = n.toDF("id")
    streaming.EmbeddingIndexStream.tombstone(spark, ids(1L, 2L), 3L, st)
    streaming.LexStatsStream.tombstoneDocRows(spark,
      ids(1L, 2L).select(col("id").as("doc_id"), lit(3L).as("ceiling")), 3L, st)
    val committed = Seq(s"$st/.tombstones/batch=3", s"$st/.lextomb/batch=3").map(files)
    streaming.EmbeddingIndexStream.tombstone(spark, ids(9L), 3L, st)
    streaming.LexStatsStream.tombstoneDocRows(spark,
      ids(9L).select(col("id").as("doc_id"), lit(3L).as("ceiling")), 3L, st)
    assert(Seq(s"$st/.tombstones/batch=3", s"$st/.lextomb/batch=3").map(files) == committed)
    assert(streaming.EmbeddingIndexStream.tombstoneIds(spark, st)
      .as[Long].collect().toSet == Set(1L, 2L))
  }
}
