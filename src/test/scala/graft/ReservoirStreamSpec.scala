package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Sampling
import graft.streaming.ReservoirStream

/** The streaming weighted reservoir's contract is exact batch equality:
  * because the A-ES race key is a pure function of the doc, the folded
  * sample must equal [[Sampling.sampleWeightedOf]] over the union of all
  * batches under ANY split, arrival order, redelivery, or compaction
  * schedule. */
class ReservoirStreamSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val N = 25

  private def sample(stateDir: String) =
    ReservoirStream.currentSample(spark, stateDir, N)
      .as[(String, Long, Long, Long)].collect().toSeq

  private def batchTwin() =
    Sampling.sampleWeightedOf(Tables.documents(spark, Sf0001), N)
      .as[(String, Long, Long, Long)].collect().toSeq

  test("any batch split and arrival order folds to the exact batch sample") {
    val docs = Tables.documents(spark, Sf0001)
    val expected = batchTwin()
    // id-ordered split AND a deliberately scrambled one (split by id mod 3,
    // fed largest-first) — both must land on the identical sample
    val splits = Seq(
      Seq(col("doc_id") < 150, col("doc_id") >= 150 && col("doc_id") < 300,
        col("doc_id") >= 300),
      Seq(pmod(col("doc_id"), lit(3)) === 2, pmod(col("doc_id"), lit(3)) === 0,
        pmod(col("doc_id"), lit(3)) === 1))
    for ((conds, si) <- splits.zipWithIndex) {
      val tmp = tempDir(s"graft-res$si")
      conds.zipWithIndex.foreach { case (c, i) =>
        ReservoirStream.applyBatch(spark, docs.filter(c), i.toLong, tmp, N)
      }
      assert(sample(tmp) == expected, s"split $si diverged")
    }
  }

  test("replay, cross-batch redelivery, and compaction never move the sample") {
    val docs = Tables.documents(spark, Sf0001)
    val expected = batchTwin()
    val tmp = tempDir("graft-res-replay")
    ReservoirStream.applyBatch(spark, docs.filter(col("doc_id") < 250), 0L, tmp, N)
    ReservoirStream.applyBatch(spark, docs.filter(col("doc_id") >= 250), 1L, tmp, N)
    assert(sample(tmp) == expected)
    // replay of an already-applied batch id: skip-if-exists no-op
    ReservoirStream.applyBatch(spark, docs.filter(col("doc_id") < 250), 0L, tmp, N)
    assert(sample(tmp) == expected)
    // redelivery of already-sampled docs under a NEW batch id: doc-level
    // dedupe (identical keys) keeps the sample fixed
    ReservoirStream.applyBatch(spark, docs.filter(col("doc_id") < 100), 2L, tmp, N)
    assert(sample(tmp) == expected)
    // compaction folds the log to its fixpoint without moving the sample,
    // and post-compaction folds still work
    ReservoirStream.compactState(spark, tmp, N)
    val state = spark.read.parquet(s"$tmp/candidates")
    assert(state.count() <= N)
    assert(sample(tmp) == expected)
    ReservoirStream.applyBatch(spark, docs.filter(col("doc_id") >= 100), 3L, tmp, N)
    assert(sample(tmp) == expected)
  }

  test("a mid-compaction crash (tmp written, dir deleted) heals on read") {
    val docs = Tables.documents(spark, Sf0001)
    val tmp = tempDir("graft-res-crash")
    ReservoirStream.applyBatch(spark, docs, 0L, tmp, N)
    val expected = sample(tmp)
    // simulate the crash window of compactState: state moved to .tmp, the
    // real dir gone
    val fs = graft.functions.FsUtils.fs(spark, tmp)
    val cand = new org.apache.hadoop.fs.Path(s"$tmp/candidates")
    val ctmp = new org.apache.hadoop.fs.Path(s"$tmp/candidates.tmp")
    assert(fs.rename(cand, ctmp))
    assert(sample(tmp) == expected) // orphan healed on read
  }

  test("a compaction after one that crashed before its swap folds only the live log") {
    val docs = Tables.documents(spark, Sf0001)
    val part = (i: Int) => docs.filter(pmod(col("doc_id"), lit(4)) === i)
    val tmp = tempDir("graft-res-stale")
    val side = tempDir("graft-res-side")
    (0 to 1).foreach { i =>
      ReservoirStream.applyBatch(spark, part(i), i.toLong, tmp, N)
      ReservoirStream.applyBatch(spark, part(i), i.toLong, side, N)
    }
    // the crash window of a compaction at maxBatch 1: its complete fold sits
    // in candidates.tmp/batch=1, the live dir not yet deleted
    ReservoirStream.compactState(spark, side, N)
    import org.apache.hadoop.fs.{FileUtil, Path}
    val fs = graft.functions.FsUtils.fs(spark, tmp)
    assert(FileUtil.copy(fs, new Path(s"$side/candidates"), fs,
      new Path(s"$tmp/candidates.tmp"), false, spark.sparkContext.hadoopConfiguration))
    (2 to 3).foreach(i => ReservoirStream.applyBatch(spark, part(i), i.toLong, tmp, N))
    ReservoirStream.compactState(spark, tmp, N)
    val dirs = fs.listStatus(new Path(s"$tmp/candidates"))
      .map(_.getPath.getName).filter(_.startsWith("batch="))
    assert(dirs.toSeq == Seq("batch=3"))
    assert(spark.read.parquet(s"$tmp/candidates").count() <= N)
    assert(sample(tmp) == batchTwin())
  }

  test("file-source streaming wrapper folds to the exact batch sample") {
    val tmp = tempDir("graft-res-stream")
    val docs = Tables.documents(spark, Sf0001)
    docs.filter(col("doc_id") < 250).coalesce(1).write.parquet(s"$tmp/in/b1")
    val q = ReservoirStream.runFileStream(spark, s"$tmp/in/*", s"$tmp/state",
      s"$tmp/ckpt", docs, N)
    try {
      q.processAllAvailable()
      docs.filter(col("doc_id") >= 250).coalesce(1).write.parquet(s"$tmp/in/b2")
      q.processAllAvailable()
    } finally q.stop()
    assert(sample(s"$tmp/state") == batchTwin())
  }

  test("in-batch duplicates cannot evict distinct docs from the sample") {
    // At-least-once delivery can land the SAME doc many times inside one
    // micro-batch. Without the in-batch dedup, N copies of the batch's top
    // race winner fill all N candidate slots, the batch's other winners
    // never reach the candidate log, and read-side doc_id dedup cannot
    // resurrect them — the folded sample silently diverges from the batch
    // twin. (This case fails on the pre-fix applyBatch.)
    val docs = Tables.documents(spark, Sf0001)
    val expected = batchTwin()
    val half = docs.filter(col("doc_id") < 250)
    val topId = Sampling.weightedRaceKeys(half)
      .orderBy(col("wkey").desc, col("doc_id"))
      .limit(1).select("doc_id").as[Long].head()
    val dup = half.filter(col("doc_id") === topId)
    val poisoned = (1 to N).foldLeft(half)((acc, _) => acc.union(dup))
    val tmp = tempDir("graft-res-dup")
    ReservoirStream.applyBatch(spark, poisoned, 0L, tmp, N)
    ReservoirStream.applyBatch(spark, docs.filter(col("doc_id") >= 250), 1L, tmp, N)
    assert(sample(tmp) == expected)
  }

  test("growth bound: state is O(n) rows per batch, not O(batch)") {
    val docs = Tables.documents(spark, Sf0001)
    val tmp = tempDir("graft-res-bound")
    (0 until 4).foreach { i =>
      ReservoirStream.applyBatch(spark,
        docs.filter(pmod(col("doc_id"), lit(4)) === i), i.toLong, tmp, N)
    }
    assert(spark.read.parquet(s"$tmp/candidates").count() <= 4L * N)
  }
}
