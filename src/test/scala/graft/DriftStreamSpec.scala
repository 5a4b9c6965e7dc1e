package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Monitor, Profile}
import graft.streaming.DriftStream

class DriftStreamSpec extends AnyFunSuite with SparkSuite {

  private val K = 16

  private def tmp(): String =
    tempDir("graft-drift-stream")

  private def docs = Tables.documents(spark, Sf0001)

  private def splits(df: DataFrame, n: Int): Seq[DataFrame] =
    (0 until n).map(i => df.filter(pmod(col("doc_id"), lit(n)) === i))

  private def freeze(st: String): Unit =
    DriftStream.ensureGrid(spark, st,
      Profile.histogramGrid(docs, Seq("n_chars")).head._2, K)

  test("frozen-grid fold ≡ one-shot sourceDrift, any batching") {
    val oneShot = Monitor.sourceDrift(docs, nBuckets = K).collect().toSeq
    for (nB <- Seq(1, 3, 5)) {
      val st = tmp(); freeze(st)
      splits(docs, nB).zipWithIndex.foreach { case (b, i) =>
        assert(DriftStream.applyBatch(spark, b, i, st))
      }
      val got = DriftStream.currentDrift(spark, st).collect().toSeq
      assert(got == oneShot, s"batching $nB diverged")
    }
  }

  test("replay no-op; compaction lossless; folded replays skipped") {
    val st = tmp(); freeze(st)
    val bs = splits(docs, 4)
    bs.zipWithIndex.foreach { case (b, i) =>
      DriftStream.applyBatch(spark, b, i, st) }
    val before = DriftStream.currentDrift(spark, st).collect().toSeq
    assert(!DriftStream.applyBatch(spark, bs(1), 1, st))
    DriftStream.compactState(spark, st)
    assert(DriftStream.currentDrift(spark, st).collect().toSeq == before)
    assert(DriftStream.foldedUpto(spark, st) == 3L)
    assert(!DriftStream.applyBatch(spark, bs(2), 2, st))
    assert(DriftStream.currentDrift(spark, st).collect().toSeq == before)
  }

  test("out-of-grid drifted source clamps to the edge and reads as shifted") {
    val st = tmp(); freeze(st)
    assert(DriftStream.applyBatch(spark, docs, 0, st))
    // a NEW source arriving entirely beyond the frozen grid: every value
    // clamps into the last bucket — the clamp must FEED the PSI signal
    val drifted = docs.filter(col("doc_id") < 100)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("source", lit("rogue"))
      .withColumn("n_chars", col("n_chars") + 1000000L)
    assert(DriftStream.applyBatch(spark, drifted, 1, st))
    val psi = DriftStream.currentDrift(spark, st).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(psi("rogue") > 0.25, s"clamped drift not flagged: ${psi("rogue")}")
    // and the fold still equals the one-shot over the union under the
    // same frozen grid (union min/max ≠ frozen grid, so compare via the
    // state/finish halves, not sourceDrift's self-derived grid)
    val union = docs.unionByName(drifted)
    val grid = Profile.histogramGrid(docs, Seq("n_chars")).head._2
    val oneShot = Monitor.finishDrift(
      Monitor.driftState(union, grid, K), K).collect().toSeq
    assert(DriftStream.currentDrift(spark, st).collect().toSeq == oneShot)
  }

  test("grid persists: a second ensureGrid with different bounds is ignored") {
    val st = tmp(); freeze(st)
    val g1 = DriftStream.activeGrid(spark, st)
    val won = DriftStream.ensureGrid(spark, st, Some((0.0, 1.0)), 8,
      valueCol = "other", sourceCol = "other_src")
    assert(won == g1, "persisted grid must be authoritative")
    assert(DriftStream.activeGrid(spark, st) == g1)
  }

  test("file-source stream end-to-end folds to the one-shot drift") {
    val st = tmp(); val in = tmp(); val cp = tmp()
    freeze(st)
    val bs = splits(docs, 3)
    val q = DriftStream.runFileStream(spark, in, st, cp,
      schemaFrom = docs, autoCompactBatches = 2)
    try {
      bs.foreach { b =>
        b.write.mode("append").parquet(in)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(DriftStream.currentDrift(spark, st).collect().toSeq ==
      Monitor.sourceDrift(docs, nBuckets = K).collect().toSeq)
  }
}
