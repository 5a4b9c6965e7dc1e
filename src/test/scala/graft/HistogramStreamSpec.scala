package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Profile
import graft.streaming.HistogramStream

class HistogramStreamSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val cols = Seq("doc_id", "n_chars")
  private val K = 16

  private def tmp(): String =
    tempDir("graft-hist-stream")

  private def docs = Tables.documents(spark, Sf0001)

  private def splits(df: DataFrame, n: Int): Seq[DataFrame] =
    (0 until n).map(i => df.filter(pmod(col("doc_id"), lit(n)) === i))

  private def freeze(st: String): Unit =
    HistogramStream.ensureGrid(spark, st, Profile.histogramGrid(docs, cols), K)

  test("frozen-grid fold ≡ one-shot histogram, any batching") {
    val oneShot = Profile.histogram(docs, cols, K).collect().toSeq
    for (nB <- Seq(1, 3, 5)) {
      val st = tmp(); freeze(st)
      splits(docs, nB).zipWithIndex.foreach { case (b, i) =>
        assert(HistogramStream.applyBatch(spark, b, i, st))
      }
      val got = HistogramStream.currentHistogram(spark, st).collect().toSeq
      assert(got == oneShot, s"batching $nB diverged")
    }
  }

  test("replay no-op; compaction lossless; folded replays skipped") {
    val st = tmp(); freeze(st)
    val bs = splits(docs, 4)
    bs.zipWithIndex.foreach { case (b, i) =>
      HistogramStream.applyBatch(spark, b, i, st) }
    val before = HistogramStream.currentHistogram(spark, st).collect().toSeq
    assert(!HistogramStream.applyBatch(spark, bs(1), 1, st))
    HistogramStream.compactState(spark, st)
    assert(HistogramStream.currentHistogram(spark, st).collect().toSeq == before)
    assert(HistogramStream.foldedUpto(spark, st) == 3L)
    assert(!HistogramStream.applyBatch(spark, bs(2), 2, st))
    assert(HistogramStream.currentHistogram(spark, st).collect().toSeq == before)
  }

  test("out-of-grid drift clamps to edge buckets and shows in edgeMass") {
    val st = tmp(); freeze(st)
    assert(HistogramStream.applyBatch(spark, docs, 0, st))
    val calmEdge = HistogramStream.edgeMass(spark, st)
      .filter(col("col_name") === "n_chars").head().getDouble(1)
    // a drifted batch: n_chars far beyond the frozen grid's max
    val drifted = docs.limit(50)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("n_chars", col("n_chars") + 1000000L)
    assert(HistogramStream.applyBatch(spark, drifted, 1, st))
    val h = HistogramStream.currentHistogram(spark, st)
    // every drifted n_chars value clamped into the LAST bucket
    val last = h.filter(col("col_name") === "n_chars" && col("bucket") === (K - 1).toLong)
      .head().getLong(4)
    assert(last >= 50, s"drift not clamped to the edge: $last")
    val driftEdge = HistogramStream.edgeMass(spark, st)
      .filter(col("col_name") === "n_chars").head().getDouble(1)
    assert(driftEdge > calmEdge, "edge mass did not grow under drift")
  }

  test("grid persists: a second ensureGrid with different bounds is ignored") {
    val st = tmp(); freeze(st)
    val g1 = HistogramStream.activeGrid(spark, st)
    val other = cols.map(c => c -> Some((0.0, 1.0)))
    val won = HistogramStream.ensureGrid(spark, st, other, K)
    assert(won == g1._1, "persisted grid must be authoritative")
    assert(HistogramStream.activeGrid(spark, st) == g1)
  }

  test("file-source stream end-to-end folds to the one-shot histogram") {
    val st = tmp(); val in = tmp(); val cp = tmp()
    freeze(st)
    val bs = splits(docs, 3)
    val q = HistogramStream.runFileStream(spark, in, st, cp,
      schemaFrom = docs, autoCompactBatches = 2)
    try {
      bs.foreach { b =>
        b.write.mode("append").parquet(in)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(HistogramStream.currentHistogram(spark, st).collect().toSeq ==
      Profile.histogram(docs, cols, K).collect().toSeq)
  }
}
