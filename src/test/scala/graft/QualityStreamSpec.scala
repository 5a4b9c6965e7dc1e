package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Quality
import graft.operators.Quality._
import graft.streaming.QualityStream

class QualityStreamSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    tempDir("graft-quality-stream")

  private def docs = Tables.documents(spark, Sf0001)

  // frozen dimension snapshot (the RI contract) + every check kind
  private def sourceDim = Seq("web", "books", "wiki", "code").toDF("s_name")
  private def checks: Seq[Check] = Seq(
    NotNull("doc_id"),
    Unique("doc_id"),
    Unique("source"),                       // tiny cardinality: exact θ regime
    InRange("n_chars", 0.0, 1e7),
    AcceptedValues("lang", Seq("en", "de", "fr", "es", "zh")),
    MatchesPattern("source", "^[a-z]+$"),
    RefIntegrity("source", "s_name", "dim"),
    NotNull("lang", maxViolFrac = 0.5))
  private def refs = Map("dim" -> sourceDim)

  private def splits(df: DataFrame, n: Int): Seq[DataFrame] =
    (0 until n).map(i => df.filter(pmod(col("doc_id"), lit(n)) === i))

  test("folded report ≡ one-shot validateTheta, any batching (bitwise)") {
    val oneShot = Quality.validateTheta(docs, checks, refs).collect().toSeq
    for (nB <- Seq(1, 3, 5)) {
      val st = tmp()
      splits(docs, nB).zipWithIndex.foreach { case (b, i) =>
        assert(QualityStream.applyBatch(spark, b, i, st, checks, refs))
      }
      val got = QualityStream.currentReport(spark, st, checks).collect().toSeq
      assert(got == oneShot, s"batching $nB diverged")
    }
  }

  test("θ-unique agrees with exact validate at gate cardinality") {
    // distinct(doc_id) and distinct(source) both ≪ k=1024 → exact regime
    val theta = Quality.validateTheta(docs, checks, refs).collect()
      .map(r => (r.getLong(0), r.getLong(4))).toSeq
    val exact = Quality.validate(docs, checks, refs).collect()
      .map(r => (r.getLong(0), r.getLong(4))).toSeq
    assert(theta === exact)
  }

  test("KMV overflow regime still folds bitwise (k < distinct count)") {
    val oneShot = Quality.validateTheta(docs, Seq(Unique("doc_id")),
      thetaK = 16).collect().toSeq
    val st = tmp()
    splits(docs, 3).zipWithIndex.foreach { case (b, i) =>
      QualityStream.applyBatch(spark, b, i, st, Seq(Unique("doc_id")),
        thetaK = 16) }
    assert(QualityStream.currentReport(spark, st, Seq(Unique("doc_id")),
      thetaK = 16).collect().toSeq == oneShot)
    // and the estimate is a real estimate: nonzero violations reported
    // against nn would be wrong only if the estimator collapsed
    val est = oneShot.head.getLong(4)
    assert(est < 100, s"estimate drifted far: $est") // |est error| bounded
  }

  test("a cross-batch duplicate IS caught (uniqueness is global, not per-batch)") {
    val st = tmp()
    val b0 = docs.filter(col("doc_id") < 50)
    // batch 1 re-ingests ten of batch 0's ids: per-batch uniqueness would
    // miss all ten; the folded sketch + nn must see them
    val b1 = docs.filter(col("doc_id") >= 50 && col("doc_id") < 100)
      .unionByName(b0.filter(col("doc_id") < 10))
    QualityStream.applyBatch(spark, b0, 0, st, Seq(Unique("doc_id")))
    QualityStream.applyBatch(spark, b1, 1, st, Seq(Unique("doc_id")))
    val r = QualityStream.currentReport(spark, st, Seq(Unique("doc_id")))
      .collect().head
    assert(r.getLong(4) === 10L && !r.getBoolean(6))
  }

  test("replay no-op; compaction lossless; folded replays skipped") {
    val st = tmp()
    val bs = splits(docs, 4)
    bs.zipWithIndex.foreach { case (b, i) =>
      QualityStream.applyBatch(spark, b, i, st, checks, refs) }
    val before = QualityStream.currentReport(spark, st, checks).collect().toSeq
    assert(!QualityStream.applyBatch(spark, bs(1), 1, st, checks, refs))
    QualityStream.compactState(spark, st)
    assert(QualityStream.currentReport(spark, st, checks).collect().toSeq == before)
    assert(QualityStream.foldedUpto(spark, st) == 3L)
    assert(!QualityStream.applyBatch(spark, bs(2), 2, st, checks, refs))
    assert(QualityStream.currentReport(spark, st, checks).collect().toSeq == before)
  }

  test("file-source stream end-to-end folds to the one-shot report") {
    val st = tmp(); val in = tmp(); val cp = tmp()
    val bs = splits(docs, 3)
    val q = QualityStream.runFileStream(spark, in, st, cp,
      schemaFrom = docs, checks = checks, refs = refs,
      autoCompactBatches = 2)
    try {
      bs.foreach { b =>
        b.write.mode("append").parquet(in)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(QualityStream.currentReport(spark, st, checks).collect().toSeq ==
      Quality.validateTheta(docs, checks, refs).collect().toSeq)
  }
}
