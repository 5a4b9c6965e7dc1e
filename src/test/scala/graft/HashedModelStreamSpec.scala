package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.HashedModel
import graft.streaming.HashedModelStream

class HashedModelStreamSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def tmp(): String = tempDir("hmstream")
  private def docs = Tables.documents(spark, Sf0001).filter($"doc_id" < 300)
  private val xx = (c: org.apache.spark.sql.Column) => xxhash64(c)

  private def report(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("doc_id")
      .as[(Long, Long, Double, Double, Long, Option[Double], Option[Double])]
      .collect().toSeq

  private def batchAnswer = report(
    HashedModelStream.scoreWith(
      HashedModel.trainModelStack(docs, hashFn = xx), docs))

  private def streamAnswer(state: String) = report(
    HashedModelStream.currentScores(spark, state, docs, hashFn = xx))

  private def foldAll(state: String, out: Option[String] = None,
                      mod: Int = 3, compactAfter: Int = 0): Unit =
    for (b <- 0 until mod) {
      HashedModelStream.applyBatch(spark, docs.filter($"doc_id" % mod === b),
        b.toLong, state, out, hashFn = xx)
      if (compactAfter > 0 && b == compactAfter)
        HashedModelStream.compactState(spark, state)
    }

  test("currentScores over the union is bit-identical to one-shot training, any batching") {
    for (mod <- Seq(1, 3)) {
      val state = tmp()
      foldAll(state, mod = mod)
      assert(streamAnswer(state) == batchAnswer, s"mod=$mod")
    }
  }

  test("state dirs with spaces work (FsUtils parses paths leniently, not via java.net.URI)") {
    // regression pin for the shared-helper fix: a strict URI parse threw
    // URISyntaxException on entry for any state path containing a space
    val state = tempDir("hm stream spaced")
    assert(state.contains(" "))
    foldAll(state)
    assert(streamAnswer(state) == batchAnswer)
    HashedModelStream.compactState(spark, state)
    assert(streamAnswer(state) == batchAnswer)
  }

  test("replay of a folded batch is skipped; counts never double") {
    val state = tmp()
    foldAll(state)
    val applied = HashedModelStream.applyBatch(spark,
      docs.filter($"doc_id" % 3 === 1), 1L, state, None, hashFn = xx)
    assert(!applied, "replay must short-circuit on the committed counts dir")
    assert(streamAnswer(state) == batchAnswer)
  }

  test("replay AFTER compaction is skipped via the fold watermark") {
    val state = tmp()
    foldAll(state)
    HashedModelStream.compactState(spark, state)
    assert(HashedModelStream.foldedUpto(spark, state) == 2L)
    // the batch dirs are gone — without the watermark this replay would
    // re-append counts the fold already absorbed (model weights would shift)
    val applied = HashedModelStream.applyBatch(spark,
      docs.filter($"doc_id" % 3 === 0), 0L, state, None, hashFn = xx)
    assert(!applied, "post-compaction replay must short-circuit on foldmeta")
    assert(streamAnswer(state) == batchAnswer)
  }

  test("mid-stream compaction preserves the union answer; new batches keep folding") {
    val state = tmp()
    foldAll(state, compactAfter = 1)
    assert(streamAnswer(state) == batchAnswer)
  }

  test("per-batch output: own docs scored against the model as of their batch") {
    val state = tmp(); val out = tmp()
    foldAll(state, Some(out))
    // batch 0's docs were scored by the model trained on batch 0 alone
    val b0docs = docs.filter($"doc_id" % 3 === 0)
    val b0 = report(spark.read.parquet(s"$out/batch=0").drop("batch"))
    val expect0 = report(HashedModelStream.scoreWith(
      HashedModel.trainModelStack(b0docs, hashFn = xx), b0docs))
    assert(b0 == expect0)
    // the last batch's docs see the whole corpus: rows must agree with the
    // union answer restricted to those docs
    val b2ids = docs.filter($"doc_id" % 3 === 2).select("doc_id").as[Long].collect().toSet
    val b2 = report(spark.read.parquet(s"$out/batch=2").drop("batch"))
    assert(b2 == batchAnswer.filter(r => b2ids.contains(r._1)))
  }

  test("file-source end-to-end matches one-shot training over the union") {
    val in = tmp(); val state = tmp(); val out = tmp(); val ckpt = tmp()
    val q = HashedModelStream.runFileStream(spark, in, state, out, ckpt,
      schemaFrom = docs, autoCompactBatches = 2)
    try {
      for (b <- 0 to 2) {
        docs.filter($"doc_id" % 3 === b).coalesce(1)
          .write.mode("append").parquet(in)
        q.processAllAvailable()
      }
    } finally q.stop()
    // runFileStream uses the production default hash (xxhash64) — compare
    // against a batch answer trained with the same
    assert(streamAnswer(state) == batchAnswer)
    // per-batch scored outputs exist for every folded batch
    assert((0 to 2).forall(b =>
      spark.read.parquet(s"$out/batch=$b").count() > 0))
  }

  test("crash windows: lost commit marker re-folds; interrupted swap heals") {
    val state = tmp(); val out = tmp()
    foldAll(state, Some(out))
    val fs = graft.functions.FsUtils.fs(spark, state)
    // out written but counts dir lost -> replay recomputes both, same bytes
    fs.delete(new org.apache.hadoop.fs.Path(s"$state/counts/batch=2"), true)
    val outBefore = report(spark.read.parquet(s"$out/batch=2").drop("batch"))
    val applied = HashedModelStream.applyBatch(spark,
      docs.filter($"doc_id" % 3 === 2), 2L, state, Some(out), hashFn = xx)
    assert(applied, "lost commit marker must re-fold")
    assert(report(spark.read.parquet(s"$out/batch=2").drop("batch")) == outBefore)
    assert(streamAnswer(state) == batchAnswer)
    // crash INSIDE the compaction swap: .tmp orphan heals on next access
    HashedModelStream.compactState(spark, state)
    val c = new org.apache.hadoop.fs.Path(s"$state/counts")
    val t = new org.apache.hadoop.fs.Path(s"$state/counts.tmp")
    assert(fs.rename(c, t)) // out missing + tmp present == the crash window
    assert(streamAnswer(state) == batchAnswer)
    assert(fs.exists(c) && !fs.exists(t))
  }

  test("currentCalibration over the folded stack equals batch calibration exactly") {
    val st = tmp()
    foldAll(st)
    val streamed = HashedModelStream.currentCalibration(spark, st, docs, hashFn = xx)
      .collect().toSeq
    val oneShot = HashedModel.calibrationOf(docs, "en",
      HashedModel.trainModelStack(docs, hashFn = xx)._1).collect().toSeq
    assert(streamed == oneShot && streamed.nonEmpty)
  }
}
