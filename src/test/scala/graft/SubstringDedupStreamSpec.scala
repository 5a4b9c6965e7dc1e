package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.SubstringDedup
import graft.streaming.SubstringDedupStream

class SubstringDedupStreamSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def tmp(): String = tempDir("ssdstream")
  private def docs = Tables.documents(spark, Sf0001).filter($"doc_id" < 300)
  private val L = 5

  private def report(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("doc_id")
      .as[(Long, Long, Long, Long, Double, String)].collect().toSeq

  private def batchAnswer = report(
    SubstringDedup.repeatedSpans(docs, "text", "doc_id", L))

  private def foldAll(state: String, out: Option[String] = None,
                      mod: Int = 3, compactAfter: Int = 0): Unit =
    for (b <- 0 until mod) {
      SubstringDedupStream.applyBatch(spark, docs.filter($"doc_id" % mod === b),
        b.toLong, state, out, L = L)
      if (compactAfter > 0 && b == compactAfter)
        SubstringDedupStream.compactState(spark, state)
    }

  test("currentSpans over the union equals the batch operator, any batching") {
    for (mod <- Seq(1, 3)) {
      val state = tmp()
      foldAll(state, mod = mod)
      assert(report(SubstringDedupStream.currentSpans(spark, state, docs, L))
        == batchAnswer, s"mod=$mod")
    }
  }

  test("replay of a folded batch is skipped; counts never double") {
    val state = tmp()
    foldAll(state)
    val before = report(SubstringDedupStream.currentSpans(spark, state, docs, L))
    val applied = SubstringDedupStream.applyBatch(spark,
      docs.filter($"doc_id" % 3 === 1), 1L, state, None, L = L)
    assert(!applied, "replay must short-circuit on the committed grams dir")
    assert(report(SubstringDedupStream.currentSpans(spark, state, docs, L)) == before)
  }

  test("replay AFTER compaction is skipped via the fold watermark") {
    val state = tmp()
    foldAll(state)
    SubstringDedupStream.compactState(spark, state)
    assert(SubstringDedupStream.foldedUpto(spark, state) == 2L)
    val before = report(SubstringDedupStream.currentSpans(spark, state, docs, L))
    // the batch dirs are gone — without the watermark this replay would
    // re-append counts the fold already absorbed
    val applied = SubstringDedupStream.applyBatch(spark,
      docs.filter($"doc_id" % 3 === 0), 0L, state, None, L = L)
    assert(!applied, "post-compaction replay must short-circuit on foldmeta")
    assert(report(SubstringDedupStream.currentSpans(spark, state, docs, L)) == before)
    assert(report(SubstringDedupStream.currentSpans(spark, state, docs, L)) == batchAnswer)
  }

  test("mid-stream compaction preserves the union answer; new batches keep folding") {
    val state = tmp()
    foldAll(state, compactAfter = 1)
    assert(report(SubstringDedupStream.currentSpans(spark, state, docs, L))
      == batchAnswer)
  }

  test("per-batch output: own docs only, scored against the corpus so far") {
    val state = tmp(); val out = tmp()
    foldAll(state, Some(out))
    // batch 0's docs were scored against batch 0 alone
    val b0 = report(spark.read.parquet(s"$out/batch=0").drop("batch"))
    val expect0 = report(SubstringDedup.repeatedSpans(
      docs.filter($"doc_id" % 3 === 0), "text", "doc_id", L))
    assert(b0 == expect0)
    // the last batch's docs see the whole corpus: its report rows must
    // agree with the union answer restricted to those docs
    val b2ids = docs.filter($"doc_id" % 3 === 2).select("doc_id").as[Long].collect().toSet
    val b2 = report(spark.read.parquet(s"$out/batch=2").drop("batch"))
    val unionForB2 = batchAnswer.filter(r => b2ids.contains(r._1))
    assert(b2 == unionForB2)
  }

  test("crash window: out written but grams dir lost -> replay recomputes both") {
    val state = tmp(); val out = tmp()
    foldAll(state, Some(out))
    // simulate the crash: batch 2's commit marker vanishes, out survives
    val fs = graft.functions.FsUtils.fs(spark, state)
    fs.delete(new org.apache.hadoop.fs.Path(s"$state/grams/batch=2"), true)
    val outBefore = report(spark.read.parquet(s"$out/batch=2").drop("batch"))
    val applied = SubstringDedupStream.applyBatch(spark,
      docs.filter($"doc_id" % 3 === 2), 2L, state, Some(out), L = L)
    assert(applied, "lost commit marker must re-fold")
    assert(report(spark.read.parquet(s"$out/batch=2").drop("batch")) == outBefore)
    assert(report(SubstringDedupStream.currentSpans(spark, state, docs, L))
      == batchAnswer)
  }

  test("crash INSIDE the compaction swap: .tmp orphan heals, counts never lost") {
    val state = tmp()
    foldAll(state)
    // simulate replaceDir's delete-then-rename window: grams/ deleted, the
    // fold output stranded in grams.tmp, watermark already committed
    SubstringDedupStream.compactState(spark, state)
    val fs = graft.functions.FsUtils.fs(spark, state)
    val g = new org.apache.hadoop.fs.Path(s"$state/grams")
    val t = new org.apache.hadoop.fs.Path(s"$state/grams.tmp")
    assert(fs.rename(g, t)) // out missing + tmp present == the crash window
    // the heal preamble completes the rename on the next state access
    assert(report(SubstringDedupStream.currentSpans(spark, state, docs, L))
      == batchAnswer)
    assert(fs.exists(g) && !fs.exists(t))
    // and a replay arriving FIRST (before any read) heals too
    assert(fs.rename(g, t))
    val applied = SubstringDedupStream.applyBatch(spark,
      docs.filter($"doc_id" % 3 === 1), 1L, state, None, L = L)
    assert(!applied && fs.exists(g) && !fs.exists(t))
    assert(report(SubstringDedupStream.currentSpans(spark, state, docs, L))
      == batchAnswer)
  }

  test("auto-compaction triggers on dir count and bounds the log") {
    val state = tmp()
    for (b <- 0 until 8)
      SubstringDedupStream.applyBatch(spark, docs.filter($"doc_id" % 8 === b),
        b.toLong, state, None, L = L, autoCompactBatches = 3)
    val fs = graft.functions.FsUtils.fs(spark, state)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$state/grams"))
      .map(_.getPath.getName).filter(_.startsWith("batch="))
    assert(dirs.length <= 4, s"log unbounded: ${dirs.mkString(",")}")
    assert(report(SubstringDedupStream.currentSpans(spark, state, docs, L))
      == batchAnswer)
  }

  test("file-source end-to-end matches the union answer") {
    val in = tmp(); val state = tmp(); val out = tmp(); val ckpt = tmp()
    val q = SubstringDedupStream.runFileStream(spark, in, state, out, ckpt,
      schemaFrom = docs, L = L, autoCompactBatches = 4)
    try {
      for (b <- 0 to 2) {
        docs.filter($"doc_id" % 3 === b).coalesce(1)
          .write.mode("append").parquet(in)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(report(SubstringDedupStream.currentSpans(spark, state, docs, L))
      == batchAnswer)
  }
}
