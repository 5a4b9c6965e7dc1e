package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.CorpusOverlap
import graft.streaming.OverlapStream

class OverlapStreamSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def tmp(): String = tempDir("overlap")
  private def docs = Tables.documents(spark, Sf0001)
  private val P = 64 // cheaper than the gate's 128; equality is exact anyway

  private def sigsOf(df: DataFrame): Map[String, Seq[Long]] =
    df.select("slice", "sig").as[(String, Seq[Long])].collect().toMap

  private def batchSigs: Map[String, Seq[Long]] =
    sigsOf(CorpusOverlap.sliceSignatures(
      CorpusOverlap.sliceVocab(docs, "text", "source"), P))

  test("signatures folded over arbitrary batching equal the whole-corpus run") {
    val state = tmp(); val out = tmp()
    for (b <- 0 to 2)
      OverlapStream.applyBatch(spark, docs.filter(col("doc_id") % 3 === b),
        b.toLong, state, out, numPerm = P)
    assert(sigsOf(OverlapStream.mergedState(spark, state)) == batchSigs)
    // and the estimate snapshot of the LAST batch equals the batch estimate
    val streamedEst = spark.read.parquet(s"$out/batch=2").drop("batch")
      .as[(String, String, Double)].collect().toSet
    val batchEst = CorpusOverlap.estimateFromSignatures(
        CorpusOverlap.sliceSignatures(
          CorpusOverlap.sliceVocab(docs, "text", "source"), P), P)
      .as[(String, String, Double)].collect().toSet
    assert(streamedEst == batchEst)
  }

  test("replay of any batch is a no-op (idempotent min-fold)") {
    val state = tmp(); val out = tmp()
    for (b <- 0 to 2)
      OverlapStream.applyBatch(spark, docs.filter(col("doc_id") % 3 === b),
        b.toLong, state, out, numPerm = P)
    val before = sigsOf(OverlapStream.mergedState(spark, state))
    OverlapStream.applyBatch(spark, docs.filter(col("doc_id") % 3 === 1),
      1L, state, out, numPerm = P)
    assert(sigsOf(OverlapStream.mergedState(spark, state)) == before)
  }

  test("uptoBatch bounds a replay's view to its own prefix of state") {
    val state = tmp(); val out = tmp()
    for (b <- 0 to 2)
      OverlapStream.applyBatch(spark, docs.filter(col("doc_id") % 3 === b),
        b.toLong, state, out, numPerm = P)
    val prefix = sigsOf(OverlapStream.mergedState(spark, state, uptoBatch = 1))
    val prefixDirect = sigsOf(CorpusOverlap.sliceSignatures(
      CorpusOverlap.sliceVocab(docs.filter(col("doc_id") % 3 <= 1),
        "text", "source"), P))
    assert(prefix == prefixDirect)
  }

  test("compactState folds dirs without changing the merged signature") {
    val state = tmp(); val out = tmp()
    for (b <- 0 to 3)
      OverlapStream.applyBatch(spark, docs.filter(col("doc_id") % 4 === b),
        b.toLong, state, out, numPerm = P)
    val before = sigsOf(OverlapStream.mergedState(spark, state))
    OverlapStream.compactState(spark, state)
    val fs = graft.functions.FsUtils.fs(spark, s"$state/sigs")
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$state/sigs"))
      .filter(_.isDirectory).map(_.getPath.getName).toSeq
    assert(dirs == Seq("batch=-1"))
    assert(sigsOf(OverlapStream.mergedState(spark, state)) == before)
  }

  test("a replay AFTER compaction cannot destroy accumulated state") {
    // the crash-recovery interleaving: batches land, compaction runs during
    // downtime, then Structured Streaming re-executes the LAST batch (its
    // commit never reached the checkpoint). The replayed batch must only
    // re-add content the fold already absorbed — never truncate it.
    val state = tmp(); val out = tmp()
    for (b <- 0 to 3)
      OverlapStream.applyBatch(spark, docs.filter(col("doc_id") % 4 === b),
        b.toLong, state, out, numPerm = P)
    val before = sigsOf(OverlapStream.mergedState(spark, state))
    OverlapStream.compactState(spark, state)
    OverlapStream.applyBatch(spark, docs.filter(col("doc_id") % 4 === 3),
      3L, state, out, numPerm = P) // replay of the last batch
    assert(sigsOf(OverlapStream.mergedState(spark, state)) == before)
    // double compaction (second one includes the prior batch=-1) is stable
    OverlapStream.compactState(spark, state)
    assert(sigsOf(OverlapStream.mergedState(spark, state)) == before)
  }

  test("file-source stream produces the same state as direct applyBatch") {
    val in = tmp(); val state = tmp(); val out = tmp(); val ckpt = tmp()
    docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$in/d0")
    val q = OverlapStream.run(spark, s"$in/d*", state, out, ckpt, docs, numPerm = P)
    q.processAllAvailable()
    docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$in/d1")
    q.processAllAvailable()
    q.stop()
    assert(sigsOf(OverlapStream.mergedState(spark, state)) == batchSigs)
  }

  test("fresh state reads empty") {
    assert(OverlapStream.mergedState(spark, tmp() + "/none").collect().isEmpty)
  }

  test("imperative MinHashFold equals the declarative numPerm-min aggregate") {
    // r20 opt: sliceSignatures now folds through the TypedImperativeAggregate
    // (org.apache.spark.sql.graft.MinHashFold); the declarative reference
    // must match bit for bit, on both the portable and production hashes.
    val vocab = CorpusOverlap.sliceVocab(docs, "text", "source")
    assert(sigsOf(CorpusOverlap.sliceSignatures(vocab, P)) ==
      sigsOf(CorpusOverlap.sliceSignaturesDeclarative(vocab, P)))
    assert(sigsOf(CorpusOverlap.sliceSignatures(vocab, P, graft.functions.Hashing.h60)) ==
      sigsOf(CorpusOverlap.sliceSignaturesDeclarative(vocab, P, graft.functions.Hashing.h60)))
  }

  test("signatures over raw occurrences equal signatures over the distinct vocabulary") {
    // min is idempotent: folding every bigram occurrence (sliceGrams — the
    // r20 serve path, no vocabulary exchange) must produce bit-identical
    // signatures to folding the deduplicated vocabulary (sliceVocab).
    // Pins sourceOverlapSketchServe's distinct-elision.
    assert(sigsOf(CorpusOverlap.sliceSignatures(
      CorpusOverlap.sliceGrams(docs, "text", "source"), P)) == batchSigs)
  }
}
