package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Bpe
import graft.streaming.BpeStream

class BpeStreamSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val K = 512
  private val M = 24

  private def tmp(): String =
    tempDir("graft-bpe-stream")

  private def docs = Tables.documents(spark, Sf0001)

  private def splits(df: DataFrame, n: Int): Seq[DataFrame] =
    (0 until n).map(i => df.filter(pmod(col("doc_id"), lit(n)) === i))

  private def same(a: Bpe.Tokenizer, b: Bpe.Tokenizer): Boolean =
    a.merges == b.merges && a.words.sameElements(b.words) &&
      a.tokenCounts.sameElements(b.tokenCounts)

  test("folded tokenizer ≡ Bpe.train on the union corpus, any batching") {
    val oneShot = Bpe.train(docs, K, M)
    for (nB <- Seq(1, 3, 5)) {
      val st = tmp()
      splits(docs, nB).zipWithIndex.foreach { case (b, i) =>
        assert(BpeStream.applyBatch(spark, b, i, st))
      }
      assert(same(BpeStream.currentTokenizer(spark, st, K, M), oneShot),
        s"batching $nB diverged")
      // and the live accounting equals the batch gate's accounting
      val stream = BpeStream.currentTokenCounts(spark, st, docs, K, M)
        .orderBy("doc_id").collect().toSeq
      val batch = Bpe.tokenCountsOf(docs, oneShot)
        .orderBy("doc_id").collect().toSeq
      assert(stream == batch)
    }
  }

  test("replay is a no-op; election fires only when the folded top-k changes") {
    val st = tmp()
    val bs = splits(docs, 2)
    assert(BpeStream.applyBatch(spark, bs(0), 0, st))
    val tk0 = BpeStream.currentTokenizer(spark, st, K, M)
    assert(BpeStream.electionCount(st) == 1L)
    // quiet read: top-k unchanged → cached merges reused, no re-election
    assert(same(BpeStream.currentTokenizer(spark, st, K, M), tk0))
    assert(BpeStream.electionCount(st) == 1L)
    // replay of the same batch: state unchanged → still no re-election
    assert(!BpeStream.applyBatch(spark, bs(0), 0, st))
    assert(same(BpeStream.currentTokenizer(spark, st, K, M), tk0))
    assert(BpeStream.electionCount(st) == 1L)
    // a genuinely new batch shifts the counts → the drift trigger fires
    assert(BpeStream.applyBatch(spark, bs(1), 1, st))
    val tk1 = BpeStream.currentTokenizer(spark, st, K, M)
    assert(BpeStream.electionCount(st) == 2L)
    assert(same(tk1, Bpe.train(docs, K, M)))
  }

  test("compaction preserves the tokenizer exactly; folded replays are skipped") {
    val st = tmp()
    val bs = splits(docs, 4)
    bs.zipWithIndex.foreach { case (b, i) => BpeStream.applyBatch(spark, b, i, st) }
    val before = BpeStream.currentWordCounts(spark, st, K)
    BpeStream.compactState(spark, st)
    assert(BpeStream.currentWordCounts(spark, st, K) == before)
    assert(BpeStream.foldedUpto(spark, st) == 3L)
    // a replay of a folded batch must be skipped even though its dir is gone
    assert(!BpeStream.applyBatch(spark, bs(1), 1, st))
    assert(BpeStream.currentWordCounts(spark, st, K) == before)
    // new batches keep folding after compaction — and the folded result
    // still equals the one-shot trainer over the grown union
    val extra = Seq((9001L, "zz yy zz")).toDF("doc_id", "text")
    assert(BpeStream.applyBatch(spark, extra, 4, st))
    val grown = docs.select("doc_id", "text")
      .unionByName(extra)
    assert(same(BpeStream.currentTokenizer(spark, st, K, M),
      Bpe.train(grown, K, M)))
  }

  test("auto-compaction triggers at the dir threshold and changes nothing") {
    val st = tmp()
    val bs = splits(docs, 5)
    bs.zipWithIndex.foreach { case (b, i) =>
      BpeStream.applyBatch(spark, b, i, st, autoCompactBatches = 3) }
    // ≤ 3+1 dirs remain (a fold ran at least once)
    val fs = graft.functions.FsUtils.fs(spark, st)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$st/words"))
      .count(_.getPath.getName.startsWith("batch="))
    assert(dirs <= 4, s"auto-compaction never fired: $dirs dirs")
    assert(same(BpeStream.currentTokenizer(spark, st, K, M),
      Bpe.train(docs, K, M)))
  }

  test("file-source stream end-to-end: drops fold into the same tokenizer") {
    val st = tmp(); val in = tmp(); val cp = tmp()
    val bs = splits(docs, 3)
    val q = BpeStream.runFileStream(spark, in, st, cp,
      schemaFrom = docs, autoCompactBatches = 2)
    try {
      bs.foreach { b =>
        b.write.mode("append").parquet(in)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(same(BpeStream.currentTokenizer(spark, st, K, M),
      Bpe.train(docs, K, M)))
  }
}
