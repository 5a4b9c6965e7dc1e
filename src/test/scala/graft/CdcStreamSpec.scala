package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Prep
import graft.streaming.CdcStream

class CdcStreamSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    tempDir("graft-cdc-stream")

  private def docs = Tables.documents(spark, Sf0001).select("doc_id", "text")

  private def oneShot: Seq[(Long, Long)] =
    Prep.cdcChunksFast(docs)
      .groupBy("chunk_hash").agg(count(lit(1)).as("cnt"))
      .orderBy("chunk_hash")
      .as[(Long, Long)].collect().toSeq

  private def folded(st: String): Seq[(Long, Long)] =
    CdcStream.currentCounts(spark, st).orderBy("chunk_hash")
      .as[(Long, Long)].collect().toSeq

  private def splits(df: DataFrame, n: Int): Seq[DataFrame] =
    (0 until n).map(i => df.filter(pmod(col("doc_id"), lit(n)) === i))

  test("fold ≡ one-shot chunk counts, any batching and arrival order") {
    val exp = oneShot
    assert(exp.nonEmpty && exp.exists(_._2 > 1), "need recurring chunks")
    for (nB <- Seq(1, 3, 5)) {
      val st = tmp()
      splits(docs, nB).zipWithIndex.foreach { case (b, i) =>
        assert(CdcStream.applyBatch(spark, b, i, st))
      }
      assert(folded(st) == exp, s"batching $nB diverged")
    }
    // reversed arrival order — count accumulation is commutative
    val st = tmp()
    splits(docs, 3).reverse.zipWithIndex.foreach { case (b, i) =>
      assert(CdcStream.applyBatch(spark, b, i, st))
    }
    assert(folded(st) == exp)
  }

  test("replay no-op; compaction lossless; folded replays skipped via watermark") {
    val st = tmp()
    val bs = splits(docs, 4)
    bs.zipWithIndex.foreach { case (b, i) => CdcStream.applyBatch(spark, b, i, st) }
    val before = folded(st)
    assert(!CdcStream.applyBatch(spark, bs(1), 1, st))
    CdcStream.compactState(spark, st)
    assert(folded(st) == before)
    assert(CdcStream.foldedUpto(spark, st) == 3L)
    // a replay of an already-folded batch must be skipped — its dir is gone
    // but the foldmeta watermark covers it (double-count otherwise)
    assert(!CdcStream.applyBatch(spark, bs(2), 2, st))
    assert(folded(st) == before)
  }

  test("crash inside the compaction swap heals on next read") {
    val st = tmp()
    splits(docs, 3).zipWithIndex.foreach { case (b, i) =>
      CdcStream.applyBatch(spark, b, i, st) }
    CdcStream.compactState(spark, st)
    val before = folded(st)
    // simulate the replaceDir crash window: dst deleted, tmp not renamed
    val fs = graft.functions.FsUtils.fs(spark, st)
    val dst = new org.apache.hadoop.fs.Path(s"$st/chunks")
    val t = new org.apache.hadoop.fs.Path(s"$st/chunks.tmp")
    val cur = spark.read.parquet(dst.toString).localCheckpoint(true)
    cur.coalesce(1).write.mode("overwrite").parquet(t.toString)
    fs.delete(dst, true)
    spark.catalog.refreshByPath(dst.toString)
    assert(folded(st) == before, "heal preamble did not recover the swap")
  }

  test("dedup signal: dup chunks and ratio match a driver recompute") {
    val st = tmp()
    splits(docs, 2).zipWithIndex.foreach { case (b, i) =>
      CdcStream.applyBatch(spark, b, i, st) }
    val counts = oneShot
    val expDup = counts.filter(_._2 > 1).map(_._1).toSet
    val gotDup = CdcStream.currentDupChunks(spark, st)
      .select("chunk_hash").as[Long].collect().toSet
    assert(gotDup == expDup && gotDup.nonEmpty)
    val tot = counts.map(_._2).sum.toDouble
    val dup = counts.map(_._2 - 1).sum.toDouble
    assert(math.abs(CdcStream.dedupRatio(spark, st) - dup / tot) < 1e-12)
    // empty state reads 0, not NaN
    assert(CdcStream.dedupRatio(spark, tmp()) == 0.0)
  }

  test("auto-compaction triggers from the stream and stays lossless") {
    val st = tmp()
    val bs = splits(docs, 6)
    bs.zipWithIndex.foreach { case (b, i) =>
      CdcStream.applyBatch(spark, b, i, st, autoCompactBatches = 3) }
    assert(CdcStream.foldedUpto(spark, st) >= 0L, "auto-compaction never fired")
    assert(folded(st) == oneShot)
  }

  test("file-source stream end-to-end equals the one-shot counts") {
    val st = tmp(); val in = tmp(); val ck = tmp()
    val q = CdcStream.runFileStream(spark, in, st, ck, docs)
    try {
      splits(docs, 3).foreach { b =>
        b.write.mode("append").parquet(in)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(folded(st) == oneShot)
  }
}
