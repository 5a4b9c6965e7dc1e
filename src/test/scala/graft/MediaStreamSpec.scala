package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import graft.streaming.MediaStream

/** Streaming media tier: the stateless per-batch map through the REAL
  * codecs accumulates to exactly the one-shot batch kernels under any
  * batching, replays overwrite idempotently, and the file-source wrapper
  * runs end-to-end.
  */
class MediaStreamSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def tmp(): String = tempDir("mediastream")
  private def docs = Tables.documents(spark, Sf0001)

  private def wavMetaRows(df: org.apache.spark.sql.DataFrame) =
    df.as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
  private def windowRows(df: org.apache.spark.sql.DataFrame) =
    df.as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
  private def imgRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toString).sorted.toSeq

  private lazy val oneShotWavMeta = wavMetaRows(
    Multimodal.extractMetaWav(Multimodal.wavMediaFromDocuments(docs)))
  private lazy val oneShotWindows = windowRows(
    Multimodal.extractWavWindowSums(Multimodal.wavMediaFromDocuments(docs)))
  private lazy val oneShotImgMeta = imgRows(
    Multimodal.extractMetaImage(Multimodal.pngMediaFromDocuments(docs)))

  test("accumulated stream output equals the one-shot batch kernels, any batching") {
    for (mod <- Seq(1, 3)) {
      val out = tmp()
      for (b <- 0 until mod)
        MediaStream.applyBatch(spark, docs.filter($"doc_id" % mod === b),
          b.toLong, out)
      assert(wavMetaRows(MediaStream.currentWavMeta(spark, out)) == oneShotWavMeta,
        s"wav meta, mod=$mod")
      assert(windowRows(MediaStream.currentWavWindows(spark, out)) == oneShotWindows,
        s"wav windows, mod=$mod")
      assert(imgRows(MediaStream.currentImageMeta(spark, out)) == oneShotImgMeta,
        s"image meta, mod=$mod")
    }
  }

  test("a replayed batch overwrites its own dirs — rows never double") {
    val out = tmp()
    for (b <- 0 until 3)
      MediaStream.applyBatch(spark, docs.filter($"doc_id" % 3 === b), b.toLong, out)
    MediaStream.applyBatch(spark, docs.filter($"doc_id" % 3 === 1), 1L, out)
    assert(wavMetaRows(MediaStream.currentWavMeta(spark, out)) == oneShotWavMeta)
    assert(windowRows(MediaStream.currentWavWindows(spark, out)) == oneShotWindows)
  }

  test("file-source end-to-end: dropped parquet batches map to the batch kernels") {
    val in = tmp(); val out = tmp(); val ckpt = tmp()
    val q = MediaStream.runFileStream(spark, in, out, ckpt, schemaFrom = docs)
    try {
      for (b <- 0 to 2) {
        docs.filter($"doc_id" % 3 === b).coalesce(1)
          .write.mode("append").parquet(in)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(wavMetaRows(MediaStream.currentWavMeta(spark, out)) == oneShotWavMeta)
    assert(imgRows(MediaStream.currentImageMeta(spark, out)) == oneShotImgMeta)
  }
}
