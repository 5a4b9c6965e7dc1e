package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.operators.{Prep, Sampling}

/** The stateless prep transforms (chunking, scrubbing, split assignment)
  * are streaming-safe by construction — the SAME DataFrame function runs
  * under `readStream` unchanged. This pins the design rule ("every
  * transform exists as a batch function and runs on streams") for the
  * round-5 operators, like StreamingSpec does for the events pipeline.
  */
class PrepStreamSpec extends AnyFunSuite with SparkSuite {

  private def streamed(transform: DataFrame => DataFrame, name: String): DataFrame = {
    val in = tempDir("prep_stream_in")
    val docs = Tables.documents(spark, Sf0001)
    docs.write.parquet(s"$in/drop0")
    val q = transform(
      spark.readStream.schema(docs.schema).parquet(s"$in/drop*"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("chunkOverlapOf under readStream equals the batch run") {
    val batch = Prep.chunkOverlapOf(Tables.documents(spark, Sf0001))
    assert(sortedRows(streamed(Prep.chunkOverlapOf(_), "chunks_stream"))
      == sortedRows(batch))
  }

  test("piiScrubOf under readStream equals the batch run") {
    val batch = Prep.piiScrubOf(Tables.documents(spark, Sf0001))
    assert(sortedRows(streamed(Prep.piiScrubOf, "scrub_stream"))
      == sortedRows(batch))
  }

  test("splitAssignOf under readStream equals the batch run") {
    val batch = Sampling.splitAssignOf(Tables.documents(spark, Sf0001))
    assert(sortedRows(streamed(Sampling.splitAssignOf, "split_stream"))
      == sortedRows(batch))
  }
}
