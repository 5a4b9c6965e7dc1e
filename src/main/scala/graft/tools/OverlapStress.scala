package graft.tools

import org.apache.spark.sql.functions._

/** OverlapStream per-batch cost vs corpus growth (round 10): the signature
  * fold's promise is O(batch) per batch with sources × numPerm longs of
  * state — per-batch time must stay FLAT while the accumulated corpus
  * grows, and state bytes must stay constant-bounded (only the per-batch
  * dir COUNT grows, which compaction folds). Per-replica token suffixes
  * grow the vocabulary with the amplification so the distinct exchange
  * isn't trivially collapsed by replicated texts. Results → STRESS.md.
  */
object OverlapStress {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.cpus(32))

    val amp = sys.env.getOrElse("SPARK_GRAFT_STREAM_AMP", "16").toInt
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "8").toInt
    val docs = graft.Tables.documents(spark, sf)
      .select(col("*"), explode(sequence(lit(0L), lit(amp - 1L))).as("rep"))
      .withColumn("doc_id", col("doc_id") * amp + col("rep"))
      .withColumn("text", concat(col("text"), lit(" r"), col("rep")))
      .drop("rep")
    val tmp = java.nio.file.Files.createTempDirectory("graft-overlapstress").toString
    val state = s"$tmp/state"
    val out = s"$tmp/out"

    def stateBytes: Long = {
      val p = new org.apache.hadoop.fs.Path(s"$state/sigs")
      val fs = graft.functions.FsUtils.fs(spark, s"$state/sigs")
      if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
    }

    println("batch,sec,state_kb")
    (0 until nBatches).foreach { i =>
      val b = docs.filter(pmod(col("doc_id"), lit(nBatches)) === i)
      val t0 = System.nanoTime()
      graft.streaming.OverlapStream.applyBatch(spark, b, i.toLong, state, out)
      val t = (System.nanoTime() - t0) / 1e9
      println(f"$i,$t%.2f,${stateBytes >> 10}")
    }
    val t0 = System.nanoTime()
    graft.streaming.OverlapStream.compactState(spark, state)
    println(f"compact,${(System.nanoTime() - t0) / 1e9}%.2f,${stateBytes >> 10}")
    // one more batch against compacted state
    val extra = docs.withColumn("doc_id", col("doc_id") + 100000000L)
      .filter(pmod(col("doc_id"), lit(nBatches)) === 0)
    val t1 = System.nanoTime()
    graft.streaming.OverlapStream.applyBatch(spark, extra, nBatches.toLong, state, out)
    println(f"post_compact,${(System.nanoTime() - t1) / 1e9}%.2f,${stateBytes >> 10}")
    spark.stop()
  }
}
