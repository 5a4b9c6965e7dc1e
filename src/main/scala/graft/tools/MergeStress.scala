package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hot-day merge stress (round 6): the claim behind
  * `EventsPipeline.mergePartitioned(hourShard = true)` is that a day
  * receiving events ALL DAY re-merges ~1/24 of its data per micro-batch
  * instead of the whole day partition. Measured here: seed one day with
  * N rows, then merge hour-local batches into (a) a date-sharded sink and
  * (b) a date+hour-sharded sink, timing each merge. Results → STRESS.md.
  */
object MergeStress {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(graft.Sessions.cpus(32))

    val nDay = sys.env.getOrElse("SPARK_GRAFT_MERGE_DAY_ROWS", "2000000").toLong
    val nBatch = sys.env.getOrElse("SPARK_GRAFT_MERGE_BATCH_ROWS", "50000").toLong
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_MERGE_BATCHES", "8").toInt
    val day0 = java.time.Instant.parse("2026-03-01T00:00:00Z").getEpochSecond

    /** n synthetic events with ids starting at `offset`; `hourOnly` pins
      * every ts inside one hour of the day (a micro-batch's arrival shape),
      * None spreads across all 24 (the seed). */
    def evts(n: Long, offset: Long, hourOnly: Option[Int]): DataFrame = {
      val secs = hourOnly match {
        case Some(h) => lit(day0 + h * 3600L) + pmod(col("id"), lit(3600L))
        case None => lit(day0) + pmod(col("id"), lit(86400L))
      }
      spark.range(n).select(
        (col("id") + offset).as("event_id"),
        timestamp_seconds(secs).as("ts"),
        lit("click").as("event_type"),
        pmod(col("id"), lit(1000L)).as("user_id"),
        (pmod(col("id"), lit(100L))).cast("double").as("value"))
    }

    val tmp = java.nio.file.Files.createTempDirectory("graft-mergestress").toString
    println("sink,batch,hour,sec,merged_rows")
    for (shard <- Seq(false, true)) {
      val sink = s"$tmp/shard_$shard"
      val label = if (shard) "date+hour" else "date"
      val t0 = System.nanoTime()
      graft.streaming.EventsPipeline.mergePartitioned(
        spark, evts(nDay, 0, None), sink, hourShard = shard)
      println(f"$label,seed,-,${(System.nanoTime() - t0) / 1e9}%.2f,$nDay")
      for (b <- 0 until nBatches) {
        val h = (b * 3) % 24 // rotating hot hours: the all-day arrival model
        val batch = evts(nBatch, nDay + b.toLong * nBatch, Some(h))
        val t1 = System.nanoTime()
        val merged = graft.streaming.EventsPipeline.mergePartitioned(
          spark, batch, sink, hourShard = shard)
        println(f"$label,$b,$h,${(System.nanoTime() - t1) / 1e9}%.2f,$merged")
      }
    }
    spark.stop()
  }
}
