package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventsPipeline

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double, props: String)

/** Streaming ops are proven by batch-equivalence (SURVEY.md §7.4 risk 5):
  * the oracle can't see streams, so each streaming transform is compared
  * against its batch twin on the same input. */
class StreamingSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  private val sample = Seq(
    Ev(1L, t("2024-01-01 10:00:00"), 7L, "click", 1.0, "{}"),
    Ev(1L, t("2024-01-01 10:00:05"), 8L, "click", 2.0, "{}"), // dup delivery, later ts
    Ev(2L, t("2024-01-01 11:00:00"), 7L, "view", 3.0, "{}"),
    Ev(3L, t("2024-01-02 09:00:00"), 9L, "click", 4.0, "{}"),
    Ev(3L, t("2024-01-02 09:00:00"), 9L, "click", 4.0, "{}")  // exact dup
  )

  test("batch dedupLatest keeps one row per event_id (latest ts)") {
    val out = EventsPipeline.dedupLatest(sample.toDF())
      .orderBy("event_id").as[Ev].collect()
    assert(out.map(_.event_id).toSeq == Seq(1L, 2L, 3L))
    assert(out.head.value == 2.0) // later delivery won
  }

  test("streaming dropDuplicatesWithinWatermark matches batch-twin key set") {
    val mem = MemoryStream[Ev](spark)
    mem.addData(sample: _*)
    val q = EventsPipeline.dedupStreaming(mem.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("dedup_out").select("event_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L, 3L))
  }

  test("streaming daily aggregate equals batch twin on the same input") {
    val batch = EventsPipeline.dailyAgg(sample.toDF())
      .orderBy("day", "event_type")
      .as[(java.sql.Date, String, Long, Double)].collect().toSeq

    val mem = MemoryStream[Ev](spark)
    mem.addData(sample: _*)
    val q = EventsPipeline.dailyAggStreaming(mem.toDF())
      .writeStream.format("memory").queryName("daily_out")
      .outputMode("complete").start() // complete: no watermark-close needed
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("daily_out")
      .orderBy("day", "event_type")
      .as[(java.sql.Date, String, Long, Double)].collect().toSeq
    assert(streamed == batch)
  }

  test("streaming sliding window equals batch twin on the same input") {
    val batch = EventsPipeline.slidingAgg(sample.toDF())
      .orderBy("window_start", "event_type")
      .as[(Timestamp, String, Long, Double)].collect().toSeq
    assert(batch.nonEmpty)

    val mem = MemoryStream[Ev](spark)
    mem.addData(sample: _*)
    val q = EventsPipeline.slidingAggStreaming(mem.toDF())
      .writeStream.format("memory").queryName("sliding_out")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("sliding_out")
      .orderBy("window_start", "event_type")
      .as[(Timestamp, String, Long, Double)].collect().toSeq
    assert(streamed == batch)
  }

  test("streaming session_window equals batch sessionize on the same input") {
    // user 7: 10:00 and 11:00 merge (gap < 6h); user 9's two events merge
    val batch = EventsPipeline.sessionize(sample.toDF())
      .orderBy("user_id", "session_start")
      .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSeq
    assert(batch.map(_._1) == Seq(7L, 8L, 9L))
    assert(batch.head._4 == 2L) // user 7: both events one session

    val mem = MemoryStream[Ev](spark)
    mem.addData(sample: _*)
    val q = EventsPipeline.sessionizeStreaming(mem.toDF())
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("sessions_out")
      .orderBy("user_id", "session_start")
      .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSeq
    assert(streamed == batch)
  }

  test("stream-stream interval join equals the batch twin on the same input") {
    val clicks = Seq(
      Ev(10L, t("2024-01-01 10:30:00"), 7L, "click", 0.0, "{}"),
      Ev(11L, t("2024-01-01 12:00:00"), 7L, "click", 0.0, "{}"),
      Ev(12L, t("2024-01-01 10:30:00"), 8L, "click", 0.0, "{}"))
    val purchases = Seq(
      Ev(20L, t("2024-01-01 10:00:00"), 7L, "purchase", 5.0, "{}"),  // in window of 10
      Ev(21L, t("2024-01-01 11:30:00"), 7L, "purchase", 7.0, "{}"),  // in window of 11
      Ev(22L, t("2024-01-01 08:00:00"), 8L, "purchase", 9.0, "{}"))  // too old for 12
    val batch = EventsPipeline.clickPurchaseJoin(clicks.toDF(), purchases.toDF())
      .orderBy("click_id", "purchase_id")
      .as[(Long, Long, Long, Timestamp, Timestamp, Double)].collect().toSeq
    assert(batch.map(r => (r._1, r._2)) == Seq((10L, 20L), (11L, 21L)))

    val memC = MemoryStream[Ev](spark); memC.addData(clicks: _*)
    val memP = MemoryStream[Ev](spark); memP.addData(purchases: _*)
    val q = EventsPipeline.clickPurchaseJoinStreaming(memC.toDF(), memP.toDF())
      .writeStream.format("memory").queryName("ssjoin_out")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.table("ssjoin_out")
      .orderBy("click_id", "purchase_id")
      .as[(Long, Long, Long, Timestamp, Timestamp, Double)].collect().toSeq
    assert(streamed == batch)
  }

  test("flatMapGroupsWithState running totals converge to the batch twin") {
    val mem = MemoryStream[Ev](spark)
    val q = EventsPipeline.runningUserTotalsStreaming(mem.toDF())
      .writeStream.format("memory").queryName("totals_out")
      .outputMode("update").start()
    try {
      mem.addData(sample.take(2): _*); q.processAllAvailable()
      mem.addData(sample.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    // last emission per user across the two micro-batches == batch aggregate
    val lastPerUser = spark.table("totals_out")
      .withColumn("__o", monotonically_increasing_id())
      .groupBy("user_id")
      .agg(
        max_by(col("n_events"), col("__o")).as("n_events"),
        max_by(col("total_value"), col("__o")).as("total_value"))
      .as[(Long, Long, Double)].collect().toMap2
    val batch = EventsPipeline.userTotals(sample.toDF())
      .as[(Long, Long, Double)].collect().toMap2
    assert(lastPerUser == batch)
  }

  implicit private class ToMap2(arr: Array[(Long, Long, Double)]) {
    def toMap2: Map[Long, (Long, Double)] =
      arr.map { case (u, n, t) => u -> (n, math.round(t * 100) / 100.0) }.toMap
  }

  test("file-source pipeline: stream-dedup + foreachBatch upsert is exactly-once") {
    val tmp = tempDir("graft-stream")
    val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val schemaFrom = sample.toDF()
    // batch 1 lands
    sample.take(3).toDF().write.mode("append").parquet(inDir)
    val q = EventsPipeline.runFileStream(spark, inDir, outDir, ckpt, schemaFrom,
      runLogDir = Some(s"$tmp/runs"))
    try {
      q.processAllAvailable()
      // batch 2: replayed event 1 (duplicate delivery) + new event 4
      (sample.drop(3) :+ Ev(4L, t("2024-01-02 10:00:00"), 5L, "view", 9.0, "{}"))
        .toDF().write.mode("append").parquet(inDir)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(outDir).select("event_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 2L, 3L, 4L), s"got ${out.toSeq}")
    // ingestion_runs bookkeeping: one completed row per micro-batch
    val runs = spark.read.parquet(s"$tmp/runs")
      .orderBy("batch_id")
      .select("batch_id", "status").as[(Long, String)].collect()
    assert(runs.length >= 2 && runs.forall(_._2 == "completed"), runs.mkString(","))
  }

  test("same pipeline from a NON-FILE source (MemoryStream), zero operator changes") {
    // S6 source-agnosticism: runStream is the identical dedup + partitioned
    // merge + run-log pipeline runFileStream mounts on a drop dir — here fed
    // from an in-memory source the way a Kafka reader would feed it
    val tmp = tempDir("graft-memstream")
    val outDir = s"$tmp/out"
    val mem = MemoryStream[Ev](spark)
    mem.addData(sample.take(3): _*)
    val q = EventsPipeline.runStream(spark, mem.toDF(), outDir, s"$tmp/ckpt",
      runLogDir = Some(s"$tmp/runs"))
    try {
      q.processAllAvailable()
      mem.addData(sample.drop(3) :+ Ev(4L, t("2024-01-02 10:00:00"), 5L, "view", 9.0, "{}"): _*)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(outDir).select("event_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 2L, 3L, 4L), s"got ${out.toSeq}")
    val runs = spark.read.parquet(s"$tmp/runs").select("status").as[String].collect()
    assert(runs.nonEmpty && runs.forall(_ == "completed"), runs.mkString(","))
  }

  test("same pipeline from the RATE source (time-driven unbounded), zero " +
       "operator changes") {
    // S6's second non-file source (VERDICT r18 item 5): a true Kafka reader
    // is environment-blocked — no spark-sql-kafka/kafka-clients connector
    // among /opt/spark/jars, no broker binary, zero egress to fetch either
    // (PLANS.md round-19 block evidence) — so the source-swap seam is
    // proven on Spark's built-in UNBOUNDED time-driven source instead:
    // runStream mounts unchanged on rate-micro-batch the way it would on a
    // Kafka DataFrame (same shape: a streaming frame mapped to the event
    // schema), duplicate deliveries injected by id-folding dedup
    // exactly-once, and the run log records every micro-batch.
    val tmp = tempDir("graft-ratestream")
    val src = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", 10)
      .option("startTimestamp", 0L)
      .option("advanceMillisPerBatch", 1000)
      .load()
      .select(
        (col("value") % 8).as("event_id"),
        // payload a pure function of event_id: a re-delivery is bit-identical
        (to_timestamp(lit("2024-01-02 10:00:00")) +
          expr("make_dt_interval(0, 0, 0, value % 8)")).as("ts"),
        (col("value") % 3).as("user_id"),
        lit("click").as("event_type"),
        (col("value") % 8).cast("double").as("value"),
        lit("{}").as("props"))
    val q = EventsPipeline.runStream(spark, src, s"$tmp/out", s"$tmp/ckpt",
      runLogDir = Some(s"$tmp/runs"))
    try {
      // unbounded source: wait for a few micro-batches, then stop
      val deadline = System.currentTimeMillis() + 60000
      while (q.recentProgress.length < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(q.recentProgress.length >= 3, "rate source produced < 3 batches in 60s")
    } finally q.stop()
    val out = spark.read.parquet(s"$tmp/out")
      .select("event_id").as[Long].collect().sorted.toSeq
    // ids fold mod 8, so ≥ 30 generated rows dedup to EXACTLY one row each
    assert(out == (0L to 7L), s"got $out")
    // ≥ 3 completed micro-batches; an unbounded source differs from the
    // MemoryStream test in one way — q.stop() interrupts whatever trigger
    // is in flight, and that batch's run-log row legitimately records
    // "failed" (its work rolls back; a restart would replay it). Allow
    // that artifact, require the completed majority.
    val runs = spark.read.parquet(s"$tmp/runs").select("status").as[String].collect()
    assert(runs.count(_ == "completed") >= 3, runs.mkString(","))
  }

  test("dedup state is bounded by the watermark horizon, not stream length") {
    // six day-spaced deliveries of 50 events each through the full pipeline;
    // with a 1-hour watermark each delivery expires the previous one's keys,
    // so dedup state must hover at O(one delivery), not O(all six)
    val tmp = tempDir("graft-statebound")
    val mem = MemoryStream[Ev](spark)
    val q = EventsPipeline.runStream(spark, mem.toDF(), s"$tmp/out", s"$tmp/ckpt")
    val perBatch = 50
    try {
      for (day <- 1 to 6) {
        mem.addData((0 until perBatch).map { i =>
          Ev(day * 1000L + i, t(f"2024-01-0$day 10:00:00"), i.toLong, "click", 1.0, "{}")
        }: _*)
        q.processAllAvailable()
      }
      EventsPipeline.logStateProgress(spark, q, s"$tmp/state_log")
    } finally q.stop()
    val log = spark.read.parquet(s"$tmp/state_log")
    val lastTotal = log.orderBy(col("batch_id").desc)
      .select("n_rows_total").as[Long].head()
    val maxTotal = log.agg(max("n_rows_total")).as[Long].head()
    assert(lastTotal <= 2L * perBatch,
      s"state after 6 deliveries holds $lastTotal rows — not bounded by the watermark horizon")
    assert(maxTotal < 6L * perBatch,
      s"state peaked at $maxTotal — grew with stream length")
    // all six deliveries actually landed
    assert(spark.read.parquet(s"$tmp/out").count() == 6L * perBatch)
  }

  test("incremental daily aggregate equals the batch twin across arbitrary batch splits") {
    val tmp = tempDir("graft-dailyagg")
    val inDir = s"$tmp/in"; val outDir = s"$tmp/out"
    val ckpt = s"$tmp/ckpt"; val aggDir = s"$tmp/agg"
    // unique events (exact redelivery only — a same-id different-value pair
    // would make "which delivery won" ambiguous in the expected twin)
    val evs = Seq(
      Ev(1L, t("2024-01-01 10:00:00"), 7L, "click", 1.0, "{}"),
      Ev(2L, t("2024-01-01 11:00:00"), 7L, "view", 3.0, "{}"),
      Ev(3L, t("2024-01-02 09:00:00"), 9L, "click", 4.0, "{}"),
      Ev(4L, t("2024-01-02 10:00:00"), 5L, "view", 9.0, "{}"),
      Ev(5L, t("2024-01-03 08:30:00"), 6L, "click", 2.5, "{}"))
    val schemaFrom = evs.toDF()
    def aggRows() = EventsPipeline.readDailyAgg(spark, aggDir)
      .select(col("day").cast("string"), col("event_type"), col("n_events"), col("sum_value"))
      .as[(String, String, Long, Double)].collect().toSet
    // an uneven split, including a cross-batch exact redelivery of event 1
    evs.take(2).toDF().write.mode("append").parquet(inDir)
    val q = EventsPipeline.runFileStream(spark, inDir, outDir, ckpt, schemaFrom,
      dailyAggDir = Some(aggDir))
    try {
      q.processAllAvailable()
      (evs.slice(2, 4) :+ evs.head).toDF().write.mode("append").parquet(inDir)
      q.processAllAvailable()
      val mid = aggRows() // day 2024-01-01 was re-swapped, not delta-added
      assert(mid.nonEmpty)
      evs.drop(4).toDF().write.mode("append").parquet(inDir)
      q.processAllAvailable()
    } finally q.stop()
    // accumulated materialization == batch dailyAgg over the event set
    val expected = EventsPipeline.dailyAgg(evs.toDF())
      .select(col("day").cast("string"), col("event_type"), col("n_events"), col("sum_value"))
      .as[(String, String, Long, Double)].collect().toSet
    assert(aggRows() == expected)
    // a replayed batch (same raw sink state) is a no-op on the aggregate
    EventsPipeline.refreshDailyAgg(spark, outDir, aggDir,
      Seq(java.sql.Date.valueOf("2024-01-02")))
    assert(aggRows() == expected)
  }

  test("hour-sharded merge rewrites only batch-affected HOUR partitions") {
    // the documented hot-day mitigation: a day receiving events all day
    // must not re-merge its whole partition per batch — only touched hours
    val tmp = tempDir("graft-hmerge")
    val outDir = s"$tmp/out"
    EventsPipeline.mergePartitioned(spark, sample.toDF(), outDir, hourShard = true)
    val h10 = new java.io.File(s"$outDir/event_date=2024-01-01/event_hour=10")
    val h11 = new java.io.File(s"$outDir/event_date=2024-01-01/event_hour=11")
    assert(h10.isDirectory && h11.isDirectory)
    def fileState(d: java.io.File): Set[(String, Long)] =
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    val h10Before = fileState(h10)
    Thread.sleep(1100)
    // same DAY, different hour: hour 10's files must be untouched
    val b2 = Seq(Ev(7L, t("2024-01-01 11:30:00"), 6L, "view", 7.0, "{}")).toDF()
    EventsPipeline.mergePartitioned(spark, b2, outDir, hourShard = true)
    assert(fileState(h10) == h10Before,
      "same-day different-hour batch rewrote an untouched hour partition")
    // cross-batch redelivery of event 1 (hour 10) still merges exactly-once
    val b3 = sample.take(1).toDF()
    EventsPipeline.mergePartitioned(spark, b3, outDir, hourShard = true)
    val got = spark.read.parquet(outDir).select("event_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L, 3L, 7L), s"got ${got.toSeq}")
    // crash recovery heals a nested-orphaned hour dir
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$outDir.parts-tmp/event_date=2024-01-01"))
    fs.rename(new org.apache.hadoop.fs.Path(s"$outDir/event_date=2024-01-01/event_hour=10"),
      new org.apache.hadoop.fs.Path(s"$outDir.parts-tmp/event_date=2024-01-01/event_hour=10"))
    val b4 = Seq(Ev(8L, t("2024-01-03 08:00:00"), 6L, "click", 1.0, "{}")).toDF()
    EventsPipeline.mergePartitioned(spark, b4, outDir, hourShard = true)
    val healed = spark.read.parquet(outDir).select("event_id").as[Long].collect().sorted
    assert(healed.toSeq == Seq(1L, 2L, 3L, 7L, 8L), s"got ${healed.toSeq}")
  }

  test("partition-scoped merge rewrites only batch-affected date partitions") {
    val tmp = tempDir("graft-pmerge")
    val outDir = s"$tmp/out"
    // batch 1: events on two dates
    EventsPipeline.mergePartitioned(spark, sample.toDF(), outDir)
    val d1 = new java.io.File(s"$outDir/event_date=2024-01-01")
    val d2 = new java.io.File(s"$outDir/event_date=2024-01-02")
    assert(d1.isDirectory && d2.isDirectory)
    def fileState(d: java.io.File): Set[(String, Long)] =
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    val d1Before = fileState(d1)
    Thread.sleep(1100) // FS mtime granularity can be 1s
    // batch 2: a 2024-01-02 event only — day 1's partition must be untouched
    val b2 = Seq(Ev(5L, t("2024-01-02 12:00:00"), 6L, "view", 7.0, "{}")).toDF()
    EventsPipeline.mergePartitioned(spark, b2, outDir)
    assert(fileState(d1) == d1Before,
      "untouched partition was rewritten by a batch that didn't contain its date")
    // day 2 grew: events 3, 4-if-present, 5 all live there
    val got = spark.read.parquet(outDir).select("event_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L, 3L, 5L), s"got ${got.toSeq}")
    // crash recovery: orphan a partition into staging (as a crash between
    // delete and rename would), then merge again — the orphan is restored
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$outDir.parts-tmp"))
    fs.rename(new org.apache.hadoop.fs.Path(s"$outDir/event_date=2024-01-01"),
      new org.apache.hadoop.fs.Path(s"$outDir.parts-tmp/event_date=2024-01-01"))
    val b3 = Seq(Ev(6L, t("2024-01-03 08:00:00"), 6L, "click", 1.0, "{}")).toDF()
    EventsPipeline.mergePartitioned(spark, b3, outDir)
    val healed = spark.read.parquet(outDir).select("event_id").as[Long].collect().sorted
    assert(healed.toSeq == Seq(1L, 2L, 3L, 5L, 6L), s"got ${healed.toSeq}")
  }
}
