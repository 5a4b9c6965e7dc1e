package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Merge

/** The streaming surface the reference designed but never built
  * (SURVEY.md §2.7): a webhook-events pipeline with exactly-once dedup on a
  * delivery key (`webhook_events.delivery_hash UNIQUE`,
  * `migrations/init.sql:25`) and an event-time daily aggregate (the
  * incremental twin of the orders-by-date endpoint).
  *
  * Design rule: every transform exists as a batch DataFrame function AND a
  * streaming one over the same schema, so correctness of the streaming path
  * is proven by batch-equivalence (the DuckDB oracle can't see streams —
  * SURVEY.md §7.4 risk 5). `events` maps: event_id ≙ delivery_hash,
  * ts ≙ event time, props ≙ raw_payload.
  */
object EventsPipeline {

  // --- dedup (S6 + delivery_hash semantics) --------------------------------

  /** Batch twin: keep one row per event_id — the latest by ts (user_id as
    * the deterministic tie-break). */
  def dedupLatest(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_id").orderBy(col("ts").desc, col("user_id"))
    events.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Streaming dedup: state-bounded exactly-once on the delivery key. The
    * watermark bounds how long a key is remembered — the streaming analogue
    * of the UNIQUE constraint, with state that can actually be reclaimed.
    */
  def dedupStreaming(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  // --- daily aggregate (incremental A2) -------------------------------------

  /** Tumbling 1-day event-time window aggregate. Used verbatim in batch and
    * streaming (window() is supported in both), so the twin proof is literal.
    */
  def dailyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(
        to_date(col("w.start")).as("day"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming variant: same aggregate behind a watermark (late data beyond
    * 1 day is dropped; OutputMode.Append emits finalized windows only). */
  def dailyAggStreaming(events: DataFrame, watermark: String = "1 day"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(
        to_date(col("w.start")).as("day"),
        col("event_type"), col("n_events"), col("sum_value"))

  // --- sliding windows -------------------------------------------------------

  /** Sliding event-time aggregate: 1-day windows advancing every 6 hours —
    * each event lands in 4 overlapping windows. Epoch-aligned starts, so
    * the SQL mirror is TIME_BUCKET(6h, ts) - k·6h for k ∈ 0..3. Same
    * expression works in batch and streaming.
    */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 day", "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(col("w.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming twin of [[slidingAgg]] behind a watermark. */
  def slidingAggStreaming(events: DataFrame, watermark: String = "1 day"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day", "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(col("w.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  // --- sessionization (session windows) -------------------------------------

  /** Event-time sessions per user: events closer than `gap` to the previous
    * event merge into one session. Built on `session_window` (works in batch
    * AND streaming — same literal expression, SURVEY.md §2.7 stretch).
    * Output bounds are min/max event time (not window.end = last+gap) so the
    * result is oracle-expressible with LAG + cumulative-sum sessionization.
    */
  def sessionize(events: DataFrame, gap: String = "6 hours"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(
        min("ts").as("session_start"),
        max("ts").as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("session_value"))
      .select("user_id", "session_start", "session_end", "n_events", "session_value")

  /** Streaming sessions: watermark bounds open-session state; Append emits a
    * session only once its window can no longer grow. */
  def sessionizeStreaming(events: DataFrame, gap: String = "6 hours",
                          watermark: String = "1 day"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(
        min("ts").as("session_start"),
        max("ts").as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("session_value"))
      .select("user_id", "session_start", "session_end", "n_events", "session_value")

  // --- stream-stream interval join ------------------------------------------

  /** Clicks joined to the same user's purchases within the preceding hour
    * (inclusive on both ends). Batch twin of the stream-stream join: key
    * equi-join + event-time range condition — Catalyst plans the equi-part
    * as the join key, the range as a post-join filter.
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"),
      col("user_id"), col("ts").as("click_ts"))
    val p = purchases.select(col("event_id").as("purchase_id"),
      col("user_id"), col("ts").as("purchase_ts"), col("value"))
    c.join(p, Seq("user_id"))
      .filter(col("purchase_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("purchase_ts") <= col("click_ts"))
      .select("click_id", "purchase_id", "user_id", "click_ts", "purchase_ts", "value")
  }

  /** Streaming twin: both sides watermarked; the time-range join condition
    * bounds each side's state (Spark evicts rows once they can no longer
    * match — the stream-stream join pattern from the Structured Streaming
    * guide). Append emits a match once it is final.
    */
  def clickPurchaseJoinStreaming(clicks: DataFrame, purchases: DataFrame,
                                 watermark: String = "2 hours"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("value"))
    c.join(p,
      c("user_id") === p("user_id") &&
        col("purchase_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("purchase_ts") <= col("click_ts"))
      .select(col("click_id"), col("purchase_id"), c("user_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  // --- custom state: running per-user totals (flatMapGroupsWithState) -------

  /** Accumulated per-user state carried across micro-batches. */
  case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

  /** Typed stateful streaming op (KeyValueGroupedDataset +
    * flatMapGroupsWithState — SURVEY.md §2.7 stretch): emits each user's
    * running (count, Σvalue) after every micro-batch that touches the user.
    * The last emission per user over any batch split of the input equals the
    * batch twin [[userTotals]] (StreamingSpec proves it).
    */
  def runningUserTotalsStreaming(events: DataFrame): Dataset[UserTotals] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Double)]) =>
          var (n, total) = state.getOption.getOrElse((0L, 0.0))
          rows.foreach { case (_, v) => n += 1; total += v }
          state.update((n, total))
          Iterator(UserTotals(uid, n, total))
      }
  }

  /** Batch twin of [[runningUserTotalsStreaming]]'s final state. */
  def userTotals(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))

  // --- end-to-end file-source pipeline --------------------------------------

  /** File-source stream (the drop-directory stand-in for webhook delivery;
    * no Kafka connector jar ships with the image — see COVERAGE.md): parquet
    * drops in `inDir` → dedup → foreachBatch upsert into a DATE-PARTITIONED
    * parquet table at `outDir` (`event_date=YYYY-MM-DD/`), keyed by
    * event_id. Exactly-once to the sink comes from dedup state + idempotent
    * partition-scoped merge per micro-batch (at-least-once foreachBatch ×
    * idempotent merge = exactly-once contents).
    */
  def runFileStream(spark: SparkSession, inDir: String, outDir: String,
                    checkpointDir: String, schemaFrom: DataFrame,
                    runLogDir: Option[String] = None,
                    dailyAggDir: Option[String] = None): StreamingQuery =
    runStream(spark,
      spark.readStream.schema(schemaFrom.schema).parquet(inDir),
      outDir, checkpointDir, runLogDir, dailyAggDir)

  /** The pipeline itself, source-agnostic: mount dedup → partitioned merge →
    * MV refresh → run log on ANY streaming DataFrame with the events schema
    * (file drop-dir above; Kafka would be `spark.readStream.format("kafka")…
    * select(from_json(…))` — the connector jar is absent from this image,
    * but nothing below the source line knows or cares; StreamingSpec proves
    * the same pipeline from a MemoryStream with zero operator changes).
    */
  def runStream(spark: SparkSession, src: DataFrame, outDir: String,
                checkpointDir: String,
                runLogDir: Option[String] = None,
                dailyAggDir: Option[String] = None): StreamingQuery = {
    dedupStreaming(src)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val started = System.currentTimeMillis()
        try {
          // O(days in batch) — computed ONCE, shared by merge + agg refresh
          val dates = batch.select(to_date(col("ts")).as("d")).distinct()
            .collect().map(_.getDate(0)).toSeq
          val n = mergePartitioned(spark, batch, outDir, Some(dates))
          dailyAggDir.foreach(refreshDailyAgg(spark, outDir, _, dates))
          logRun(spark, runLogDir, batchId, n, started, "completed")
        } catch { case e: Throwable =>
          logRun(spark, runLogDir, batchId, -1L, started, s"failed: ${e.getMessage}")
          throw e
        }
        ()
      }
      .start()
  }

  /** Incrementally-materialized A2 (the reference's "real-time updates"
    * claim, `README.md:3`, upgraded from marketing to mechanism): after each
    * micro-batch lands in the raw date-partitioned sink, RE-AGGREGATE the
    * touched dates from the raw sink and swap those `day=` partitions of the
    * queryable results table.
    *
    * Recompute-from-merged-raw, not delta-add: foreachBatch is at-least-once,
    * and adding window deltas twice on a replay would corrupt counts — a
    * delta design needs a transactional sink keyed by batchId. Re-derivation
    * makes the aggregate a pure function of the exactly-once raw sink, so
    * replays and crash-recovery re-runs are idempotent for free. Cost per
    * batch is O(events in the touched days): the raw read is partition-pruned
    * to the batch's dates (PartitionFilters), never a full-table scan, and
    * only the touched day partitions of the results table are rewritten —
    * the rest are never read or listed. At 100 TB a hot day re-aggregates
    * its partition per micro-batch; widen the trigger interval — and for
    * the RAW sink's own merge cost, `mergePartitioned(hourShard = true)`
    * shards to day+hour so a batch rewrites ~1/24 of a hot day.
    */
  def refreshDailyAgg(spark: SparkSession, rawDir: String, aggDir: String,
                      dates: Seq[java.sql.Date]): Unit = {
    if (dates.isEmpty) return
    StateLog.healPartitions(spark, aggDir)
    val slice = spark.read.parquet(rawDir)
      .filter(col("event_date").isin(dates: _*)) // partition-pruned scan
    // group by to_date(ts) — NOT window(): window() buckets are UTC-epoch-
    // aligned while event_date (and the reference's DATE(created_at)) are
    // session-TZ days, so in a non-UTC session a window-based day would
    // diverge from the partition being swapped and rebuild it from the
    // wrong raw slice. to_date keys the aggregate, the slice filter, and
    // the partition dirs identically in EVERY timezone; in a UTC session it
    // is literally dailyAgg's day (StreamingSpec pins that equality).
    val agg = slice
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
    agg.write.mode("overwrite").partitionBy("day")
      .parquet(StateLog.partitionStaging(aggDir))
    StateLog.landPartitions(spark, aggDir)
  }

  /** The queryable incrementally-maintained aggregate — partition pruning on
    * `day` serves the reference's ranged reads of this endpoint. */
  def readDailyAgg(spark: SparkSession, aggDir: String): DataFrame =
    spark.read.parquet(aggDir)

  /** Merge one (micro-)batch of events into a date-partitioned parquet sink,
    * touching ONLY the partitions whose `event_date` appears in the batch.
    * Returns the merged row count of the affected partitions.
    *
    * The round-1 version read and rewrote the ENTIRE target per batch — a
    * full-table rewrite per micro-batch at 100 TB. This one is scale-shaped:
    *   1. affected dates = distinct to_date(ts) of the batch (O(days), tiny);
    *   2. read the target pruned to those partitions (PartitionFilters — no
    *      other partition's files are opened);
    *   3. Merge.upsert(slice, batch) — last-write-wins per event_id;
    *   4. write the merged slice to the partition staging dir, then swap
    *      ONLY those partition directories into the sink
    *      (`StateLog.landPartitions`).
    * Untouched partitions are never read, never rewritten (StreamingSpec
    * asserts their files keep their timestamps).
    *
    * CONTRACT — `ts` is immutable per `event_id`: an event's event time is
    * fixed across redeliveries (a delivery timestamp doesn't move dates or
    * hours), so the per-key merge never needs to look outside the batch's
    * own partitions. This matters doubly under `hourShard`: a redelivery
    * whose ts moved to a different hour would leave the OLD hour's copy in
    * place (the pruned slice never reads that hour), persisting both
    * versions — and the exposure is 24× wider than at day granularity.
    * Upstreams that mutate event time must route through a stable partition
    * attribute (e.g. first-seen ts) or a full-key merge instead; reading
    * "wherever the batch's event_ids already live" here would be an
    * all-partition anti-join scan per micro-batch — exactly the O(corpus)
    * cost this partition-pruned merge exists to avoid.
    *
    * Crash safety: the danger window is between a partition's delete and
    * rename inside the swap. On entry `StateLog.healPartitions` restores the
    * partition a crash left orphaned in staging, then the at-least-once
    * replay of the batch re-runs the idempotent merge. No catch-all: a
    * transient read failure fails the batch (and is retried by the stream)
    * instead of silently resetting the table — the sink's absence is an
    * explicit existence check, not an exception path.
    */
  def mergePartitioned(spark: SparkSession, batch: DataFrame, outDir: String,
                       knownDates: Option[Seq[java.sql.Date]] = None,
                       hourShard: Boolean = false): Long = {
    // `hourShard` = the documented hot-day mitigation, implemented: the
    // sink is laid out event_date=…/event_hour=… and a micro-batch rewrites
    // only its touched HOURS — a day receiving events all day no longer
    // re-merges its whole partition every batch, only ~1/24 of it
    val partCols = if (hourShard) Seq("event_date", "event_hour") else Seq("event_date")
    StateLog.healPartitions(spark, outDir)

    val withDate = batch.withColumn("event_date", to_date(col("ts")))
    val withParts =
      if (hourShard) withDate.withColumn("event_hour", hour(col("ts")))
      else withDate
    // O(partitions in batch) — driver-safe; day-granularity callers that
    // already collected the batch's dates pass them in instead of
    // re-scanning the batch
    val touched: Seq[Seq[Any]] = knownDates match {
      case Some(ds) if !hourShard => ds.map(Seq(_))
      case _ => withParts.select(partCols.map(col): _*).distinct()
        .collect().map(_.toSeq).toSeq
    }
    // no-data batch (watermark tick): nothing to merge, touch nothing
    if (touched.isEmpty) return 0L
    // exact touched-partition predicate (an isin per column would
    // cross-product dates × hours and rewrite untouched corners)
    val touchedCond = touched.map(t =>
      partCols.zip(t).map { case (c, v) => col(c) === lit(v) }.reduce(_ && _))
      .reduce(_ || _)
    val slice =
      if (!graft.functions.FsUtils.fs(spark, outDir)
          .exists(new org.apache.hadoop.fs.Path(outDir))) withParts.limit(0)
      else spark.read.parquet(outDir).filter(touchedCond) // partition-pruned scan
    // version = ts: last-write-wins per event_id across batches
    val merged = Merge.upsert(slice, withParts, Seq("event_id"), "ts")
    val staging = StateLog.partitionStaging(outDir)
    merged.write.mode("overwrite").partitionBy(partCols: _*).parquet(staging)
    val n = spark.read.parquet(staging).count()
    // the land's refresh drops the stale file listing for the swapped
    // partitions (the shared FileStatusCache would otherwise serve deleted
    // part files to the next batch's pruned read)
    StateLog.landPartitions(spark, outDir)
    n
  }

  /** Stateful-operator metrics from a (running or stopped) query's recent
    * progress: one row per (micro-batch, state operator) with the state row
    * count, rows updated, and memory footprint. This is the observability
    * the run-log rows can't carry (foreachBatch runs BEFORE the trigger's
    * progress is finalized): state growth must be watched, because
    * `dropDuplicatesWithinWatermark` state is bounded by the watermark
    * horizon — StreamingSpec asserts it stays O(horizon), not O(stream) —
    * and a misconfigured watermark shows up here first.
    */
  def stateProgress(spark: SparkSession, q: StreamingQuery): DataFrame = {
    import spark.implicits._
    q.recentProgress.toSeq.flatMap { p =>
      p.stateOperators.map(s =>
        (p.batchId, s.operatorName, s.numRowsTotal, s.numRowsUpdated,
          s.numRowsRemoved, s.memoryUsedBytes))
    }.toDF("batch_id", "operator", "n_rows_total", "n_rows_updated",
      "n_rows_removed", "memory_bytes")
  }

  /** Append [[stateProgress]] to a parquet log (companion to the per-batch
    * run log; call on stop or on a timer). */
  def logStateProgress(spark: SparkSession, q: StreamingQuery, dir: String): Unit =
    stateProgress(spark, q).write.mode("append").parquet(dir)

  /** Batch-run bookkeeping — the reference's `ingestion_runs` table +
    * `last_backfill_at` (`migrations/init.sql:126-135,12`, SURVEY.md §2.7)
    * as an append-only parquet log, one row per micro-batch with status and
    * timing. `finished_ms` of the last completed row IS last_backfill_at.
    */
  private def logRun(spark: SparkSession, dir: Option[String], batchId: Long,
                     nRows: Long, startedMs: Long, status: String): Unit =
    dir.foreach { d =>
      import spark.implicits._
      Seq((batchId, nRows, startedMs, System.currentTimeMillis(), status))
        .toDF("batch_id", "n_rows", "started_ms", "finished_ms", "status")
        .write.mode("append").parquet(d)
    }
}
