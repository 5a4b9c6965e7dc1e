package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.functions.FsUtils
import graft.operators.History

/** Incremental SCD2 maintenance — the streaming twin of
  * [[graft.operators.History.stateHistory]], and the classic streaming
  * materialization problem: keep a versioned dimension current as its
  * change log arrives. State splits by lifecycle:
  *
  *  - `closed/` — an append-only log of FINISHED intervals. A closed
  *    interval is an immutable fact (its valid_to is the next run's
  *    valid_from, already known), so batch dirs just accumulate and
  *    compaction is pure concatenation.
  *  - `open/` — a keyed MV of each key's ONE open interval (O(keys) rows,
  *    the [[OverviewStream]] shape), rewritten per batch. The batch
  *    watermark (`applied_batch`) lives INSIDE this MV, so the state swap
  *    and the watermark advance are a single atomic rename — there is no
  *    crash window in which the non-idempotent merge could double-count.
  *
  * Per batch: collapse the batch alone into runs (the batch operator's
  * own one-exchange pass), then merge per key: if the stored open run and
  * the batch's first run carry the same state they are ONE run (extend —
  * n_events add, valid_from keeps the older); otherwise the stored run
  * closes AT the batch run's valid_from. Every batch run except the last
  * per key closes within the batch; the last becomes the new open run.
  * Run indices are globalized by per-key offset so the union of closed +
  * open is bitwise the one-shot history, ORDER INCLUDED.
  *
  * EXACT under event-time in-order delivery per key (the
  * [[FunnelStream]]/CurationStream contract — a batch's events are no
  * earlier than every prior batch's): run-length collapse is associative
  * exactly when the concatenation respects time order. Out-of-order
  * history would splice intervals mid-run — that recompute IS the batch
  * operator; the stream refuses regression (ascending-batch-id guard).
  *
  * Crash/replay: the guard reads `applied_batch` from the open MV. A
  * replayed applied batch is a no-op. A crash after the closed append but
  * before the MV swap replays against the OLD open MV and recomputes the
  * IDENTICAL closed rows (deterministic merge), so the existing closed
  * dir is simply kept; the MV swap then completes the batch.
  */
object StateHistoryStream {

  private def closedPath(stateDir: String) = s"$stateDir/closed"
  private def openPath(stateDir: String) = s"$stateDir/open"

  private def emptyOpen(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("user_id"), col("id").as("run_idx"),
      col("id").cast("string").as("state"),
      col("id").cast("timestamp").as("valid_from"),
      col("id").as("n_events"), col("id").as("applied_batch"))

  private def emptyClosed(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("user_id"), col("id").as("run_idx"),
      col("id").cast("string").as("state"),
      col("id").cast("timestamp").as("valid_from"),
      col("id").cast("timestamp").as("valid_to"), col("id").as("n_events"))

  private def recoverSwaps(spark: SparkSession, stateDir: String): Unit =
    StateLog.healSwaps(spark, openPath(stateDir), closedPath(stateDir))

  /** The open-interval MV (one row per key seen so far). */
  def readOpen(spark: SparkSession, stateDir: String): DataFrame = {
    recoverSwaps(spark, stateDir)
    val path = openPath(stateDir)
    if (!FsUtils.fs(spark, path).exists(new org.apache.hadoop.fs.Path(path)))
      emptyOpen(spark)
    else spark.read.parquet(path)
      .select("user_id", "run_idx", "state", "valid_from", "n_events", "applied_batch")
  }

  private def readClosed(spark: SparkSession, stateDir: String): DataFrame = {
    recoverSwaps(spark, stateDir)
    val path = closedPath(stateDir)
    if (!FsUtils.fs(spark, path).exists(new org.apache.hadoop.fs.Path(path)))
      emptyClosed(spark)
    else
      try spark.read.parquet(path)
        // honor the commit point on READ too: a closed/batch=N appended by
        // a crashed applyBatch (MV swap pending, N > applied watermark) is
        // uncommitted — surfacing it would show batch N's closed rows NEXT
        // TO the stale open row they superseded until the replay heals.
        // The inferred `batch` partition column carries the id; -1
        // (compacted) only exists once something committed.
        .filter(col("batch") <= lastApplied(spark, stateDir))
        .select("user_id", "run_idx", "state", "valid_from", "valid_to", "n_events")
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") => emptyClosed(spark)
      }
  }

  /** Highest applied batch id (−1 before the first) — read from the open
    * MV, whose swap IS the commit point. An EMPTY-but-existing MV (every
    * folded batch was empty) also reads −1; the resulting replay of an
    * empty batch is an exact no-op, so the weaker watermark is harmless. */
  def lastApplied(spark: SparkSession, stateDir: String): Long = {
    recoverSwaps(spark, stateDir)
    val path = openPath(stateDir)
    if (!FsUtils.fs(spark, path).exists(new org.apache.hadoop.fs.Path(path))) -1L
    else spark.read.parquet(path).agg(coalesce(max("applied_batch"), lit(-1L)))
      .head().getLong(0)
  }

  /** Fold one micro-batch of the change log (keyed `user_id`, state in
    * `stateCol`, ordered by (`ts`, `tieCol`)). Returns false for batchId ≤
    * lastApplied — the replay guard and ascending-id contract. */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                 stateDir: String, stateCol: String = "state",
                 tieCol: String = "event_id",
                 autoCompactBatches: Int = 0): Boolean = {
    recoverSwaps(spark, stateDir)
    if (batchId <= lastApplied(spark, stateDir)) return false

    // checkpointed: bruns feeds BOTH the closed-rows write and the open-MV
    // rewrite — unmaterialized, the batch scan + window would run twice
    val bruns = History.runsOf(batch, "user_id", stateCol, "ts", tieCol)
      .localCheckpoint(true)
    val open = readOpen(spark, stateDir)
    // per-key merge decision against the batch's FIRST run (grp = 1)
    val first = bruns.filter(col("grp") === 1L)
      .select(col("user_id"), col("state").as("fstate"),
        col("valid_from").as("ffrom"))
    val oj = open.join(first, Seq("user_id"), "left")
      .withColumn("merge", col("ffrom").isNotNull && (col("state") <=> col("fstate")))
    // stored open runs that CLOSE: batch starts a different state
    val closeOld = oj.filter(col("ffrom").isNotNull && !col("merge"))
      .select(col("user_id"), col("run_idx"), col("state"), col("valid_from"),
        col("ffrom").as("valid_to"), col("n_events"))
    // per-key run-index offset + merge carry for the batch's runs
    val carry = oj.filter(col("ffrom").isNotNull).select(col("user_id"),
      when(col("merge"), col("run_idx") - 1L).otherwise(col("run_idx")).as("off"),
      when(col("merge"), col("n_events")).otherwise(lit(0L)).as("carry_n"),
      when(col("merge"), col("valid_from")).otherwise(lit(null).cast("timestamp")).as("carry_from"))
    val shifted = bruns.join(carry, Seq("user_id"), "left")
      .withColumn("run_idx", col("grp") + coalesce(col("off"), lit(0L)))
      .withColumn("valid_from", when(col("grp") === 1L,
        coalesce(col("carry_from"), col("valid_from"))).otherwise(col("valid_from")))
      .withColumn("n_events", col("n_events") +
        when(col("grp") === 1L, coalesce(col("carry_n"), lit(0L))).otherwise(lit(0L)))
      .select("user_id", "run_idx", "state", "valid_from", "valid_to", "n_events")
    val closedRows = closeOld.unionByName(shifted.filter(col("valid_to").isNotNull))
    // new open MV: keys untouched this batch keep their row; keys in the
    // batch open their LAST run
    val keepOpen = open.join(first.select("user_id"), Seq("user_id"), "left_anti")
      .drop("applied_batch")
    val newOpen = keepOpen
      .unionByName(shifted.filter(col("valid_to").isNull).drop("valid_to"))
      .withColumn("applied_batch", lit(batchId))
      .localCheckpoint(true)

    // 1. closed append — skipped when the dir survived a crashed attempt:
    // the replay recomputes identical rows (see scaladoc), keeping is the
    // idempotent choice
    val closedLog = new StateLog(spark, stateDir, "closed")
    closedLog.commitBatch(closedRows, batchId)
    // 2. open MV swap = watermark advance, one atomic rename
    StateLog.swapWrite(spark, openPath(stateDir), newOpen)
    StateLog.release(newOpen)
    StateLog.release(bruns)
    closedLog.maybeAutoCompact(autoCompactBatches)(compactState(spark, stateDir))
    true
  }

  /** The full interval history folded so far — over in-order-delivered
    * union events this is bitwise the one-shot [[History.stateHistory]],
    * ordering included (StateHistoryStreamSpec). */
  def currentHistory(spark: SparkSession, stateDir: String): DataFrame = {
    val closed = readClosed(spark, stateDir)
    val open = readOpen(spark, stateDir)
      .select(col("user_id"), col("run_idx"), col("state"), col("valid_from"),
        lit(null).cast("timestamp").as("valid_to"), col("n_events"))
    closed.unionByName(open)
      .orderBy("user_id", "run_idx")
      .select(col("user_id"), col("state"), col("valid_from"), col("valid_to"),
        col("n_events"), col("valid_to").isNull.as("is_current"))
  }

  /** Concatenate closed batch dirs into `batch=-1` (immutable facts — a
    * pure rewrite behind the package temp-swap + heal; no fold watermark
    * needed because replays are guarded by the open MV's commit point). */
  def compactState(spark: SparkSession, stateDir: String): Unit = {
    recoverSwaps(spark, stateDir)
    // A closed/batch=N dir whose MV swap CRASHED (N > applied watermark) is
    // not yet committed: folding it into batch=-1 would let the upcoming
    // replay re-append it — every closed row of batch N twice. The window
    // is one crashed batch wide and heals on the next applyBatch, so the
    // safe move is to skip compaction until the state is consistent
    // (StateLog's skipAboveWatermark guard).
    new StateLog(spark, stateDir, "closed").compact(
      _.select("user_id", "run_idx", "state", "valid_from", "valid_to", "n_events"),
      watermark = false,
      skipAboveWatermark = Some(lastApplied(spark, stateDir)))
  }

  /** File-source wrapper: parquet change-log drops → live interval state. */
  def runFileStream(spark: SparkSession, inDir: String, stateDir: String,
                    checkpointDir: String, schemaFrom: DataFrame,
                    stateCol: String = "state", tieCol: String = "event_id",
                    autoCompactBatches: Int = 16): StreamingQuery =
    spark.readStream
      .schema(schemaFrom.schema)
      .parquet(inDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(spark, batch, batchId, stateDir, stateCol, tieCol,
          autoCompactBatches = autoCompactBatches)
        ()
      }
      .start()
}
