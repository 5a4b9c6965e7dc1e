package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Monitor

/** Continuous per-source drift monitoring — the streaming twin of
  * [[graft.operators.Monitor.sourceDrift]]. Per-batch binned
  * (source, bucket) counts are additive, so the folded state over the
  * union of batches equals the one-shot counts EXACTLY — provided every
  * batch bins into the SAME grid. The grid is therefore elected ONCE at
  * deployment and PERSISTED with the state (the [[HistogramStream]]
  * frozen-grid contract; re-deriving min/max per batch would re-bucket
  * history and break the fold). [[currentDrift]] then runs the PSI finish
  * over the folded ≤ sources×nBuckets matrix — this is the deployment the
  * batch operator approximates: drift is a question you ask CONTINUOUSLY
  * as sources evolve, not once per corpus rebuild.
  *
  * Values drifting OUTSIDE the frozen grid clamp into the edge buckets,
  * and a source doing so diverges from the rest of the corpus in exactly
  * those buckets — the clamp FEEDS the PSI signal rather than hiding it.
  *
  * Per-batch cost: one narrow bucketing pass whose aggregate exchange
  * carries ≤ sources × nBuckets partial counts per partition — O(batch),
  * flat state. Counts are NOT idempotent under re-fold, so this rides the
  * [[StateLog]] commit discipline (batch-dir replay guard, foldmeta
  * watermark BEFORE the compaction swap, temp-swap healing — the grid
  * sidecar is registered for the heal too).
  */
object DriftStream {

  private def log(spark: SparkSession, stateDir: String) =
    new StateLog(spark, stateDir, "cnt", sidecarNames = Seq("grid"))

  private def gridPath(stateDir: String) = s"$stateDir/grid"

  private def emptyState(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").cast("string").as("source"),
      col("id").as("bucket"), col("id").as("cnt"))

  /** Persist the elected grid + column binding (first deployment only — an
    * existing grid is authoritative and silently wins: the fold's
    * correctness depends on every batch using the grid the STATE was built
    * with). Returns the active (valueCol, sourceCol, grid, nBuckets). */
  def ensureGrid(spark: SparkSession, stateDir: String,
                 grid: Option[(Double, Double)], nBuckets: Int,
                 valueCol: String = "n_chars",
                 sourceCol: String = "source"): (String, String, Option[(Double, Double)], Int) = {
    import spark.implicits._
    log(spark, stateDir).recoverSwaps()
    StateLog.commitOnce(spark, gridPath(stateDir), gridPath(stateDir) + ".tmp-init",
      Seq((valueCol, sourceCol, grid.map(_._1), grid.map(_._2), nBuckets))
        .toDF("value_col", "source_col", "mn", "mx", "k"))
    activeGrid(spark, stateDir)
  }

  /** The persisted column binding + grid + bucket count. */
  def activeGrid(spark: SparkSession,
                 stateDir: String): (String, String, Option[(Double, Double)], Int) = {
    log(spark, stateDir).recoverSwaps()
    val r = spark.read.parquet(gridPath(stateDir))
      .select("value_col", "source_col", "mn", "mx", "k").head()
    (r.getString(0), r.getString(1),
      if (r.isNullAt(2)) None else Some((r.getDouble(2), r.getDouble(3))),
      r.getInt(4))
  }

  def foldedUpto(spark: SparkSession, stateDir: String): Long =
    log(spark, stateDir).foldedUpto()

  /** Fold one micro-batch under the persisted grid (idempotent per
    * batchId). Returns false when the replay guards short-circuited. */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                 stateDir: String,
                 autoCompactBatches: Int = 0): Boolean = {
    val lg = log(spark, stateDir)
    if (lg.alreadyApplied(batchId)) return false
    val (vCol, sCol, grid, k) = activeGrid(spark, stateDir)
    lg.commitBatch(Monitor.driftState(batch, grid, k, vCol, sCol), batchId)
    lg.maybeAutoCompact(autoCompactBatches)(compactState(spark, stateDir))
    true
  }

  private def readState(spark: SparkSession, stateDir: String): DataFrame =
    log(spark, stateDir).read(Seq("source", "bucket", "cnt"), emptyState(spark))
      .groupBy("source", "bucket").agg(sum("cnt").as("cnt"))

  /** PSI per source over everything folded so far — over the union corpus
    * (grid fixed to its min/max) this equals the one-shot
    * [[Monitor.sourceDrift]] exactly (DriftStreamSpec). */
  def currentDrift(spark: SparkSession, stateDir: String): DataFrame = {
    val (_, _, _, k) = activeGrid(spark, stateDir)
    Monitor.finishDrift(readState(spark, stateDir), k)
  }

  /** Fold all batch dirs into `batch=-1` by count sum (lossless; watermark
    * BEFORE swap — the [[StateLog.compact]] discipline). */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    log(spark, stateDir).compact(
      _.groupBy("source", "bucket").agg(sum("cnt").as("cnt")))

  /** File-source wrapper: parquet document drops → folded drift state. The
    * grid must already be persisted via [[ensureGrid]]. */
  def runFileStream(spark: SparkSession, inDir: String, stateDir: String,
                    checkpointDir: String, schemaFrom: DataFrame,
                    autoCompactBatches: Int = 16): StreamingQuery =
    spark.readStream
      .schema(schemaFrom.schema)
      .parquet(inDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(spark, batch, batchId, stateDir,
          autoCompactBatches = autoCompactBatches)
        ()
      }
      .start()
}
