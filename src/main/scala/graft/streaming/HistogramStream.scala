package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Profile

/** Streaming distribution monitoring — the frozen-grid fold of
  * [[Profile.histogram]]. Per-batch bucket counts are additive, so the
  * folded state over the union of batches equals the one-shot histogram
  * EXACTLY — provided every batch buckets into the SAME grid. The grid is
  * therefore elected ONCE at deployment (from a profile/histogramGrid run
  * over a reference corpus) and PERSISTED with the state: re-deriving
  * min/max per batch would re-bucket history and break the fold.
  *
  * Values that drift OUTSIDE the frozen grid clamp into the edge buckets
  * — growing edge-bucket mass IS the monitoring signal that the grid (and
  * whatever was calibrated on the old distribution) needs re-election,
  * the same drift-trigger role the folded top-k plays for [[BpeStream]].
  *
  * Per-batch cost: one narrow bucketing pass over the batch whose
  * aggregate exchange carries ≤ cols × nBuckets partial counts per
  * partition — O(batch), flat state. Counts are NOT idempotent under
  * re-fold, so this rides the [[StateLog]] commit discipline (batch-dir
  * replay guard, foldmeta watermark BEFORE the compaction swap, temp-swap
  * healing — the grid sidecar is registered for the heal too).
  */
object HistogramStream {

  private def log(spark: SparkSession, stateDir: String) =
    new StateLog(spark, stateDir, "hist", sidecarNames = Seq("grid"))

  private def gridPath(stateDir: String) = s"$stateDir/grid"

  private def emptyState(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").cast("string").as("col_name"),
      col("id").as("bucket"), col("id").as("cnt"))

  /** Persist the elected grid (first deployment only — an existing grid is
    * authoritative and silently wins: the fold's correctness depends on
    * every batch using the grid the STATE was built with, not the one the
    * caller happens to pass after a restart). Returns the active grid. */
  def ensureGrid(spark: SparkSession, stateDir: String,
                 grid: Seq[(String, Option[(Double, Double)])],
                 nBuckets: Int): Seq[(String, Option[(Double, Double)])] = {
    import spark.implicits._
    log(spark, stateDir).recoverSwaps()
    StateLog.commitOnce(spark, gridPath(stateDir), gridPath(stateDir) + ".tmp-init",
      grid.map { case (c, b) => (c, b.map(_._1), b.map(_._2), nBuckets) }
        .toDF("col_name", "mn", "mx", "k"))
    activeGrid(spark, stateDir)._1
  }

  /** The persisted grid + bucket count. */
  def activeGrid(spark: SparkSession,
                 stateDir: String): (Seq[(String, Option[(Double, Double)])], Int) = {
    log(spark, stateDir).recoverSwaps()
    val rows = spark.read.parquet(gridPath(stateDir))
      .select("col_name", "mn", "mx", "k").collect()
    val k = rows.head.getInt(3)
    (rows.toSeq.map { r =>
      r.getString(0) -> (if (r.isNullAt(1)) None
                         else Some((r.getDouble(1), r.getDouble(2))))
    }, k)
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
    val (grid, k) = activeGrid(spark, stateDir)
    lg.commitBatch(Profile.histogramState(batch, grid, k), batchId)
    lg.maybeAutoCompact(autoCompactBatches)(compactState(spark, stateDir))
    true
  }

  private def readState(spark: SparkSession, stateDir: String): DataFrame =
    log(spark, stateDir).read(Seq("col_name", "bucket", "cnt"), emptyState(spark))

  /** The zero-filled histogram of everything folded so far — over the
    * union corpus (grid fixed to its min/max) this equals the one-shot
    * [[Profile.histogram]] exactly (HistogramStreamSpec). */
  def currentHistogram(spark: SparkSession, stateDir: String): DataFrame = {
    val (grid, k) = activeGrid(spark, stateDir)
    Profile.finishHistogram(readState(spark, stateDir), spark, grid, k)
  }

  /** Fraction of each column's folded mass sitting in its edge buckets —
    * the drift read. Under a well-elected grid this stays near the edge
    * buckets' natural share; growth means the live distribution has
    * escaped the frozen grid. */
  def edgeMass(spark: SparkSession, stateDir: String): DataFrame = {
    val (_, k) = activeGrid(spark, stateDir)
    readState(spark, stateDir)
      .groupBy("col_name")
      .agg(
        round(sum(when(col("bucket") === 0 || col("bucket") === (k - 1).toLong,
            col("cnt")).otherwise(0L)).cast("double") /
          sum(col("cnt")), 4).as("edge_fraction"),
        sum("cnt").as("n"))
      .orderBy("col_name")
  }

  /** Fold all batch dirs into `batch=-1` by count sum (lossless; watermark
    * BEFORE swap — the [[StateLog.compact]] discipline). */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    log(spark, stateDir).compact(
      _.groupBy("col_name", "bucket").agg(sum("cnt").as("cnt")))

  /** File-source wrapper: parquet drops → folded histogram state. The grid
    * must already be persisted via [[ensureGrid]]. */
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
