package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Prep

/** Streaming decontamination with an EVOLVING benchmark set: documents
  * arrive on one stream — benchmark (eval) docs (`doc_id % 10 = 0` stands
  * in, as in the batch query) grow the accumulated shingle-hash state, and
  * every training doc is flagged against the benchmark-as-of-its-batch.
  * This is the production shape for eval-set additions: adding a benchmark
  * doc is an O(its shingles) state append, never a corpus rescan.
  *
  * State: a [[StateLog]] of the batch's distinct benchmark shingle hashes
  * (`bench_shingles/batch=<id>`); the set-union fold is idempotent, so
  * [[compactState]] runs the `watermark = false` [[StateLog.compact]]
  * discipline — `batch=-1` is un-targetable by replays and re-absorbing a
  * replayed batch's shingles into the distinct union is a no-op. Output:
  * `out/batch=<id>` — (doc_id, contaminated, n_shared) for the batch's
  * training docs, deterministic overwrite per batch dir.
  *
  * Consistency contract (DecontamStreamSpec): flags are FIRST-ARRIVAL —
  * a training doc is judged against benchmark docs delivered in its batch
  * or earlier, so (a) if the full benchmark arrives first, the accumulated
  * output EQUALS the batch [[Prep.decontaminate]]; (b) under any arrival
  * order, streaming flags are a SUBSET of the batch run's (late benchmark
  * docs can only have under-flagged — nothing is ever over-flagged).
  * Post-compaction caveat (the standard [[StateLog.read]] one): `batch=-1`
  * participates in every bounded read, so a batch REPLAYED after a
  * compaction flags against the compacted superset of its first-delivery
  * state — still only real benchmark shingles, so contract (b) holds
  * unconditionally; byte-identical replay holds for batches whose
  * first-delivery state has not been folded away.
  */
object DecontamStream {

  private def log(spark: SparkSession, stateDir: String): StateLog =
    new StateLog(spark, stateDir, "bench_shingles")

  private def emptyState(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("sh"))

  /** Benchmark hashes accumulated by batches ≤ `uptoBatch` — the bound
    * makes a replayed batch read EXACTLY the state its first delivery saw
    * (compaction caveat above), even if later batches have already grown
    * the benchmark. */
  private def benchState(spark: SparkSession, stateDir: String,
      uptoBatch: Long): DataFrame =
    log(spark, stateDir).read(Seq("sh"), emptyState(spark), uptoBatch)

  /** Fold one document micro-batch: grow the benchmark state, then flag
    * the batch's training docs against the accumulated state. Idempotent
    * per batchId — a replay whose state dir survived skips the state
    * rewrite (deterministic content) and re-derives only its output. */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      stateDir: String, outDir: String, autoCompactBatches: Int = 0): Unit = {
    val lg = log(spark, stateDir)
    if (!lg.alreadyApplied(batchId))
      lg.commitBatch(Prep.benchShingleHashes(batch.filter(Prep.isBenchDoc)), batchId)
    // state ≤ this batch: same-batch benchmark docs apply to same-batch
    // training docs (matches the batch query when everything arrives at
    // once), later batches are invisible so a replay is byte-identical;
    // distinct over batch dirs because the same shingle may enter the
    // state in several batches
    val bench = benchState(spark, stateDir, uptoBatch = batchId).distinct()
    Prep.decontaminateAgainst(batch.filter(!Prep.isBenchDoc), bench)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    lg.maybeAutoCompact(autoCompactBatches)(compactState(spark, stateDir))
  }

  /** Fold the per-batch shingle dirs into one distinct `batch=-1` set —
    * the lossless idempotent [[StateLog.compact]] case (`watermark =
    * false`): no foldmeta needed because re-absorbing a replayed batch's
    * deterministic shingles into the union changes nothing. */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    log(spark, stateDir).compact(_.select("sh").distinct(), watermark = false)

  /** The accumulated flag table (one row per delivered training doc).
    * Fresh or file-less output (no training doc delivered yet) reads as
    * empty, like the state reads. */
  def readFlags(spark: SparkSession, outDir: String): DataFrame = {
    val empty = spark.range(0).select(col("id").as("doc_id"),
      lit(false).as("contaminated"), lit(0L).as("n_shared"))
    if (!graft.functions.FsUtils.fs(spark, outDir)
        .exists(new org.apache.hadoop.fs.Path(outDir))) empty
    else
      try spark.read.parquet(outDir).drop("batch")
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") => empty
      }
  }

  /** File-source wrapper: document parquet drops → incremental flags. */
  def run(spark: SparkSession, inDir: String, stateDir: String, outDir: String,
      checkpointDir: String, schemaFrom: DataFrame): StreamingQuery =
    spark.readStream
      .schema(schemaFrom.schema)
      .parquet(inDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(spark, batch, batchId, stateDir, outDir)
      }
      .start()
}
