package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.CorpusOverlap

/** Streaming cross-source overlap monitoring: document batches (new crawl
  * drops) fold into per-source MinHash signatures; the pairwise overlap
  * matrix is re-derived per batch from signatures alone — sources × numPerm
  * longs of state, NEVER a corpus rescan. The monitoring shape a curation
  * service wants: "did yesterday's crawl make src7 collapse into src3?"
  * answered continuously at O(batch) cost.
  *
  * Why this streams so cleanly: the elementwise-min signature fold
  * ([[CorpusOverlap.mergeSignatures]]) is associative, commutative, and
  * IDEMPOTENT — any batch arrival order and any replay merge to exactly the
  * whole-corpus signature (OverlapStreamSpec pins stream ≡ batch equality).
  * Contrast with the relabel bookkeeping ComponentsStream needs: min-fold
  * state is self-healing, so there is no compaction debt beyond dir COUNT
  * (each batch adds sources × numPerm longs forever).
  *
  * State: a [[StateLog]] of the batch's OWN per-source signatures
  * (`sigs/batch=<id>`); [[compactState]] is the lossless idempotent
  * [[StateLog.compact]] case (`watermark = false`): `batch=-1` is
  * un-targetable by replays, and a post-compaction replay of batch b
  * re-commits only its own `batch=b` with content the min-fold has already
  * absorbed — harmless duplication, never state loss. Output:
  * `out/batch=<id>` — the estimate matrix as of that batch (monotone
  * estimates; per-batch snapshots keep the trajectory).
  *
  * Post-compaction caveat (the standard [[StateLog.read]] one): `batch=-1`
  * participates in every `uptoBatch`-bounded read, so a replayed batch's
  * OUTPUT snapshot reflects the compacted state — a superset of what its
  * first delivery saw — rather than the exact prefix. The merged signature
  * itself is unaffected (idempotent fold); compaction trades prefix-exact
  * replay snapshots for a bounded dir count.
  */
object OverlapStream {

  private def log(spark: SparkSession, stateDir: String): StateLog =
    new StateLog(spark, stateDir, "sigs")

  private def emptyState(spark: SparkSession): DataFrame =
    spark.range(0)
      .select(col("id").cast("string").as("slice"),
        lit(null).cast("array<bigint>").as("sig"))

  /** Signature state accumulated by batches ≤ `uptoBatch`, merged to one
    * row per source — the bound keeps replays byte-identical even after
    * later batches landed ([[DecontamStream]] pattern; compaction caveat
    * above). */
  def mergedState(spark: SparkSession, stateDir: String,
      uptoBatch: Long = Long.MaxValue): DataFrame =
    CorpusOverlap.mergeSignatures(
      log(spark, stateDir).read(Seq("slice", "sig"), emptyState(spark), uptoBatch))

  /** Fold one document micro-batch: commit the batch's own signatures, then
    * snapshot the estimate matrix from state ≤ this batch. Idempotent per
    * batchId — a replay whose state dir survived skips the state rewrite
    * (deterministic content) and re-derives only its output snapshot. */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      stateDir: String, outDir: String, numPerm: Int = 128,
      autoCompactBatches: Int = 0): Unit = {
    val lg = log(spark, stateDir)
    if (!lg.alreadyApplied(batchId))
      lg.commitBatch(
        CorpusOverlap.sliceSignatures(
          CorpusOverlap.sliceVocab(batch, "text", "source"), numPerm),
        batchId)
    CorpusOverlap.estimateFromSignatures(
        mergedState(spark, stateDir, uptoBatch = batchId), numPerm)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    lg.maybeAutoCompact(autoCompactBatches)(compactState(spark, stateDir))
  }

  /** Fold the per-batch signature dirs into one `batch=-1` merge — the
    * lossless idempotent [[StateLog.compact]] case (`watermark = false`):
    * no foldmeta needed because min-of-mins re-absorbs any replayed
    * batch's signatures as a no-op, and the whole-log temp-swap (healed by
    * [[StateLog.healSwaps]] on next access) replaces the old
    * write-into-then-delete dance. */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    log(spark, stateDir).compact(
      df => CorpusOverlap.mergeSignatures(df.select("slice", "sig")),
      watermark = false)

  /** File-source wrapper: document parquet drops → signature state +
    * per-batch overlap snapshots. */
  def run(spark: SparkSession, inDir: String, stateDir: String, outDir: String,
      checkpointDir: String, schemaFrom: DataFrame,
      numPerm: Int = 128): StreamingQuery =
    spark.readStream
      .schema(schemaFrom.schema)
      .parquet(inDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(spark, batch, batchId, stateDir, outDir, numPerm)
      }
      .start()
}
