package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.functions.FsUtils
import graft.operators.Sampling

/** Streaming weighted reservoir — [[Sampling.sampleWeighted]] (token-mass-
  * proportional A-ES race) maintained incrementally over an unbounded
  * document stream. At 100 TB "re-sample the corpus per delivery" is a
  * full-corpus TakeOrdered per batch; this folds instead:
  *
  *  - per batch, only the batch's OWN top-n race candidates are appended
  *    (`candidates/batch=<id>`, O(n) rows — the global top-n is always a
  *    subset of the union of per-batch top-ns, so nothing else can ever be
  *    needed);
  *  - the queryable sample is the top-n of the (deduped) candidate log;
  *  - [[compactState]] folds the log to its fixpoint: exactly the ≤n
  *    current winners.
  *
  * Because a doc's race key is a pure deterministic function of its id and
  * token count (no RNG state), the reservoir's sample EQUALS the batch
  * [[Sampling.sampleWeightedOf]] over the union of all batches under ANY
  * batch split and ANY arrival order — a strictly stronger contract than
  * the first-arrival-wins streams (ReservoirStreamSpec pins it, including
  * cross-batch redelivery, replay, and mid-compaction crash heal).
  * State appends are idempotent per batch (`batch=<id>` skip-if-exists);
  * cross-batch redelivery of a doc is deduped read-side by doc_id (its key
  * is identical in every copy).
  */
object ReservoirStream {

  private def candPath(stateDir: String) = s"$stateDir/candidates"

  /** Read the candidate log, healing a compaction orphan first. */
  private def readCandidates(spark: SparkSession, stateDir: String,
                             like: DataFrame): DataFrame = {
    val path = candPath(stateDir)
    StateLog.healSwaps(spark, path)
    if (FsUtils.fs(spark, path).exists(new org.apache.hadoop.fs.Path(path)))
      spark.read.parquet(path)
    else like.limit(0)
  }

  /** Fold one batch of documents: append the batch's own top-n race
    * candidates under `candidates/batch=<batchId>`, idempotently (an
    * existing dir means a replay — skip, the state already reflects it). */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                 stateDir: String, n: Int = 50): Unit = {
    val lg = new StateLog(spark, stateDir, "candidates")
    if (lg.alreadyApplied(batchId)) return
    // Dedup WITHIN the batch before taking the top-n: at-least-once delivery
    // can land the same doc twice in one micro-batch, and a duplicate would
    // occupy two of the n candidate slots, evicting a distinct doc that
    // belongs to the global top-n (cross-batch redelivery is handled
    // read-side, but read-side dedup can't resurrect a doc that never made
    // it into the candidate log).
    val cands = Sampling.weightedRaceKeys(batch.dropDuplicates("doc_id"))
      .orderBy(col("wkey").desc, col("doc_id"))
      .limit(n)
    lg.commitBatch(cands, batchId, coalesce1 = false)
  }

  /** The queryable sample: global top-n over the candidate log — identical
    * schema and ranking to the batch [[Sampling.sampleWeightedOf]]. */
  def currentSample(spark: SparkSession, stateDir: String, n: Int = 50): DataFrame =
    Sampling.raceTopN(
      readCandidates(spark, stateDir, emptyLike(spark))
        .dropDuplicates("doc_id"), // cross-batch redelivery: keys identical
      n)

  /** Fold the candidate log to its fixpoint — the ≤n current winners,
    * kept under the max seen `batch=` dir so the layout stays uniform
    * (mixing root-level data files with `batch=` partition dirs would make
    * partition discovery silently skip the root files on the next read
    * after a post-compaction fold). Read cost of [[currentSample]] grows
    * O(n·batches) until this runs; afterwards it is O(n). Temp-swap with
    * orphan heal on the read side, like every other state table. A replay
    * of a pre-compaction batch id re-creates its dir afterwards — harmless:
    * its rows already lost (or kept identical keys in) the race, and the
    * read side dedupes by doc_id. */
  def compactState(spark: SparkSession, stateDir: String, n: Int = 50): Unit = {
    val path = candPath(stateDir)
    val fs = FsUtils.fs(spark, path)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path))) return
    val maxBatch = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath.getName).filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong)
      .foldLeft(0L)(math.max)
    val folded = readCandidates(spark, stateDir, emptyLike(spark))
      .dropDuplicates("doc_id")
      .orderBy(col("wkey").desc, col("doc_id"))
      .limit(n)
      .select("source", "doc_id", "n_tokens", "wkey") // not the batch col
    StateLog.swapWrite(spark, path, folded, coalesce1 = false,
      subdir = Some(s"batch=$maxBatch"))
  }

  private def emptyLike(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("source", StringType), StructField("doc_id", LongType),
        StructField("n_tokens", LongType), StructField("wkey", DoubleType))))
  }

  /** File-source streaming wrapper: document parquet drops in `inDir` →
    * per-micro-batch reservoir fold with state under `stateDir`. */
  def runFileStream(spark: SparkSession, inDir: String, stateDir: String,
                    checkpointDir: String, schemaFrom: DataFrame,
                    n: Int = 50): StreamingQuery =
    spark.readStream
      .schema(schemaFrom.schema)
      .parquet(inDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(spark, batch, batchId, stateDir, n)
        ()
      }
      .start()
}
