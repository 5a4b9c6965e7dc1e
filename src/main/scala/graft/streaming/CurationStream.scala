package graft.streaming

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Dedup
import graft.functions.TextFunctions._
import graft.functions.FsUtils

/** Incremental corpus curation — [[graft.operators.Curation.curate]] as a
  * stateful streaming pass. At 100 TB you cannot re-curate the corpus per
  * delivery; new documents must be judged against compact state, not
  * against the corpus:
  *
  *  - exact dedup state: APPEND-ONLY log of content hashes ever seen with
  *    the first owning doc id — O(batch) rows written per batch;
  *  - near-dup state: APPEND-ONLY log of `(band_idx, band_key, doc_id)`
  *    rows — the election `min(doc_id)` per bucket is computed read-side
  *    over the log restricted (semi-join) to the batch's own bucket keys,
  *    so a batch never shuffles or rewrites the accumulated state. The log
  *    grows O(docs·bands); [[compactState]] folds it to one row per bucket
  *    (run it like any table-maintenance pass — cf.
  *    [[graft.operators.Layout.compactPartitions]]).
  *
  * A new doc is kept iff (a) its content hash is unseen, (b) the minimum
  * over its buckets' (log ∪ batch) elections is its own id, and (c) it
  * passes the stateless quality/language gates.
  *
  * Commit order per batch: curated rows land in `outDir/batch=<id>` via
  * [[StateLog.commitBatchDir]] FIRST, state appends second. Replay after a
  * crash is safe at every boundary: before the output rename the state is
  * untouched and the batch recomputes identically; after it, the existing
  * `batch=<id>` dir is detected and skipped while the idempotent state
  * appends re-run (an already-appended batch contributes nothing new —
  * its hashes are no longer "fresh"). The one non-ideal window: a crash
  * between the hash append and the bucket append loses the batch's band
  * rows, which can only OVER-keep later near-dups, never drop kept rows.
  *
  * Consistency contract (CurationStreamSpec): when docs arrive in id order
  * — the backfill/replay case — the accumulated output row set EQUALS the
  * batch `Curation.curate` over the union of all batches. Out-of-order
  * arrival degrades to first-arrival-wins: the stream may KEEP a doc the
  * batch pass would have dropped (a smaller id arriving later cannot
  * retract an emitted row), and for EXACT duplicates the first-arrived
  * copy stands in for the batch's min-id copy (same content, possibly a
  * different doc_id). The near-dup stage alone never drops a batch-kept
  * doc under ANY batch split: a doc that is the global minimum of all its
  * buckets is also the minimum among every earlier-or-equal subset.
  */
object CurationStream {

  private val Bands = 8
  private val NumPerm = 64

  /** One collected batch document: its row (the five output columns
    * after `doc_id`, then the fold's keys and gate verdict), its id as a
    * long, content hash, LSH band keys and gate verdict. */
  private case class BatchDoc(row: Row, id: Long, hash: String,
                              bands: Seq[(Int, Long)], gate: Boolean)

  /** A local frame of driver rows. */
  private def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** Curate one batch of documents against (and appending to) the state
    * under `stateDir`; returns the kept curated rows (same schema as the
    * batch pipeline's output). With `outDir` set, rows land in
    * `outDir/batch=<batchId>` idempotently (replays skip an existing dir).
    *
    * Per-batch work: ONE pass over the batch computes, per document, its
    * content hash, its [[Dedup.lshBandKeys]] (the batch pipeline's key
    * expression: word-level signatures, 64 perms, 8 bands), its five output
    * columns and its gate verdict, and collects those rows without the
    * text. Each state table is then probed once with a broadcast semi-join
    * on the batch's own keys: `hashes` on the batch's content hashes,
    * `buckets` on the exact-kept documents' bucket keys (taking the minimum
    * logged doc id per bucket). Exact dedup and the near-dup election run
    * on the driver over those rows, and the output and both appends are
    * written from local frames. Driver memory is O(batch docs) fixed-width
    * rows, the same class of bound a broadcast of the batch's keys already
    * places on a batch; the accumulated state is never shuffled or
    * rewritten by a fold. `hashFn` must match the one that built any
    * existing state (bucket keys are hash-specific).
    */
  def curateBatch(spark: SparkSession, batch: DataFrame, stateDir: String,
                  batchId: Long,
                  outDir: Option[String] = None,
                  minQuality: Double = 0.3, lang: String = "en",
                  hashFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
                    org.apache.spark.sql.functions.xxhash64(_),
                  autoCompactBytes: Long = 0L): DataFrame = {
    val hashesPath = s"$stateDir/hashes"
    val bucketsPath = s"$stateDir/buckets"

    // --- one pass: keys, output columns and gate verdict per document -----
    val quality = qualityScore(col("text"))
    val langPred = langIdHeuristic(col("text"))
    val sig = Dedup.minhashSignature(Dedup.wordShingles(col("text"), 1),
      Dedup.permutations(NumPerm), hashFn)
    // a null id joins nothing, so no fold ever keeps or records it
    val pass = batch.filter(col("doc_id").isNotNull).select(
      col("doc_id"),
      langPred.as("lang_pred"),
      quality.as("quality"),
      length(col("text")).cast("long").as("char_len"),
      wsTokenCount(col("text")).as("ws_tokens"),
      reTokenCount(col("text")).as("re_tokens"),
      md5(col("text")).as("content_hash"),
      Dedup.lshBandKeys(sig, NumPerm, Bands).as("bands"),
      coalesce(quality >= minQuality && langPred === lang, lit(false)).as("gate"))
    val outSchema = StructType(pass.schema.fields.take(6))
    val idField = pass.schema("doc_id")
    val hashField = pass.schema("content_hash")
    val bandFields = pass.schema("bands").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType].fields
    val hashSchema = StructType(Seq(hashField, idField.copy(name = "owner_id")))
    val bucketSchema = StructType(idField +: bandFields)
    val docs = pass.collect().toSeq.map(r => BatchDoc(r, r.getAs[Number](0).longValue,
      r.getString(6), Option(r.getSeq[Row](7)).getOrElse(Nil).map(b => (b.getInt(0), b.getLong(1))),
      r.getBoolean(8)))

    /** `read` over the state table at `path` restricted to `keys` (a
      * broadcast semi-join); None when the table or the key set is empty. */
    def probe[T](path: String, schema: StructType, keys: Seq[Row], keySchema: StructType)(
        read: DataFrame => T): Option[T] =
      StateLog.readKnown(spark, path, schema).filter(_ => keys.nonEmpty).map(state =>
        read(state.join(broadcast(local(spark, keys, keySchema)),
          keySchema.fieldNames.toSeq, "left_semi")))

    // --- exact dedup: min id per hash, against the hashes seen before -----
    val firstOf = mutable.LinkedHashMap.empty[String, BatchDoc]
    docs.foreach(d => if (firstOf.get(d.hash).forall(_.id > d.id)) firstOf(d.hash) = d)
    val seen = probe(hashesPath, hashSchema, firstOf.keys.filter(_ != null).map(Row(_)).toSeq,
        StructType(Seq(hashField)))(
      _.select("content_hash").collect().map(_.getString(0)).toSet).getOrElse(Set.empty)
    // a null hash never matches state (SQL equality), so it is always fresh
    val fresh = firstOf.values.filter(d => d.hash == null || !seen(d.hash)).toSeq
    val freshIds = fresh.map(_.id).toSet
    val exactKept = docs.filter(d => freshIds(d.id))

    // --- near-dup election against (log ∪ batch), batch's buckets only ----
    val bucketMin = mutable.HashMap.empty[(Int, Long), Long]
    probe(bucketsPath, bucketSchema,
        exactKept.flatMap(_.bands).distinct.map { case (i, k) => Row(i, k) },
        StructType(bandFields))(
      _.groupBy("band_idx", "band_key").agg(min(col("doc_id").cast("long")))
        .collect().foreach(r => bucketMin((r.getInt(0), r.getLong(1))) = r.getLong(2)))
    exactKept.foreach(d => d.bands.foreach(k =>
      bucketMin(k) = bucketMin.get(k).fold(d.id)(math.min(_, d.id))))
    // a doc is kept iff it is the minimum over every one of its buckets
    val nearKept = exactKept.groupBy(_.id).collect {
      case (id, ds) if ds.flatMap(_.bands).map(bucketMin).minOption.contains(id) => id
    }.toSet

    // --- stateless gates: the pass's verdict ------------------------------
    val result = local(spark,
      exactKept.filter(d => nearKept(d.id) && d.gate).map(d => Row.fromSeq(d.row.toSeq.take(6))),
      outSchema).coalesce(1)

    // --- commit: output FIRST (idempotent), state appends second ----------
    outDir.foreach(StateLog.commitBatchDir(spark, _, batchId, result))
    // an empty append adds nothing, so it is skipped (a full replay writes
    // no state at all)
    if (fresh.nonEmpty)
      local(spark, fresh.map(d => Row(d.hash, d.row.get(0))), hashSchema).coalesce(1)
        .write.mode("append").parquet(hashesPath)
    if (exactKept.nonEmpty)
      local(spark, exactKept.flatMap(d => d.bands.map { case (i, k) => Row(d.row.get(0), i, k) }),
        bucketSchema).coalesce(1)
        .write.mode("append").parquet(bucketsPath)

    // retention policy (round 7): the band log otherwise grows every batch
    // until someone remembers to compact. When the log's BYTE size (a
    // driver-side listing, no data read) crosses the threshold, fold it
    // inline. Bytes, not file count: each append writes one file, so a
    // file-count trigger scales with batch CADENCE while the read cost it
    // guards scales with accumulated ROWS — bytes track rows under any
    // file layout.
    // Crash-safe at every point: compaction's temp-swap + the orphan heal
    // in StateLog.readKnown cover a crash mid-fold, and a crash BEFORE the fold
    // just leaves the log for the next batch's trigger.
    if (autoCompactBytes > 0 && logBytes(spark, bucketsPath) > autoCompactBytes)
      compactState(spark, stateDir)
    result
  }

  /** Total data-file bytes of a state log — the compaction trigger metric
    * (shared implementation: [[FsUtils.dataBytes]]). */
  private def logBytes(spark: SparkSession, path: String): Long =
    FsUtils.dataBytes(FsUtils.fs(spark, path), new org.apache.hadoop.fs.Path(path))

  /** Fold the append-only state logs: one row per content hash / per
    * bucket. Read cost of [[curateBatch]] grows with the log until this
    * runs; output is byte-equivalent state (CurationStreamSpec). */
  def compactState(spark: SparkSession, stateDir: String): Unit = {
    val hashesPath = s"$stateDir/hashes"
    val bucketsPath = s"$stateDir/buckets"
    val fs = FsUtils.fs(spark, hashesPath)
    // each table's tmp is written in full before the swap deletes the
    // files it was derived from
    if (fs.exists(new org.apache.hadoop.fs.Path(hashesPath)))
      StateLog.swapWrite(spark, hashesPath,
        spark.read.parquet(hashesPath)
          .groupBy("content_hash").agg(min("owner_id").as("owner_id")),
        coalesce1 = false)
    if (fs.exists(new org.apache.hadoop.fs.Path(bucketsPath)))
      StateLog.swapWrite(spark, bucketsPath,
        spark.read.parquet(bucketsPath)
          .groupBy("band_idx", "band_key").agg(min("doc_id").as("doc_id")),
        coalesce1 = false)
  }

  /** File-source streaming wrapper: document parquet drops in `inDir` →
    * per-micro-batch incremental curation into `outDir` with state under
    * `stateDir`. */
  def runFileStream(spark: SparkSession, inDir: String, stateDir: String,
                    outDir: String, checkpointDir: String,
                    schemaFrom: DataFrame,
                    hashFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
                      org.apache.spark.sql.functions.xxhash64(_),
                    autoCompactBytes: Long = 64L << 20): StreamingQuery =
    spark.readStream
      .schema(schemaFrom.schema)
      .parquet(inDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        curateBatch(spark, batch, stateDir, batchId, Some(outDir), hashFn = hashFn,
          autoCompactBytes = autoCompactBytes)
        ()
      }
      .start()
}
