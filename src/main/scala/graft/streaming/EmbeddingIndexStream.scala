package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.functions.FsUtils
import graft.operators.Similarity

/** Streaming maintenance of the IVF inverted-list index (the streaming
  * upgrade of `Similarity.appendAssigned`): new embeddings drop as parquet
  * into `inDir`; each micro-batch is assigned against the PERSISTED
  * quantizer (k tiny rows, loaded once per run — never retrained) and lands
  * in the index. Queries (`Similarity.ivfTopKAssigned`) read the index with
  * neither training nor assignment scans, and see new vectors as soon as
  * their batch commits.
  *
  * Idempotence: foreachBatch is at-least-once, and a bare `mode("append")`
  * would duplicate a replayed batch's rows. Each batch instead OVERWRITES
  * its own `batch=<id>` subdirectory — a replay rewrites the same files
  * (same batchId from the checkpoint), so the index holds each delivered
  * vector exactly once.
  *
  * File-count debt: after N batches each probed `cluster=` value is spread
  * over N small files, so the pruned nprobe-read opens nprobe×N files —
  * at 100 TB the listing/open cost, not bytes, becomes the query tax.
  * [[compactIndex]] folds committed batch dirs into `batch=-1` (a dir no
  * replay can ever target — foreachBatch ids are ≥ 0, the OverlapStream
  * precedent) with ONE file per cluster; `autoCompactBatches` triggers it
  * from the stream itself once the dir count passes the threshold.
  */
object EmbeddingIndexStream {

  /** One micro-batch into the index layouts — the unit `run` executes per
    * foreachBatch and stress harnesses drive directly. Cluster-partitioned
    * inside the idempotent `batch=` dir: queries partition-prune to their
    * nprobe `cluster=` dirs across all batches. The exact write commits
    * FIRST; a crash between writes replays the batch and overwrites every
    * `batch=<id>` dir idempotently. */
  def applyBatch(batch: DataFrame, batchId: Long,
                 cents: Seq[(Int, Seq[Double])], assignedDir: String,
                 quantizedDir: Option[String] = None,
                 pqLoaded: Option[(String, graft.operators.Pq.Codebooks)] = None,
                 pqrLoaded: Option[(String, Seq[(Int, Seq[Double])],
                   graft.operators.Pq.Codebooks)] = None,
                 autoCompactBatches: Int = 0): Unit = {
    // generation fence (round 18): code tiers encode against the exact
    // dir's CURRENT quantizer generation (callers load it through
    // indexQuantizer, the restart contract) — refuse to mix geometries in
    // one code dir; a new dir is stamped here so readers can verify it
    locally {
      val spark = batch.sparkSession
      (Seq(assignedDir) ++ quantizedDir ++ pqLoaded.map(_._1) ++
        pqrLoaded.map(_._1)).foreach(healIndex(spark, _))
      val gen = graft.operators.IndexGen.quantizerGen(spark, assignedDir)
      (quantizedDir ++ pqLoaded.map(_._1) ++ pqrLoaded.map(_._1)).foreach(
        graft.operators.IndexGen.requireAppendable(spark, _, gen))
    }
    val assigned = Similarity.assign(batch, cents)
      .localCheckpoint(true) // one assignment pass feeds all writes
    // src_batch: per-ROW ingest provenance as a data column (round 18).
    // The `batch=` partition key already carries it — until compactIndex
    // folds dirs into `batch=-1` and the per-row history is gone. The
    // data column survives the fold, which is what batch-CEILING
    // tombstones resolve against (a tombstone hides only rows ingested
    // at or before its ceiling, so update = tombstone + same-batch
    // re-insert). A constant column RLE-compresses to nothing.
    try {
      assigned.withColumn("src_batch", lit(batchId))
        .write.mode("overwrite").partitionBy("cluster")
        .parquet(s"$assignedDir/batch=$batchId")
      quantizedDir.foreach { qd =>
        Similarity.quantizedFromAssigned(assigned)
          .withColumn("src_batch", lit(batchId))
          .write.mode("overwrite").partitionBy("cluster")
          .parquet(s"$qd/batch=$batchId")
      }
      pqLoaded.foreach { case (pd, cb) =>
        graft.operators.Pq.pqFromAssigned(assigned, cb)
          .withColumn("src_batch", lit(batchId))
          .write.mode("overwrite").partitionBy("cluster")
          .parquet(s"$pd/batch=$batchId")
      }
      pqrLoaded.foreach { case (pd, anchors, cb) =>
        graft.operators.Pq.pqrFromAssigned(assigned, anchors, cb)
          .withColumn("src_batch", lit(batchId))
          .write.mode("overwrite").partitionBy("cluster")
          .parquet(s"$pd/batch=$batchId")
      }
    } finally org.apache.spark.sql.graft.DatasetInternals
      .checkpointedRdd(assigned).foreach(_.unpersist(blocking = false))
    if (autoCompactBatches > 0) {
      val spark = batch.sparkSession
      (Seq(assignedDir) ++ quantizedDir ++ pqLoaded.map(_._1) ++
        pqrLoaded.map(_._1)).foreach { dir =>
        // fold only batches < batchId: the CURRENT batch is the one a
        // crash-before-checkpoint replays, so it must stay un-folded
        if (batchDirCount(spark, dir) > autoCompactBatches)
          compactIndex(spark, dir, uptoExclusive = batchId)
      }
    }
  }

  private def batchDirCount(spark: SparkSession, indexDir: String): Int = {
    val fs = FsUtils.fs(spark, indexDir)
    val base = new Path(indexDir)
    if (!fs.exists(base)) 0
    else fs.listStatus(base).count(s =>
      s.isDirectory && s.getPath.getName.startsWith("batch="))
  }

  /** Fold committed `batch=` dirs (ids in [0, uptoExclusive) plus any prior
    * `batch=-1`) into ONE `batch=-1` dir with one file per cluster — the
    * probed read goes back to nprobe file-opens regardless of how many
    * batches have streamed in.
    *
    * Crash safety (single compacting writer — the stream itself): the fold
    * replaces `batch=-1` through [[StateLog.swapDir]], staged in the hidden
    * `.compact-tmp` (a sibling `batch=-1.tmp` would be discovered as a
    * partition value), and every index read heals a crash inside that swap
    * first ([[healIndex]]). The folded source dirs are deleted after the
    * swap: a crash before those deletes leaves duplicates visible until
    * the next compaction; the fold dedups by vec_id (duplicate rows are
    * bit-identical by construction), so re-compaction converges. Like
    * OverlapStream's compaction, this trades a transient post-crash window
    * for a bounded file count.
    */
  def compactIndex(spark: SparkSession, indexDir: String,
                   uptoExclusive: Long = Long.MaxValue): Unit = {
    val fs = FsUtils.fs(spark, indexDir)
    val base = new Path(indexDir)
    healIndex(spark, indexDir)
    if (!fs.exists(base)) return
    val foldable = fs.listStatus(base).filter(_.isDirectory).map(_.getPath)
      .filter { p =>
        p.getName.startsWith("batch=") && {
          val id = p.getName.stripPrefix("batch=").toLong
          id == -1L || (id >= 0L && id < uptoExclusive)
        }
      }
    if (foldable.length <= 1) return
    // physical purge of tombstone-HIDDEN rows (ceiling semantics: a row
    // survives when ingested AFTER its id's tombstone ceiling — the
    // re-inserted generation of an updated id folds through). The
    // tombstone dirs themselves are kept — see the deletes section: an
    // un-folded replayable batch may still carry a hidden generation, so
    // the exclusion must stay armed until clearTombstones' maintenance
    // window. latest-wins per id also heals a crash-window re-fold
    // (bit-identical duplicates share src_batch).
    StateLog.swapDir(spark, s"$indexDir/batch=-1", compactTmp(indexDir)) { tmp =>
      Similarity.latestIngest(applyCeilings(
          spark.read.option("basePath", indexDir)
            .parquet(foldable.map(_.toString).toIndexedSeq: _*)
            .drop("batch"),
          tombstoneCeilings(spark, indexDir)))
        .repartition(col("cluster")) // one file per cluster dir
        .write.mode("overwrite").partitionBy("cluster")
        .parquet(tmp)
    }
    foldable.filter(_.getName != "batch=-1").foreach(fs.delete(_, true))
    spark.catalog.refreshByPath(indexDir)
  }

  private def compactTmp(indexDir: String) = s"$indexDir/.compact-tmp"

  /** Heal a crashed swap of the whole index dir ([[reclusterIndex]],
    * `ImageAnn.reseedIndex`) and of its compacted `batch=-1`
    * ([[compactIndex]]) — [[StateLog]]'s reader contract: every index
    * read and write calls this before it touches the dir. */
  private[graft] def healIndex(spark: SparkSession, indexDir: String): Unit = {
    StateLog.healSwaps(spark, indexDir)
    StateLog.healSwap(spark, s"$indexDir/batch=-1", compactTmp(indexDir))
  }

  /** The raw index rows, `batch` partition column included, after
    * [[healIndex]] — the one read every index reader shares. */
  private[graft] def readRaw(spark: SparkSession, indexDir: String): DataFrame = {
    healIndex(spark, indexDir)
    spark.read.parquet(indexDir)
  }

  /** @param quantizedDir when set, each batch ALSO lands in an
    *   int8-quantized index at this path (same `batch=/cluster=` layout,
    *   `qv: array<byte>` instead of `v`). One assignment pass feeds all
    *   writes — membership is identical by construction, quantization is
    *   [[Similarity.buildIndexQuantized]]'s exact scheme (shared code), so
    *   a quantized query against the streamed index equals one against a
    *   from-scratch rebuild (SimilaritySpec pins both).
    * @param pq when set to (indexDir, codebooksPath), each batch also
    *   lands in a product-quantized index (packed BIGINT codes, 25× less
    *   hot storage) — codebooks loaded once per stream start from
    *   [[graft.operators.Pq.saveCodebooks]] output, never retrained
    *   online, encoding shared with [[graft.operators.Pq.buildIndexPq]]
    *   (byte-identical codes; PqSpec pins streamed ≡ one-shot).
    * @param pqr when set to (indexDir, anchorsPath, codebooksPath), each
    *   batch also lands in a RESIDUAL-PQ index (IVFADC: codes quantize
    *   `unit(v) − anchor(cluster)`) — anchors + codebooks loaded once per
    *   stream start from [[graft.operators.Pq.saveAnchors]] /
    *   [[graft.operators.Pq.saveCodebooks]] output, encoding shared with
    *   [[graft.operators.Pq.buildIndexPqResidual]] (byte-identical codes;
    *   PqSpec pins streamed ≡ one-shot).
    * @param autoCompactBatches fold the index's `batch=` dirs via
    *   [[compactIndex]] whenever their count exceeds this (0 = off).
    *   Applied per index layout, never to the in-flight batch. */
  def run(spark: SparkSession, inDir: String, assignedDir: String,
          checkpointDir: String, schemaFrom: DataFrame,
          centroidsPath: String,
          quantizedDir: Option[String] = None,
          pq: Option[(String, String)] = None,
          pqr: Option[(String, String, String)] = None,
          autoCompactBatches: Int = 0): StreamingQuery = {
    // O(k) driver rows, loaded once per stream start — not per batch
    val cents = Similarity.loadCentroids(spark, centroidsPath)
    val pqLoaded = pq.map { case (dir, books) =>
      (dir, graft.operators.Pq.loadCodebooks(spark, books))
    }
    val pqrLoaded = pqr.map { case (dir, anchors, books) =>
      (dir, graft.operators.Pq.loadAnchors(spark, anchors),
        graft.operators.Pq.loadCodebooks(spark, books))
    }
    spark.readStream
      .schema(schemaFrom.schema)
      .parquet(inDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, cents, assignedDir, quantizedDir,
          pqLoaded, pqrLoaded, autoCompactBatches)
      }
      .start()
  }

  /** The queryable inverted-list table (drops the bookkeeping batch col). */
  def readIndex(spark: SparkSession, assignedDir: String): DataFrame =
    readRaw(spark, assignedDir).drop("batch")

  // --- deletes (round 16) + in-place updates (round 18) --------------------
  //
  // A curation pipeline REMOVES documents (opt-outs, PII scrubs, re-ingest
  // supersedes — the Evolution.snapshotDiff `removed` set) and RE-EMBEDS
  // living ones (new model version, edited docs); the index must forget /
  // supersede them without a corpus-sized rebuild. Deletes land as
  // CEILING TOMBSTONES — (vec_id, ceiling) rows meaning "hide this id's
  // rows ingested in batches ≤ ceiling":
  //  - [[tombstone]] writes the rows under `.tombstones/batch=<id>` — a
  //    DOT-dir, invisible to the index's own partition discovery, so no
  //    reader sees tombstone rows as vectors. O(ids) per call, committed
  //    once per batchId: a re-call for a committed batch id is skipped.
  //    The ceiling defaults to the tombstone's own batch id (a plain
  //    delete); an UPDATE tombstones at ceiling = batch−1 and appends the
  //    new vector in the same batch — the new generation (src_batch =
  //    batch > ceiling) is visible, every older one is hidden, and a
  //    REPLAY of an old ingest batch rewrites rows the ceiling still
  //    hides (replay safety preserved — the round-17 re-key-or-rebuild
  //    contract retired).
  //  - readers compose [[liveIndex]]: per-id max-ceiling join + ingest
  //    filter (src_batch > ceiling) BELOW the per-probe top-k, then
  //    last-writer-wins per id — an excluded generation is gone from
  //    query results the moment its tombstone batch commits.
  //  - [[compactIndex]] PURGES hidden generations physically during its
  //    fold (surviving rows keep their src_batch, so ceilings stay
  //    resolvable after the per-batch dirs are gone) but deliberately
  //    KEEPS the tombstone dirs: a replayable un-folded batch may still
  //    carry a hidden generation, and clearing early would resurrect it.
  //    Once folded state is the only state (no stream running, full
  //    compaction done), [[clearTombstones]] retires them — kept
  //    tombstones are a no-op join in the meantime, never a correctness
  //    risk.

  private def tombstonesPath(indexDir: String) = s"$indexDir/.tombstones"

  /** Delete a batch of vector ids from the index layout (first column of
    * `ids` is taken as the id). Idempotent per batchId.
    *
    * @param ceiling hide the ids' rows ingested in batches ≤ this
    *   (defaults to `batchId` — a plain delete). An update passes
    *   `batchId − 1` so its own same-batch append survives.
    *
    * Commit discipline: tombstones are USER-invoked, not stream-replayed,
    * so a crash mid-write would otherwise leave a partial `batch=` dir
    * that [[tombstoneCeilings]] reads as committed — some deleted ids
    * staying live with no replay to heal them. The write therefore goes
    * through [[StateLog.commitBatchDir]]: the RENAME of the hidden
    * `.tombstones.tmp-batch-<id>` dir is the commit point, a stale tmp
    * from a crashed attempt is overwritten by the next call, and a call
    * for an already-committed batch id changes nothing. */
  def tombstone(spark: SparkSession, ids: DataFrame, batchId: Long,
                indexDir: String, ceiling: Option[Long] = None): Unit =
    tombstoneRows(spark,
      ids.select(col(ids.columns.head).cast("long").as("vec_id"),
        lit(ceiling.getOrElse(batchId)).as("ceiling")),
      batchId, indexDir)

  /** All tombstoned ids (distinct; empty frame when none recorded) — the
    * ceiling-less view (an id with ANY tombstone row). Used where only
    * membership matters (e.g. deciding what to carry through a swap). */
  def tombstoneIds(spark: SparkSession, indexDir: String): DataFrame =
    rawTombstones(spark, indexDir).select("vec_id").distinct()

  /** Per-id exclusion ceilings: (vec_id, ts_batch = max ceiling over the
    * id's tombstones). A row with src_batch > ts_batch is a LATER
    * generation and stays live. */
  def tombstoneCeilings(spark: SparkSession, indexDir: String): DataFrame =
    rawTombstones(spark, indexDir)
      .groupBy("vec_id").agg(max("ceiling").as("ts_batch"))

  private def emptyTombstones(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("vec_id"), col("id").as("ceiling"))

  private[graft] def rawTombstones(spark: SparkSession, indexDir: String): DataFrame = {
    val path = tombstonesPath(indexDir)
    if (!FsUtils.fs(spark, path).exists(new Path(path))) emptyTombstones(spark)
    else
      try {
        val raw = spark.read.parquet(path)
        if (raw.columns.contains("ceiling")) raw.select("vec_id", "ceiling")
        // pre-round-18 tombstone layout (ids only): those tombstones meant
        // "hide EVERY generation" — ceiling = MaxValue reproduces that
        // semantics exactly instead of failing the read
        else raw.select(col("vec_id"), lit(Long.MaxValue).as("ceiling"))
      } catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") =>
          emptyTombstones(spark)
      }
  }

  /** Ceiling exclusion: keep rows whose ingest batch is ABOVE their id's
    * tombstone ceiling (or whose id has no tombstone). One broadcast-sized
    * left join against the (small) ceiling set, composed BELOW every
    * per-probe top-k. `private[graft]`: the image-ANN tier
    * ([[graft.operators.ImageAnn]]) rides this dir machinery verbatim —
    * same vec_id keying, same tombstone layout — and composes the same
    * exclusion below its exact-Long scorer. */
  private[graft] def applyCeilings(rows: DataFrame, ceilings: DataFrame): DataFrame =
    if (!rows.columns.contains("src_batch"))
      // pre-round-18 index layout (no per-row ingest provenance): degrade
      // to id-level exclusion — exactly the old semantics, since the only
      // ceilings such a layout can carry are the MaxValue-degraded ones
      rows.join(ceilings.select("vec_id").distinct(), Seq("vec_id"), "left_anti")
    else
      rows.join(ceilings, Seq("vec_id"), "left")
        .filter(col("ts_batch").isNull || col("src_batch") > col("ts_batch"))
        .drop("ts_batch")

  /** The index resolved to its LIVE generation per id, src_batch retained
    * (recluster preserves it through the rewrite). */
  private def liveResolved(spark: SparkSession, indexDir: String): DataFrame =
    Similarity.latestIngest(applyCeilings(
      readIndex(spark, indexDir), tombstoneCeilings(spark, indexDir)))

  /** The index minus its tombstone-hidden generations, resolved
    * last-writer-wins per id — what every reader should query. Ceiling
    * exclusion runs BEFORE the per-id resolution (dedup-first could elect
    * a hidden old generation over the live one); physically purged rows
    * join as a no-op. The latest-wins window also closes compactIndex's
    * documented crash window (swap done, source-dir deletes not):
    * duplicate rows are bit-identical by construction, and without the
    * dedup one vector could occupy multiple top-k slots. */
  def liveIndex(spark: SparkSession, indexDir: String): DataFrame =
    liveResolved(spark, indexDir).drop("src_batch")

  /** Tombstone-aware IVF query against an on-disk exact layout — the
    * [[graft.operators.Similarity.ivfTopKIndexedVectors]] shape with the
    * ceiling exclusion + last-writer resolution composed below the
    * per-probe top-k (so k fills from live generations only).
    *
    * Resolution scope: last-writer-wins runs over the PRUNED candidate
    * read — for the SUPPORTED update path (ceiling tombstone + re-insert)
    * that is exact (the hidden generation is excluded wherever it lives),
    * but an UN-tombstoned same-id re-append whose generations landed in
    * different clusters resolves per probed list (a probe reaching only
    * the old generation's cluster serves it). Use the update verb
    * ([[syncWithCorpus]] / tombstone-then-append); bare re-appends get
    * best-effort resolution only. */
  def ivfTopKIndexedLive(spark: SparkSession, indexDir: String,
                         cents: Seq[(Int, Seq[Double])],
                         queries: Seq[(Long, Seq[Double])],
                         k: Int, nprobe: Int): DataFrame = {
    import spark.implicits._
    val withClusters = queries.map { case (id, v) =>
      (id, v, Similarity.nearestClustersLocal(v, cents, nprobe))
    }
    val probes = withClusters.toDF("query_id", "qv", "clusters")
      .select(col("query_id"), col("qv"), explode(col("clusters")).as("cluster"))
    val probed = withClusters.flatMap(_._3).distinct
    val cands = Similarity.latestIngest(applyCeilings(
        readRaw(spark, indexDir)
          .filter(col("cluster").isin(probed: _*)),
        tombstoneCeilings(spark, indexDir)))
      .select(col("vec_id").as("cand_id"), col("v").as("cv"), col("cluster"))
    Similarity.ivfScoreTail(probes, cands, k)
  }

  // --- as-of reads (round 17): point-in-time queries over the batch log ----
  //
  // The index's `batch=` partition column IS ingest provenance, and
  // tombstone batches carry delete provenance — so "query the index as it
  // stood at batch B" (reproduce yesterday's retrieval results, audit what
  // a delete removed, A/B an ingest) is a PARTITION-FILTERED read: an
  // as-of query lists and opens only the visible batch dirs, never a
  // rebuild, never a snapshot copy. Post-compaction (round 18): the
  // per-ROW src_batch column survives the fold, so the INGEST side of an
  // as-of read stays exact after compaction (`batch=-1` participates in
  // every bounded read and the src_batch filter does the precise cut);
  // what still coarsens is deletion history — compaction physically
  // purges generations hidden by CURRENT tombstones, so an as-of read
  // that predates those tombstones cannot see purged rows (size
  // compaction windows to the as-of horizon you need).

  /** Per-id exclusion ceilings as of `asOfBatch`: only tombstones
    * COMMITTED in batches ≤ asOf participate (a later delete/update is
    * invisible to the point-in-time view), each still hiding rows up to
    * its own ceiling. */
  def tombstoneCeilingsAsOf(spark: SparkSession, indexDir: String,
                            asOfBatch: Long): DataFrame = {
    val path = tombstonesPath(indexDir)
    if (!FsUtils.fs(spark, path).exists(new Path(path)))
      emptyTombstones(spark).groupBy("vec_id").agg(max("ceiling").as("ts_batch"))
    else
      try spark.read.parquet(path).filter(col("batch") <= asOfBatch)
        .groupBy("vec_id").agg(max("ceiling").as("ts_batch"))
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") =>
          emptyTombstones(spark).groupBy("vec_id").agg(max("ceiling").as("ts_batch"))
      }
  }

  /** Point-in-time view of the index: vectors ingested in batches ≤
    * `asOfBatch`, minus generations hidden by tombstones committed ≤
    * `asOfBatch`, resolved LAST-WRITER-WINS per id (an id re-ingested in
    * several visible batches deterministically serves its max-src_batch
    * row — the point-in-time analogue of [[liveIndex]]'s resolution). The
    * batch bound is a partition filter (batch = −1 ≤ every asOf — the
    * folded prefix always participates, see the section note). */
  def indexAsOf(spark: SparkSession, indexDir: String,
                asOfBatch: Long): DataFrame =
    Similarity.latestIngest(applyCeilings(
        readRaw(spark, indexDir)
          .filter(col("batch") <= asOfBatch) // partition prune (−1 included)
          // EXACT ingest bound — src_batch survives compaction, so the
          // ingest side of an as-of read no longer coarsens to the folded
          // prefix (only physical purges of hidden generations coarsen it)
          .filter(col("src_batch") <= asOfBatch)
          .drop("batch"),
        tombstoneCeilingsAsOf(spark, indexDir, asOfBatch)))
      .drop("src_batch")

  /** As-of IVF query — [[ivfTopKIndexedLive]] at a point in time: the
    * candidate read partition-prunes on BOTH cluster (nprobe lists) and
    * batch (≤ asOf), and the as-of ceiling exclusion + last-writer
    * resolution sit below the per-probe top-k so k fills from the
    * generations visible at that time. */
  def ivfTopKIndexedAsOf(spark: SparkSession, indexDir: String,
                         cents: Seq[(Int, Seq[Double])],
                         queries: Seq[(Long, Seq[Double])],
                         k: Int, nprobe: Int, asOfBatch: Long): DataFrame = {
    import spark.implicits._
    val withClusters = queries.map { case (id, v) =>
      (id, v, Similarity.nearestClustersLocal(v, cents, nprobe))
    }
    val probes = withClusters.toDF("query_id", "qv", "clusters")
      .select(col("query_id"), col("qv"), explode(col("clusters")).as("cluster"))
    val probed = withClusters.flatMap(_._3).distinct
    val cands = Similarity.latestIngest(applyCeilings(
        readRaw(spark, indexDir)
          .filter(col("cluster").isin(probed: _*) && col("batch") <= asOfBatch)
          .filter(col("src_batch") <= asOfBatch), // exact, fold-surviving
        tombstoneCeilingsAsOf(spark, indexDir, asOfBatch)))
      .select(col("vec_id").as("cand_id"), col("v").as("cv"), col("cluster"))
    Similarity.ivfScoreTail(probes, cands, k)
  }

  /** Tombstone the same id batch across every tier dir of ONE logical
    * index (the exact/quantized/PQ/residual layouts live in separate dirs
    * — [[applyBatch]]'s triple-write): a delete must hit them ALL, or the
    * vector stays retrievable through whichever tier was skipped (the
    * round-16 lifecycle gap). Each dir keeps its own `.tombstones/` so its
    * own [[compactIndex]] purge stays self-contained. */
  def tombstoneTiers(spark: SparkSession, ids: DataFrame, batchId: Long,
                     indexDirs: Seq[String],
                     ceiling: Option[Long] = None): Unit =
    indexDirs.foreach(tombstone(spark, ids, batchId, _, ceiling))

  /** Tombstone-aware RESIDUAL-PQ retrieval — [[ivfTopKIndexedLive]]'s twin
    * through the quantized tier: the pool read applies the pqr dir's
    * ceiling exclusion + last-writer resolution BELOW the per-probe top-k
    * (k fills from live codes), and the exact rerank restricts to pool
    * ids by construction, so deleted/superseded generations cannot
    * resurface at either stage. dedupIds guards the compaction crash
    * window on the streamed code dir. */
  def ivfTopKPqResidualLive(spark: SparkSession, pqrDir: String,
                            exactDir: String, cents: Seq[(Int, Seq[Double])],
                            anchors: Seq[(Int, Seq[Double])],
                            cb: graft.operators.Pq.Codebooks,
                            queries: Seq[(Long, Seq[Double])],
                            k: Int, nprobe: Int, poolMult: Int = 4): DataFrame =
    // generation fence rides the rerank entry point (Pq.requireMatch).
    // scopeExact: the EXACT side must resolve ceilings + last-writer too —
    // after an in-place update the raw exact dir holds BOTH generations of
    // an id, and rescoring the pool's (new-generation) candidate against
    // an arbitrary exact row could use the superseded vector (round-18
    // review finding; IndexDeleteSpec pins the updated two-stage read)
    graft.operators.Pq.ivfTopKPqResidualRerank(spark, pqrDir, exactDir, cents,
      anchors, cb, queries, k, nprobe, poolMult,
      scope = graft.operators.Pq.CandidateScope(
        excludedCeilings = Some(tombstoneCeilings(spark, pqrDir)),
        dedupIds = true),
      scopeExact = df => Similarity.latestIngest(
        applyCeilings(df, tombstoneCeilings(spark, exactDir))))

  /** One-call corpus→index synchronization — the production loop that ties
    * [[graft.operators.Evolution.snapshotDiff]] to the index lifecycle,
    * ONE maintenance batch id covering all three verbs:
    *
    *  - ADDED ids (new-only) are appended — assigned against the frozen
    *    serving quantizer, the standard append path;
    *  - REMOVED ids (old-only) are tombstoned at ceiling = batchId
    *    (hides every generation, the plain delete);
    *  - CHANGED ids (present in both snapshots with a DIFFERENT embedding
    *    — re-embedded docs, the round-17 gap) are UPDATED in place:
    *    their new vectors ride the same append (src_batch = batchId) and
    *    a ceiling = batchId − 1 tombstone hides every OLDER generation
    *    while leaving the fresh append visible. Replay safety holds: a
    *    replayed ingest batch ≤ batchId − 1 rewrites rows the ceiling
    *    still hides.
    *
    * Unchanged ids keep their existing rows untouched. Idempotent per
    * batchId: the append overwrites its own `batch=` dir and the removed
    * + changed ceilings land as per-row values in ONE tombstone batch dir
    * ([[tombstoneRows]]), so replaying a sync converges. */
  def syncWithCorpus(spark: SparkSession, indexDir: String,
                     cents: Seq[(Int, Seq[Double])],
                     oldVecs: DataFrame, newVecs: DataFrame,
                     batchId: Long): Unit = {
    val oldIds = oldVecs.select(col("vec_id"))
    val newIds = newVecs.select(col("vec_id"))
    val added = newVecs.join(oldIds, Seq("vec_id"), "left_anti")
    val removed = oldIds.join(newIds, Seq("vec_id"), "left_anti")
    val changed = newVecs.alias("n")
      .join(oldVecs.alias("o"), Seq("vec_id"))
      .filter(col("n.embedding") =!= col("o.embedding"))
      .select(col("vec_id"), col("n.embedding").as("embedding"))
    applyBatch(added.unionByName(changed), batchId, cents, indexDir)
    // one tombstone batch, per-row ceilings: removed ids hide everything
    // (ceiling = batchId), changed ids hide only generations BEFORE this
    // sync's own append (ceiling = batchId − 1)
    tombstoneRows(spark,
      removed.select(col("vec_id"), lit(batchId).as("ceiling"))
        .unionByName(changed.select(col("vec_id"),
          lit(batchId - 1L).as("ceiling"))),
      batchId, indexDir)
  }

  /** [[tombstone]] with caller-supplied per-row ceilings — `rows` must be
    * (vec_id, ceiling). Same commit discipline. */
  def tombstoneRows(spark: SparkSession, rows: DataFrame, batchId: Long,
                    indexDir: String): Unit =
    StateLog.commitBatchDir(spark, tombstonesPath(indexDir), batchId,
      rows.select(col("vec_id").cast("long").as("vec_id"),
        col("ceiling").cast("long").as("ceiling")).distinct())

  // --- recluster (round 17): the lifecycle's maintenance verb ---------------
  //
  // build → append → filter → delete → compact now gets RE-CLUSTER: when the
  // corpus drifts (corpus_diff / source_drift detect it), the frozen coarse
  // quantizer files new vectors into lists that no longer reflect the data,
  // and recall at fixed nprobe decays. reclusterIndex retrains the
  // centroids on the CURRENT LIVE set (deterministic distributed Lloyd
  // seeded from the serving quantizer), re-assigns every live vector, and
  // swaps the whole dir atomically. The PQ/residual code tiers encode
  // against the old cluster geometry, so a recluster invalidates them —
  // rebuild offline from the swapped exact dir (buildIndexPq* on
  // readIndex's (vec_id, v, cluster) shape), the same contract as codebook
  // retraining. Since round 18 that contract is MECHANICAL, not prose: the
  // swap bumps the dir's quantizer generation (graft.operators.IndexGen),
  // code dirs carry the generation they encode against, and the code-tier
  // read/append paths REFUSE on mismatch instead of silently scoring stale
  // codes against new centroids (IndexReclusterSpec pins refusal+rebuild).
  // Requires the maintenance window (stream stopped): a writer
  // started under the old quantizer would file batches under stale cluster
  // ids; on restart, `run` callers should load the quantizer through
  // [[indexQuantizer]].

  /** The index's CO-LOCATED quantizer (dot-dir, invisible to partition
    * discovery): [[reclusterIndex]] persists the retrained centroids
    * INSIDE the index dir so ONE rename carries data + quantizer — with a
    * separate centroids file there is always a window where a reader pairs
    * new centroids with old cluster ids (or vice versa) and silently
    * probes the wrong lists. */
  private def quantizerPath(indexDir: String) = s"$indexDir/.quantizer"

  /** The quantizer an index should be queried with: the co-located one if
    * the index has been reclustered, else the caller's initial (externally
    * persisted) quantizer. */
  def indexQuantizer(spark: SparkSession, indexDir: String,
                     initial: => Seq[(Int, Seq[Double])]): Seq[(Int, Seq[Double])] = {
    healIndex(spark, indexDir)
    val p = quantizerPath(indexDir)
    if (FsUtils.fs(spark, p).exists(new Path(p)))
      Similarity.loadCentroids(spark, p)
    else initial
  }

  /** One deterministic Lloyd step over the live set: re-assign against the
    * current iterate, then per-cluster elementwise means summed in DECIMAL
    * (order-independent — the [[graft.operators.Pq.clusterAnchors]]
    * discipline, so the retrained quantizer is a pure function of the live
    * set). A cluster that loses all members keeps its previous centroid
    * (standard empty-cell handling; cluster ids never change, so existing
    * probe code and partition layouts stay id-compatible). */
  private def recenterStep(live: DataFrame,
                           cents: Seq[(Int, Seq[Double])]): Seq[(Int, Seq[Double])] = {
    val means = Similarity.assign(
        live.select(col("vec_id"), col("v").as("embedding")), cents)
      .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cluster", "pos")
      .agg((sum(col("x").cast("decimal(27,18)")).cast("double") /
        count(lit(1))).as("m"))
      .groupBy("cluster")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cluster"), transform(col("pm"), p => p.getField("m")).as("c"))
      .collect()
      .map(r => (r.get(0) match { case n: java.lang.Number => n.intValue },
        r.getSeq[Double](1))).toMap
    cents.map { case (id, c) => (id, means.getOrElse(id, c)) }
  }

  /** Retrain the quantizer on the live set and atomically re-cluster the
    * index dir. Returns the new quantizer (also persisted co-located, see
    * [[indexQuantizer]]).
    *
    * Crash safety (single maintaining writer): the new dir replaces the
    * old one through [[StateLog.swapDir]], and every index read and write
    * heals a crash inside that swap ([[healIndex]]). When this call's own
    * entry heal lands an earlier recluster's swap, it returns that swap's
    * co-located quantizer instead of retraining.
    *
    * Tombstone interaction: the rewrite drops tombstoned ROWS (it reads
    * [[liveIndex]]), but the tombstone set itself is carried into the new
    * dir still ARMED — a replayed stream batch after restart may rewrite a
    * tombstoned id, and clearing early would resurrect it. Retire via
    * [[clearTombstones]] in the usual maintenance window. */
  def reclusterIndex(spark: SparkSession, indexDir: String,
                     initial: => Seq[(Int, Seq[Double])],
                     iters: Int = 2): Seq[(Int, Seq[Double])] = {
    if (StateLog.healSwaps(spark, indexDir))
      return Similarity.loadCentroids(spark, quantizerPath(indexDir))
    val live = liveResolved(spark, indexDir).select("vec_id", "v", "src_batch")
    var cents = indexQuantizer(spark, indexDir, initial)
    for (_ <- 1 to iters) cents = recenterStep(live, cents)
    StateLog.swapDir(spark, indexDir) { tmp =>
      // re-assign under the new quantizer, PRESERVING each row's ingest
      // provenance (src_batch) — the carried ceiling tombstones must keep
      // resolving against it (resetting provenance would let an armed
      // update-tombstone re-hide the generations that survived it)
      Similarity.assign(live.select(col("vec_id"), col("v").as("embedding")), cents)
        .join(live.select("vec_id", "src_batch"), Seq("vec_id"))
        .repartition(col("cluster")) // one file per cluster dir
        .write.mode("overwrite").partitionBy("cluster")
        .parquet(s"$tmp/batch=-1")
      Similarity.saveCentroids(spark, cents, quantizerPath(tmp))
      // generation bump INSIDE the tmp (the atomic rename carries data +
      // quantizer + generation together): code tiers stamped with the old
      // generation become mechanically unreadable against this dir until
      // rebuilt — the IndexGen fence, replacing the prose-only contract
      graft.operators.IndexGen.setQuantizerGen(spark, tmp,
        graft.operators.IndexGen.quantizerGen(spark, indexDir) + 1L)
      val ts = rawTombstones(spark, indexDir)
      if (!ts.isEmpty) ts.coalesce(1).write.mode("overwrite")
        .parquet(s"${tombstonesPath(tmp)}/batch=-1")
    }
    cents
  }

  /** Retire the tombstone dirs. ONLY safe once every tombstoned id is
    * physically purged from EVERY batch dir a replay could rewrite — i.e.
    * after a full [[compactIndex]] with the stream stopped (the
    * maintenance window). Called early, a replayed batch could resurrect
    * a tombstoned id with nothing left to exclude it. */
  def clearTombstones(spark: SparkSession, indexDir: String): Unit = {
    val fs = FsUtils.fs(spark, indexDir)
    val p = new Path(tombstonesPath(indexDir))
    if (fs.exists(p)) { fs.delete(p, true); () }
    spark.catalog.refreshByPath(indexDir)
  }
}
