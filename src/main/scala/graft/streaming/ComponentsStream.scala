package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.functions.FsUtils
import graft.operators.Components

/** Incremental connected components — the streaming twin of
  * [[graft.operators.Components.connectedComponents]]. The batch operator
  * rebuilds transitive duplicate clusters from the WHOLE pair set; at
  * 100 TB a stream consumer cannot pay that per delivery. This folds each
  * micro-batch of new near-dup pairs into the existing labels with work
  * proportional to the batch and the components it touches, never the
  * corpus:
  *
  *  - `stars/batch=<id>`: APPEND-ONLY log of (id, component) star edges —
  *    each batch appends one row per batch endpoint (its resolved root at
  *    fold time), O(batch) rows. Star rows are never retracted: a row's
  *    stored root may go stale when its component later merges, and stays
  *    resolvable through the relabel map.
  *  - `relabels`: the small (old_root → new_root) map of every
  *    PRE-EXISTING root that lost a merge since the last compaction, kept
  *    at DEPTH 1 by composing each batch's new merges into the existing
  *    entries (an entry's target is always a CURRENT root). A losing root
  *    that is FRESH to its batch gets NO entry: its star rows (written in
  *    the same fold) already carry the post-merge root, and nothing in
  *    prior state can reference it — so the map's size is O(cross-batch
  *    merge events of pre-existing components since compaction), not
  *    O(nodes ever folded). Batches that touch no pre-existing root (the
  *    common append-mostly case) never rewrite the map at all; merge
  *    batches rewrite it via temp-swap, and [[compactState]] folds it back
  *    into the star log and empties it ([[applyBatch]]'s
  *    `autoCompactBytes` triggers that fold automatically).
  *
  * Per-batch work: the batch's endpoint ids are broadcast against the star
  * log (one narrow scan, no state shuffle) to fetch their stored roots;
  * the root graph of the batch — at most one pair per distinct batch pair,
  * over RESOLVED roots — is collected once and folded by a union-find on
  * the driver, which links the larger root under the smaller so every
  * component keeps its minimum as root (the batch operator's fixpoint,
  * with no per-round jobs). Driver memory is O(distinct batch pairs), the
  * same bound the endpoint broadcast already places on a batch. Pre-existing
  * losing roots become relabel entries and every endpoint gets a star row
  * under its final root. A component that the batch does not touch is
  * never read, shuffled, or rewritten.
  *
  * Resolution invariant (why stale star rows are safe): a star row stores
  * the id's root AT APPEND TIME. Whenever a then-current root `c` that
  * prior state references later loses a merge, that batch writes `c → n`
  * into the relabel map, and the per-batch composition keeps the entry
  * pointed at the CURRENT root thereafter — so `coalesce(relabel[c], c)`
  * is always the live root, and multiple star rows for one id (re-paired
  * across batches) all resolve to the same label. An id with no star row
  * is its own root unless the relabel map names it directly (an ex-root
  * that was never re-paired). A root fresh to its batch needs no entry
  * even when it loses: every reference to it (its own row and its
  * within-batch peers) is written post-merge.
  *
  * Crash safety / replay (ComponentsStreamSpec): per batch the relabel
  * swap commits FIRST, the star append (idempotent `batch=<id>` dir,
  * skip-if-exists) second. On a replay after the relabel swap, every
  * endpoint that PRE-EXISTED resolves to its already-merged root (those
  * merges degenerate to self-loops and produce no new relabel entries);
  * endpoints fresh to the lost batch re-derive their within-batch merges —
  * deterministically identical, filtered from the relabel map exactly as
  * the first run filtered them — and the missing star dir is (re)written
  * byte-identically. The fold is idempotent at every crash boundary; only
  * the returned merge COUNT can repeat on a crash-window replay.
  *
  * Consistency contract: after ANY batch split and ANY arrival order of an
  * undirected pair set, [[currentLabels]] equals the batch
  * [[Components.componentLabels]] over the union — components are
  * order-insensitive (unions commute), so unlike the keep-filter streams
  * there is no first-arrival caveat.
  */
object ComponentsStream {

  private def starsPath(stateDir: String) = s"$stateDir/stars"
  private def relabelsPath(stateDir: String) = s"$stateDir/relabels"

  private def emptyPairs(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("id", LongType), StructField("component", LongType))))
  }

  /** Read a state table, recovering a compaction orphan first (same heal
    * pattern as every log-structured state table in this package). */
  private def readStateOr(spark: SparkSession, path: String, like: DataFrame): DataFrame = {
    StateLog.healSwaps(spark, path)
    if (FsUtils.fs(spark, path).exists(new org.apache.hadoop.fs.Path(path)))
      spark.read.parquet(path)
    else like.limit(0)
  }

  private def readStars(spark: SparkSession, stateDir: String): DataFrame =
    readStateOr(spark, starsPath(stateDir), emptyPairs(spark))
      .select("id", "component") // drop the batch partition column

  private def readRelabels(spark: SparkSession, stateDir: String): DataFrame =
    readStateOr(spark, relabelsPath(stateDir),
      emptyPairs(spark).select(col("id").as("old_root"), col("component").as("new_root")))
      .select("old_root", "new_root")

  /** Unpersist the eager localCheckpoint blocks a fold pinned — without
    * this a long-running [[runFileStream]] query accumulates checkpoint
    * blocks in the block manager until driver GC happens to reclaim them
    * (the same failure class [[graft.operators.Components]] fixed for its
    * per-round checkpoints). Called after the batch's last commit. */
  private def unpersistCkpts(dfs: Seq[DataFrame]): Unit =
    dfs.foreach(df => org.apache.spark.sql.graft.DatasetInternals
      .checkpointedRdd(df).foreach(_.unpersist(blocking = false)))

  /** Connected components of a batch's root graph, folded on the driver:
    * every root that loses a merge, paired with its component minimum —
    * the (old_root, new_root) fixpoint the batch large/small-star operator
    * reaches. Ids are ranked by sorting, so linking the larger rank under
    * the smaller keeps every tree rooted at its component minimum. */
  private def foldRoots(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val ids = edges.flatMap { case (a, b) => Array(a, b) }.sorted.distinct
    val parent = Array.tabulate(ids.length)(identity)
    def find(start: Int): Int = {
      var i = start
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    edges.foreach { case (a, b) =>
      val ra = find(java.util.Arrays.binarySearch(ids, a))
      val rb = find(java.util.Arrays.binarySearch(ids, b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    ids.indices.collect { case i if find(i) != i => (ids(i), ids(find(i))) }.toArray
  }

  /** Fold one micro-batch of undirected pairs into the component state.
    * Returns the number of root-merge events the batch caused (0 on a full
    * replay or a batch of already-linked pairs; a crash-window replay of a
    * lost star append re-counts the batch's fresh-node merges while
    * changing no state).
    *
    * @param autoCompactBytes when > 0, run [[compactState]] inline after
    *   the fold whenever the RELABEL map's data bytes exceed this bound.
    *   The relabel map is the state that per-batch cost compounds on (it
    *   is rewritten per merge batch and joined per fold); the star log
    *   rides along in the same fold but is deliberately NOT the trigger
    *   metric — its compacted size grows with the corpus, so a byte bound
    *   on it would re-fire every batch at steady state and turn each fold
    *   into an O(corpus) rewrite. */
  def applyBatch(spark: SparkSession, pairs: DataFrame, aCol: String, bCol: String,
                 batchId: Long, stateDir: String,
                 autoCompactBytes: Long = 0L): Long = {
    val fs = FsUtils.fs(spark, stateDir)
    val starsDst = new org.apache.hadoop.fs.Path(s"${starsPath(stateDir)}/batch=$batchId")
    // the star append is the batch's LAST commit — its presence means the
    // whole fold (relabels included) already happened
    if (fs.exists(starsDst)) return 0L
    import spark.implicits._

    val p = pairs
      .select(col(aCol).cast("long").as("x"), col(bCol).cast("long").as("y"))
      .filter(col("x") =!= col("y") && col("x").isNotNull && col("y").isNotNull)
      .distinct()
      .localCheckpoint(true) // read for endpoints AND the root graph
    val endpoints = p.select(col("x").as("id"))
      .union(p.select(col("y").as("id"))).distinct()

    // stored roots for the batch's endpoints: broadcast the (small) id set
    // against the star log — BroadcastHashJoin streams the log's narrow
    // scan, the accumulated state is never shuffled. Multiple rows per id
    // resolve to the same root (invariant above); min picks one stored
    // value to resolve, not the answer itself.
    val stars = readStars(spark, stateDir)
    val relabels = readRelabels(spark, stateDir)
    val storedOf = stars.join(broadcast(endpoints), Seq("id"), "left_semi")
      .groupBy("id").agg(min("component").as("c0"))
    // relabel-map joins carry NO broadcast hint: the map is small by
    // design (pre-existing-root merges since compaction, auto-compacted),
    // so Spark's stats broadcast it anyway — but a forced hint would pin
    // broadcast even if the map outgrew the threshold (compaction disabled,
    // merge-storm workload) and OOM the driver instead of degrading to a
    // shuffle join
    val rById = relabels.select(col("old_root").as("id"), col("new_root").as("idr"))
    val rByC0 = relabels.select(col("old_root").as("c0"), col("new_root").as("c0r"))
    val resolved = endpoints
      .join(storedOf, Seq("id"), "left")
      .join(rByC0, Seq("c0"), "left")
      .join(rById, Seq("id"), "left")
      .select(col("id"),
        when(col("c0").isNotNull, coalesce(col("c0r"), col("c0")))
          .otherwise(coalesce(col("idr"), col("id"))).as("root"))
      .localCheckpoint(true)

    // the batch's ROOT graph: O(batch) pairs over current roots — the only
    // CC this fold ever runs. Links inside an existing component collapse
    // to self-loops here and cost nothing further.
    val rootPairs = p
      .join(resolved.select(col("id").as("x"), col("root").as("rx")), Seq("x"))
      .join(resolved.select(col("id").as("y"), col("root").as("ry")), Seq("y"))
      .select(col("rx"), col("ry"))
      .filter(col("rx") =!= col("ry"))
      .as[(Long, Long)].collect()
    val losers = foldRoots(rootPairs)
    val merges = losers.length.toLong
    val newRel = losers.toSeq.toDF("old_root", "new_root")

    // commit 1 (temp-swap): compose the merges into the relabel map.
    // Persist ONLY losing roots that PRE-EXIST in state — stored as some
    // star row's id or component, or named anywhere in the current map.
    // A loser fresh to this batch needs no entry: its star rows (written
    // below) already carry the post-merge root and nothing else references
    // it — without this filter the map gains one entry per non-root node
    // ever folded and the "O(merge events)" size claim is false. The
    // existence probe is one extra narrow scan of the star log, paid only
    // on batches that merged something.
    var kept: Option[DataFrame] = None
    if (merges > 0) {
      val losing = newRel.select(col("old_root")).distinct()
      val priorVs = stars
        .select(explode(array(col("id"), col("component"))).as("old_root"))
        .unionByName(relabels.select(col("old_root")))
        .unionByName(relabels.select(col("new_root").as("old_root")))
        .join(broadcast(losing), Seq("old_root"), "left_semi")
        .distinct()
      val keptRel = newRel.join(priorVs, Seq("old_root"), "left_semi")
        .localCheckpoint(true) // counted, then written
      kept = Some(keptRel)
      // keptRel empty ⇒ no pre-existing root lost ⇒ every existing entry's
      // target is still a current root ⇒ composition is the identity — skip
      // the rewrite entirely (append-mostly streams never touch the map)
      if (keptRel.count() > 0) {
        val nrByTarget = newRel
          .select(col("old_root").as("new_root"), col("new_root").as("nr2"))
        val composed = relabels
          .join(broadcast(nrByTarget), Seq("new_root"), "left")
          .select(col("old_root"), coalesce(col("nr2"), col("new_root")).as("new_root"))
          .unionByName(keptRel)
        val tmp = new org.apache.hadoop.fs.Path(relabelsPath(stateDir) + ".tmp")
        val out = new org.apache.hadoop.fs.Path(relabelsPath(stateDir))
        composed.write.mode("overwrite").parquet(tmp.toString)
        FsUtils.replaceDir(fs, tmp, out)
        spark.catalog.refreshByPath(relabelsPath(stateDir))
      }
    }

    // commit 2 (idempotent dir append): every non-root endpoint's star row
    // under its FINAL root
    val nrByRoot = newRel.select(col("old_root").as("root"), col("new_root").as("rootFinal"))
    val finalRows = resolved
      .join(broadcast(nrByRoot), Seq("root"), "left")
      .select(col("id"), coalesce(col("rootFinal"), col("root")).as("component"))
      .filter(col("id") =!= col("component"))
    val tmpStars = new org.apache.hadoop.fs.Path(s"${starsPath(stateDir)}.tmp-batch-$batchId")
    finalRows.write.mode("overwrite").parquet(tmpStars.toString)
    fs.mkdirs(new org.apache.hadoop.fs.Path(starsPath(stateDir)))
    FsUtils.renameOrThrow(fs, tmpStars, starsDst)
    spark.catalog.refreshByPath(starsPath(stateDir))
    unpersistCkpts(Seq(p, resolved) ++ kept)
    if (autoCompactBytes > 0 && FsUtils.dataBytes(fs,
        new org.apache.hadoop.fs.Path(relabelsPath(stateDir))) > autoCompactBytes)
      compactState(spark, stateDir)
    merges
  }

  /** Every node of `nodes` labeled with its duplicate-cluster id — the
    * streaming read of [[Components.componentLabels]]: star rows resolved
    * through the relabel map, ex-roots labeled directly, everything else
    * its own singleton. */
  def currentLabels(spark: SparkSession, stateDir: String,
                    nodes: DataFrame, idCol: String): DataFrame = {
    val stars = readStars(spark, stateDir)
    val relabels = readRelabels(spark, stateDir)
    val resolvedStars = stars
      .join(relabels.select(col("old_root").as("component"), col("new_root")),
        Seq("component"), "left") // no broadcast hint — see applyBatch
      .select(col("id"), coalesce(col("new_root"), col("component")).as("sc"))
      .groupBy("id").agg(min("sc").as("sc")) // duplicates agree post-resolve
    val rById = relabels.select(col("old_root").as("id"), col("new_root").as("dc"))
    nodes.select(col(idCol).cast("long").as("id"))
      .join(resolvedStars, Seq("id"), "left")
      .join(rById, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("sc"), col("dc"), col("id")).as("component"))
  }

  /** Fold the state to its fixpoint: star rows resolved to current roots,
    * relabel-only ex-roots materialized as star rows, the relabel map
    * emptied. Read cost of [[currentLabels]] and the per-batch relabel
    * rewrite both reset to the compacted size. Stars swap first (the
    * resolved log carries all information), relabels are cleared second —
    * a crash between the two leaves stale relabel entries whose sources no
    * longer appear anywhere as stored components, so resolution is
    * unaffected and the next compaction clears them. */
  def compactState(spark: SparkSession, stateDir: String): Unit = {
    val fs = FsUtils.fs(spark, stateDir)
    val sPath = new org.apache.hadoop.fs.Path(starsPath(stateDir))
    if (!fs.exists(sPath)) return
    val maxBatch = fs.listStatus(sPath)
      .map(_.getPath.getName).filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong)
      .foldLeft(0L)(math.max)
    val stars = readStars(spark, stateDir)
    val relabels = readRelabels(spark, stateDir)
    val resolved = stars
      .join(relabels.select(col("old_root").as("component"), col("new_root")),
        Seq("component"), "left") // no broadcast hint — see applyBatch
      .select(col("id"), coalesce(col("new_root"), col("component")).as("component"))
      .unionByName(relabels.select(col("old_root").as("id"), col("new_root").as("component")))
      .filter(col("id") =!= col("component"))
      .groupBy("id").agg(min("component").as("component"))
    // keep the folded log under the max seen batch= dir so partition
    // discovery stays uniform (cf. ReservoirStream.compactState)
    val tmp = new org.apache.hadoop.fs.Path(starsPath(stateDir) + ".tmp")
    resolved.write.mode("overwrite").parquet(s"$tmp/batch=$maxBatch")
    FsUtils.replaceDir(fs, tmp, sPath)
    spark.catalog.refreshByPath(starsPath(stateDir))
    fs.delete(new org.apache.hadoop.fs.Path(relabelsPath(stateDir)), true)
    spark.catalog.refreshByPath(relabelsPath(stateDir))
  }

  /** File-source streaming wrapper: near-dup pair parquet drops in `inDir`
    * → per-micro-batch incremental component fold under `stateDir`. */
  def runFileStream(spark: SparkSession, inDir: String, stateDir: String,
                    checkpointDir: String, schemaFrom: DataFrame,
                    aCol: String, bCol: String,
                    autoCompactBytes: Long = 64L << 20): StreamingQuery =
    spark.readStream
      .schema(schemaFrom.schema)
      .parquet(inDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(spark, batch, aCol, bCol, batchId, stateDir,
          autoCompactBytes = autoCompactBytes)
        ()
      }
      .start()
}
