package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
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
  * Per-batch work: the batch's pairs are collected once and deduplicated
  * on the driver. One narrow scan of the star log against the broadcast
  * endpoint set returns each endpoint's stored root and whether it
  * appears as some row's component; one scan of the relabel map returns
  * the entries that name an endpoint or one of those stored roots.
  * Everything else runs on the driver: each endpoint's root is resolved, the batch's root graph is
  * folded by a union-find that links the larger root under the smaller (so
  * every component keeps its minimum as root — the batch operator's
  * fixpoint, with no per-round jobs), and each losing root is tested for
  * pre-existence in state. The star rows are written from a local frame;
  * the relabel composition runs (distributed) only when a root that
  * already existed in state loses a merge. Driver memory is O(batch
  * pairs), the same class of bound the endpoint broadcast already places
  * on a batch. A component that the batch does not touch is never read,
  * shuffled, or rewritten.
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

  private val StarSchema = StructType(Seq(
    StructField("id", LongType), StructField("component", LongType)))
  private val RelabelSchema = StructType(Seq(
    StructField("old_root", LongType), StructField("new_root", LongType)))

  private def readStars(spark: SparkSession, stateDir: String): DataFrame =
    StateLog.readKnownOrEmpty(spark, starsPath(stateDir), StarSchema)
      .select("id", "component") // drop the batch partition column

  /** The relabel map. Joins against it carry NO broadcast hint: the map
    * is small by design (pre-existing-root merges since compaction,
    * auto-compacted), so Spark's stats broadcast it anyway — but a forced
    * hint would pin broadcast even if the map outgrew the threshold
    * (compaction disabled, merge-storm workload) and OOM the driver
    * instead of degrading to a shuffle join. */
  private def readRelabels(spark: SparkSession, stateDir: String): DataFrame =
    StateLog.readKnownOrEmpty(spark, relabelsPath(stateDir), RelabelSchema)

  /** Per key of `keys` that the state table at `path` names in either of
    * its two columns (a, b): the minimum b over its rows with the key in
    * a, or None when the key appears only in b. One scan of the table
    * against the broadcast key set; only matching rows are shuffled and
    * O(keys) rows reach the driver. Empty when the table does not exist. */
  private def probe(spark: SparkSession, path: String, schema: StructType,
                    keys: Iterable[Long]): Map[Long, Option[Long]] = {
    import spark.implicits._
    val Array(a, b) = schema.fieldNames
    StateLog.readKnown(spark, path, schema).filter(_ => keys.nonEmpty).fold(Map.empty[Long, Option[Long]]) {
      _.select(explode(array(
          struct(col(a).as("k"), col(b).as("v")),
          struct(col(b).as("k"), lit(null).cast("long").as("v")))).as("e"))
        .select("e.k", "e.v")
        .join(broadcast(keys.toSeq.toDF("k")), Seq("k"), "left_semi")
        .groupBy("k").agg(min("v").as("v"))
        .as[(Long, Option[Long])].collect().toMap
    }
  }

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
      .as[(Long, Long)].collect().distinct // on the driver: no shuffle, one job
    val endpoints = p.flatMap { case (x, y) => Array(x, y) }.distinct

    // stored roots for the batch's endpoints: ONE narrow scan of the star
    // log against the broadcast endpoint set — the accumulated state is
    // never shuffled. Multiple rows per id resolve to the same root
    // (invariant above); min picks one stored value to resolve, not the
    // answer itself. A key present with no value names an endpoint that
    // appears only as some row's component.
    val starHits = probe(spark, starsPath(stateDir), StarSchema, endpoints)
    val stored = starHits.collect { case (id, Some(c0)) => id -> c0 }
    // relabel entries naming an endpoint or a stored root: every target
    // the resolution below needs, and every pre-existing name a losing
    // root can have in the map
    val relabelHits = probe(spark, relabelsPath(stateDir), RelabelSchema,
      (endpoints.iterator ++ stored.valuesIterator).toSet)
    val target = relabelHits.collect { case (o, Some(n)) => o -> n }
    val root = endpoints.map { id =>
      id -> stored.get(id).fold(target.getOrElse(id, id))(c0 => target.getOrElse(c0, c0))
    }.toMap

    // the batch's ROOT graph: O(batch) pairs over current roots — the only
    // CC this fold ever runs. Links inside an existing component collapse
    // to self-loops here and cost nothing further.
    val losers = foldRoots(p.map { case (x, y) => (root(x), root(y)) }
      .filter { case (rx, ry) => rx != ry })
    val merges = losers.length.toLong

    // commit 1 (temp-swap): compose the merges into the relabel map.
    // Persist ONLY losing roots that PRE-EXIST in state — stored as some
    // star row's id or component, or named anywhere in the current map.
    // A loser fresh to this batch needs no entry: its star rows (written
    // below) already carry the post-merge root and nothing else references
    // it — without this filter the map gains one entry per non-root node
    // ever folded and the "O(merge events)" size claim is false. Every
    // loser is some endpoint's resolved root, so the two probes above
    // already saw each of its names in state.
    val prior = starHits.keySet ++ stored.values ++ relabelHits.keySet ++ target.values
    val keptRel = losers.filter { case (o, _) => prior(o) }
    // keptRel empty ⇒ no pre-existing root lost ⇒ every existing entry's
    // target is still a current root ⇒ composition is the identity — skip
    // the rewrite entirely (append-mostly streams never touch the map)
    if (keptRel.nonEmpty) {
      val nrByTarget = losers.toSeq.toDF("new_root", "nr2")
      val composed = readRelabels(spark, stateDir)
        .join(broadcast(nrByTarget), Seq("new_root"), "left")
        .select(col("old_root"), coalesce(col("nr2"), col("new_root")).as("new_root"))
        .unionByName(keptRel.toSeq.toDF("old_root", "new_root"))
      StateLog.swapWrite(spark, relabelsPath(stateDir), composed, coalesce1 = false)
    }

    // commit 2 (idempotent dir append): every non-root endpoint's star row
    // under its FINAL root
    val finalRoot = losers.toMap
    val finalRows = endpoints.iterator
      .map(id => (id, finalRoot.getOrElse(root(id), root(id))))
      .filter { case (id, c) => id != c }.toSeq
      .toDF("id", "component")
    StateLog.commitBatchDir(spark, starsPath(stateDir), batchId, finalRows)
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
        Seq("component"), "left") // no broadcast hint — see readRelabels
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
        Seq("component"), "left") // no broadcast hint — see readRelabels
      .select(col("id"), coalesce(col("new_root"), col("component")).as("component"))
      .unionByName(relabels.select(col("old_root").as("id"), col("new_root").as("component")))
      .filter(col("id") =!= col("component"))
      .groupBy("id").agg(min("component").as("component"))
    // keep the folded log under the max seen batch= dir so partition
    // discovery stays uniform (cf. ReservoirStream.compactState)
    StateLog.swapWrite(spark, starsPath(stateDir), resolved, coalesce1 = false,
      subdir = Some(s"batch=$maxBatch"))
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
