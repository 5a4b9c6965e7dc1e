package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Similarity search over an `array<float>` embedding column (charter
  * north-star). Three tiers:
  *
  *  - [[bruteForceTopK]] — exact cosine top-k, the correctness baseline.
  *    Probe set is broadcast; candidates stream through one scan. Cost is
  *    O(|probes|·|corpus|) — fine for small probe sets at any corpus size.
  *  - [[ivfTopK]] — IVF: a coarse quantizer (k centroids learned from the
  *    data) partitions the corpus into inverted lists; probes search only
  *    their `nprobe` nearest lists. The scale path: corpus scan is pruned to
  *    nprobe/k of the data, and the join is an equi-join on cluster id.
  *  - LSH bucketing for near-dup pairs — see [[embeddingNearDupLsh]]:
  *    random-hyperplane signatures bucket the corpus; only same-bucket pairs
  *    are scored.
  */
object Similarity {

  /** Exact top-k neighbours by cosine for each probe (probe ≠ candidate).
    * `sim` is rounded to 4 places BEFORE ranking so ordering is reproducible
    * across engines (oracle parity, SURVEY.md §7.4).
    */
  def bruteForceTopK(embeddings: DataFrame, probeIds: Seq[Long], k: Int): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val probes = e.filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = e.select(col("vec_id").as("cand_id"), col("v").as("cv"))
      .join(broadcast(probes), col("query_id") =!= col("cand_id"))
      .withColumn("sim", graft.functions.ExprUtils.roundz(cosine(col("qv"), col("cv")), 4))
      // zero-norm candidates score NaN, which Spark's desc sort ranks FIRST
      // — a zero vector must be similar to NOTHING, not everyone's top hit
      .filter(!isnan(col("sim")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("cand_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "cand_id", "sim")
  }

  /** Elementwise-mean centroids per `label` — the trained coarse quantizer
    * for IVF. posexplode → groupBy(label, pos) → re-assemble keeps the whole
    * computation distributed (no driver loop); output is k tiny rows.
    */
  def centroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("x").cast("double")).as("m"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("label").as("cluster"), transform(col("pm"), p => p.getField("m")).as("centroid"))

  /** Assign each vector to its nearest centroid — argmin by squared L2,
    * ties to the smaller cluster id, via the codegen
    * [[org.apache.spark.sql.graft.NearestCentroid]] expression (centroid
    * matrix as ONE reference object, primitive loops). The coarse quantizer
    * is O(k) driver data by construction — every IVF engine ships it to the
    * workers. The previous struct-literal formulation
    * (`array_min(array(struct(l2Sq(v, c), id)...))`) interpreted an l2Sq
    * lambda per element per centroid AND embedded k·dim literal doubles in
    * the plan — measured 128× slower building the 64×-amplified index
    * (695 s → 5.4 s at 640 clusters × 128k vectors, STRESS.md "On-disk IVF
    * index"); it survives as the equivalence oracle in
    * CatalystExpressionSpec.
    */
  def assign(embeddings: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame = {
    import org.apache.spark.sql.graft.{ColumnBridge, NearestCentroid}
    val clusterCol = ColumnBridge.column(NearestCentroid(
      ColumnBridge.expression(col("v")),
      cents.map(_._2.toArray).toArray, cents.map(_._1).toArray))
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("cluster", clusterCol)
  }

  /** Collect the trained quantizer (k tiny rows) for literal baking. */
  def centroidSeq(embeddings: DataFrame): Seq[(Int, Seq[Double])] =
    centroids(embeddings).collect().toSeq.map { r =>
      (r.get(0) match { case n: java.lang.Number => n.intValue }, r.getSeq[Double](1))
    }

  /** Persist a trained quantizer — k tiny rows of (cluster, centroid) — so
    * queries never retrain. The 100 TB story: one offline training scan,
    * then every query reads this file (or the in-session cache below).
    */
  def saveCentroids(spark: SparkSession, cents: Seq[(Int, Seq[Double])], path: String): Unit = {
    import spark.implicits._
    cents.toDF("cluster", "centroid").coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadCentroids(spark: SparkSession, path: String): Seq[(Int, Seq[Double])] =
    spark.read.parquet(path).collect().toSeq.map { r =>
      (r.get(0) match { case n: java.lang.Number => n.intValue }, r.getSeq[Double](1))
    }

  /** Embedding-space dispersion per label: how tight is each labeled group
    * of vectors? The corpus-diversity read a curator takes before sampling
    * from clusters (a collapsed cluster = redundant data; a diffuse one =
    * noise or mixed concepts) — the measurement half of SemDeDup-style
    * semantic dedup (Abbas et al. 2023: prune clusters whose members are
    * mutually too similar).
    *
    * Dispersion is measured against each label's ANCHOR member (its
    * min-`vec_id` vector), not the mean centroid: the anchor is a data
    * point both engines select identically, so per-vector cosine stays
    * bit-reproducible across engines (the proven round-4 pattern), while a
    * mean centroid's floating-point coordinates depend on partial-agg
    * summation order. The per-label MEAN of the rounded cosines is summed
    * in DECIMAL — exact, order-independent — so the whole output is
    * deterministic despite the cross-row aggregate.
    *
    * Scale shape: anchors are one tiny aggregate (k rows, broadcast back);
    * scoring is one narrow pass over the corpus; the final rollup is a
    * partial-aggregated groupBy on label. One shuffle above the scan.
    */
  def labelDispersion(embeddings: DataFrame): DataFrame = {
    // zero-norm vectors are excluded UP FRONT, before anchor selection:
    // they score NaN against everything (cosine's zero-denominator guard),
    // which would deflate the DECIMAL mean (NaN→DECIMAL casts to null while
    // count(1) still counts the row) and error the DuckDB mirror's cast —
    // and a zero-norm vector winning the min-vec_id anchor race would NaN
    // out its whole label. Same guard class as bruteForceTopK's !isnan
    // filter; n_vecs counts SCOREABLE vectors, and every cosine downstream
    // is NaN-free by construction (both norms > 0).
    val e = embeddings.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
      .filter(dot(col("v"), col("v")) > 0.0)
    val anchors = e.groupBy("label")
      .agg(min_by(col("v"), col("vec_id")).as("av"))
    e.join(broadcast(anchors), Seq("label"))
      .withColumn("c", graft.functions.ExprUtils.roundz(cosine(col("v"), col("av")), 4))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        graft.functions.ExprUtils.roundz(sum(col("c").cast("decimal(14,4)")).cast("double") /
          count(lit(1)), 4).as("mean_cos"),
        min("c").as("min_cos"),
        max("c").as("max_cos"))
      .orderBy("label")
  }

  /** Cluster-balanced (√-rebalanced) sampling: assign each vector to its
    * nearest trained centroid, then keep ⌈√n_c⌉ deterministically-chosen
    * members per cluster — the "flatten the head clusters" selection a
    * data-mixing pass runs over embedding clusters (temperature sampling
    * with α = 1/2: a cluster 100× larger contributes only 10× the sample,
    * so dominant modes stop drowning the tail — the multilingual
    * temperature-rebalancing idea applied to semantic clusters).
    *
    * Deterministic and RNG-free like every sampler here: the within-cluster
    * race key is `h60(vec_id · ":csample")`, so retries/backfills reproduce
    * the sample. Scale shape: assignment is one narrow codegen pass
    * (NearestCentroid, broadcast quantizer); cluster sizes are one
    * map-side-combinable tiny aggregate broadcast back; the rank window
    * shuffles once on cluster and sorts per cluster — the
    * [[Sampling.samplePerSource]] shape (its bounded-aggregator variant is
    * the hot-cluster escape hatch; quotas here are tiny by construction:
    * √n per cluster).
    */
  def clusterSampleOf(embeddings: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame = {
    import graft.functions.Hashing.h60
    val assigned = assign(embeddings, cents)
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
    val counts = assigned.groupBy("cluster").agg(count(lit(1)).as("n_c"))
    val w = Window.partitionBy("cluster")
      .orderBy(h60(concat(col("vec_id").cast("string"), lit(":csample"))), col("vec_id"))
    assigned
      .withColumn("rk", row_number().over(w).cast("long"))
      .join(broadcast(counts), Seq("cluster"))
      .withColumn("quota", ceil(sqrt(col("n_c").cast("double"))))
      .filter(col("rk") <= col("quota"))
      .select(col("vec_id"), col("cluster"), col("n_c"), col("quota"), col("rk"))
      .orderBy("vec_id")
  }

  def clusterSample(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.embeddings(spark, dir)
    clusterSampleOf(e, trainedCentroids(e, dir))
  }

  /** DuckDB mirror of [[labelDispersion]] — same anchor selection
    * (ARG_MIN), same round-then-DECIMAL-sum determinism. */
  val labelDispersionSql: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |           WHERE list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) > 0),
      |a AS (SELECT label, ARG_MIN(v, vec_id) AS av FROM e GROUP BY label),
      |c AS (SELECT e.label, (ROUND(LIST_COSINE_SIMILARITY(e.v, a.av), 4) + 0.0) AS c
      |      FROM e JOIN a ON e.label = a.label)
      |SELECT label, COUNT(*) AS n_vecs,
      |(ROUND(CAST(SUM(CAST(c AS DECIMAL(14,4))) AS DOUBLE) / COUNT(*), 4) + 0.0) AS mean_cos,
      |MIN(c) AS min_cos, MAX(c) AS max_cos
      |FROM c GROUP BY label ORDER BY label""".stripMargin

  /** SemDeDup's pruning half (Abbas et al. 2023): within each label
    * cluster, drop members whose cosine to the cluster anchor is ≥ `tau`
    * (semantically redundant with it), keeping the anchor itself. Linear —
    * one broadcast anchor join, one narrow filter; no pairwise comparison
    * (the published algorithm's within-cluster pair matrix is what the
    * anchor formulation removes, at the cost of only catching redundancy
    * WITH the anchor — the multi-representative extension is rerunning on
    * the kept set). Emits every vector with its verdict so downstream
    * picks `keep`; threshold compares the ROUNDED cosine, making the
    * boundary engine-portable.
    */
  def semanticDedupKeep(embeddings: DataFrame, tau: Double): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    // anchors race over SCOREABLE (non-zero-norm) vectors only: a zero
    // vector can't witness redundancy, so it must not be the yardstick
    val anchors = e.filter(dot(col("v"), col("v")) > 0.0)
      .groupBy("label").agg(
        min_by(col("v"), col("vec_id")).as("av"), min("vec_id").as("anchor_id"))
    // LEFT join: a label whose vectors are ALL zero-norm has no anchor —
    // its members score null and fall to the keep branch below
    e.join(broadcast(anchors), Seq("label"), "left")
      .withColumn("cos_anchor", graft.functions.ExprUtils.roundz(cosine(col("v"), col("av")), 4))
      // normalize "unscoreable" to null (the SQL mirror's CASE does the
      // same): NaN (zero-norm member) and null (anchorless label) collapse
      // to one representation for the gate's value compare
      .withColumn("cos_anchor",
        when(isnan(col("cos_anchor")), lit(null).cast("double"))
          .otherwise(col("cos_anchor")))
      .select(col("vec_id"), col("label"), col("cos_anchor"),
        // unscoreable KEEPS: a zero vector is similar to NOTHING
        // (bruteForceTopK's rule), so it cannot be "redundant with the
        // anchor". Spark orders NaN above every double, so `cos < tau`
        // alone would have silently DROPPED them.
        (col("vec_id") === col("anchor_id") || col("cos_anchor").isNull ||
          col("cos_anchor") < tau).as("keep"))
      .orderBy("vec_id")
  }

  /** DuckDB mirror of [[semanticDedupKeep]] — same scoreable-anchor race,
    * same keep-on-NaN/null rule for zero-norm members and anchorless
    * labels. */
  def semanticDedupKeepSql(tau: Double): String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |a AS (SELECT label, ARG_MIN(v, vec_id) AS av, MIN(vec_id) AS anchor_id
       |      FROM e WHERE list_sum(list_transform(v, x -> x * x)) > 0 GROUP BY label),
       |s AS (SELECT e.vec_id, e.label, a.anchor_id,
       |        CASE WHEN list_sum(list_transform(e.v, x -> x * x)) > 0 AND a.anchor_id IS NOT NULL
       |             THEN (ROUND(LIST_COSINE_SIMILARITY(e.v, a.av), 4) + 0.0) END AS cos_anchor
       |      FROM e LEFT JOIN a ON e.label = a.label)
       |SELECT vec_id, label, cos_anchor,
       |(vec_id = COALESCE(anchor_id, -1) OR cos_anchor IS NULL OR cos_anchor < $tau) AS keep
       |FROM s ORDER BY vec_id""".stripMargin

  /** Session-scoped trained-quantizer cache: the round-1 entry point
    * retrained the quantizer from the full corpus on EVERY invocation (a
    * full posexplode + two aggregations before the query proper — a full
    * training scan per query at 100 TB). Queries go through here instead:
    * first call per key trains, the rest reuse.
    */
  private val centroidCache =
    new scala.collection.concurrent.TrieMap[String, Seq[(Int, Seq[Double])]]
  def trainedCentroids(embeddings: DataFrame, cacheKey: String): Seq[(Int, Seq[Double])] =
    centroidCache.getOrElseUpdate(cacheKey, centroidSeq(embeddings))

  /** Session-scoped build-once registry for the on-disk index layouts —
    * [[trainedCentroids]]'s counterpart for the MATERIALIZED indexes. An
    * index build is offline maintenance (one corpus-sized write per layout
    * change), not query latency, so a query that needs `path` goes through
    * here: the first call per path this session builds (always fresh —
    * on-disk leftovers from earlier sessions are never trusted), the rest
    * reuse the files. A registry hit re-verifies the files still EXIST
    * (local paths only — the /tmp layouts this serves): an externally
    * cleaned dir (tmpwatch) rebuilds instead of failing the query.
    * Residual limitation, documented: a registry hit cannot detect that
    * the SOURCE corpus changed under an intact index mid-JVM (testdata
    * regeneration happens between driver rounds, i.e. across JVMs, where
    * the registry is empty anyway). Build cost stays a measured STRESS.md
    * row.
    */
  private val builtIndexes = new scala.collection.concurrent.TrieMap[String, Unit]

  /** Drop the session caches (Bench fresh-cost mode, VERDICT r14 item 3):
    * the next call per key retrains the quantizer / rebuilds the index, so
    * a timed execution after this carries the full offline-build cost. */
  def clearSessionCaches(): Unit = {
    centroidCache.clear()
    builtIndexes.clear()
  }

  def ensureBuilt(path: String)(build: => Unit): Unit = {
    // Hadoop's Path parser is lenient where java.net.URI is strict — a
    // local path with a space is valid here and must not throw.
    val u = new org.apache.hadoop.fs.Path(path).toUri
    val local = u.getScheme == null || u.getScheme == "file"
    if (local && !new java.io.File(u.getPath).exists()) builtIndexes.remove(path)
    builtIndexes.getOrElseUpdate(path, build)
  }

  /** IVF approximate top-k against an already-trained quantizer: each probe
    * searches only its `nprobe` nearest inverted lists. The only
    * shuffle-bearing operator left is the cluster equi-join (probe side tiny
    * → broadcast) + the final per-probe top-k — no training scan.
    */
  def ivfTopK(embeddings: DataFrame, cents: Seq[(Int, Seq[Double])],
              probeIds: Seq[Long], k: Int, nprobe: Int): DataFrame =
    ivfTopKAssigned(assign(embeddings, cents), cents, probeIds, k, nprobe)

  /** [[ivfTopK]] over a PRE-ASSIGNED table (vec_id, v, cluster) — the
    * incremental-index path: assignments are computed once per ingested
    * batch ([[appendAssigned]]) and persisted, so a query reads the
    * inverted-list table directly with neither training nor assignment
    * scans. At 100 TB the assigned table is also the natural thing to
    * partition BY cluster (partition pruning then serves the nprobe scan).
    */
  def ivfTopKAssigned(assigned: DataFrame, cents: Seq[(Int, Seq[Double])],
                      probeIds: Seq[Long], k: Int, nprobe: Int): DataFrame =
    ivfScoreTail(probeClusters(assigned, cents, probeIds, nprobe),
      assigned.select(col("vec_id").as("cand_id"), col("v").as("cv"), col("cluster")), k)

  /** Metadata-filtered IVF retrieval (round 16): top-k among candidates
    * whose id survives `allowedIds` (one id column — typically a filtered
    * metadata table: "search only lang='en'" / "only source=X") — the
    * filtered-vector-search shape every retrieval service needs. The
    * filter SEMI-JOINS the candidate side after partition pruning and
    * BEFORE the per-probe top-k, so k fills from the filtered pool — the
    * naive score-then-filter order UNDER-fills k whenever the global top-k
    * contains excluded ids (the classic filtered-ANN bug, spec-pinned).
    * Probes are NOT required to pass the filter (a query vector is not a
    * result). At scale the semi-join is a broadcast when the allowed set
    * is dimension-sized and a shuffled hash semi-join when it is not —
    * both shapes Catalyst picks from the same declaration.
    */
  def ivfTopKFiltered(embeddings: DataFrame, cents: Seq[(Int, Seq[Double])],
                      probeIds: Seq[Long], k: Int, nprobe: Int,
                      allowedIds: DataFrame): DataFrame =
    ivfTopKFilteredAssigned(assign(embeddings, cents), cents, probeIds, k,
      nprobe, allowedIds)

  /** [[ivfTopKFiltered]] over a pre-assigned table — the incremental-index
    * twin ([[ivfTopKAssigned]] contract). */
  def ivfTopKFilteredAssigned(assigned: DataFrame, cents: Seq[(Int, Seq[Double])],
                              probeIds: Seq[Long], k: Int, nprobe: Int,
                              allowedIds: DataFrame): DataFrame = {
    val allowed = allowedIds
      .select(col(allowedIds.columns.head).as("vec_id")).distinct()
    val cands = assigned.join(allowed, Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("cand_id"), col("v").as("cv"), col("cluster"))
    ivfScoreTail(probeClusters(assigned, cents, probeIds, nprobe), cands, k)
  }

  /** nprobe nearest clusters per probe via the codegen
    * [[org.apache.spark.sql.graft.NearestClusters]] (centroid matrix as a
    * reference object) — no crossJoin, no window, and no k·dim literals in
    * the plan: the literal-struct formulation pushed ~330k literal nodes
    * through analysis/codegen PER QUERY at 2560 clusters, measured 62 s of
    * driver-side cost per indexed query at 256× (STRESS.md). */
  private def probeClusters(assigned: DataFrame, cents: Seq[(Int, Seq[Double])],
                            probeIds: Seq[Long], nprobe: Int): DataFrame = {
    import org.apache.spark.sql.graft.{ColumnBridge, NearestClusters}
    val nearest = ColumnBridge.column(NearestClusters(
      ColumnBridge.expression(col("v")),
      cents.map(_._2.toArray).toArray, cents.map(_._1).toArray, nprobe))
    assigned.filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        explode(nearest).as("cluster"))
  }

  /** Resolve a streamed-index frame (carrying the per-row `src_batch`
    * ingest provenance) LAST-WRITER-WINS per vec_id: the max-src_batch row
    * serves; bit-identical duplicates (the compaction crash window's
    * replayed rows share a src_batch) resolve to one row of the identical
    * value. One exchange on vec_id over the (pruned) read — the same cost
    * class as the dropDuplicates it replaces, but deterministic under
    * re-ingest. */
  private[graft] def latestIngest(rows: DataFrame): DataFrame =
    if (!rows.columns.contains("src_batch"))
      // pre-round-18 layout (no per-row ingest provenance): degrade to the
      // old arbitrary-among-bit-identical dedup instead of failing the read
      rows.dropDuplicates("vec_id")
    else {
      val w = Window.partitionBy("vec_id").orderBy(col("src_batch").desc)
      rows.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }

  /** Shared ranking tail over an already-joined (query × candidate) frame:
    * self-pair filter, rounded score, NaN guard (zero-norm/all-zero
    * candidates rank nowhere), bounded per-probe top-k. EVERY IVF scorer
    * (exact, int8, PQ decode, PQ ADC) must rank through here — an earlier
    * inlined copy dropped its NaN guard, which is the drift this shared
    * tail exists to prevent. */
  private[graft] def rankTail(joined: DataFrame, k: Int,
                              sim: org.apache.spark.sql.Column,
                              simCol: String): DataFrame =
    joined.filter(col("query_id") =!= col("cand_id"))
      .withColumn(simCol, graft.functions.ExprUtils.roundz(sim, 4))
      .filter(!isnan(col(simCol)))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col(simCol).desc, col("cand_id"))))
      .filter(col("rn") <= k)
      .select("query_id", "cand_id", simCol)

  /** [[rankTail]] preceded by the standard probe-broadcast cluster
    * equi-join, exact-cosine scored. */
  private[graft] def ivfScoreTail(probes: DataFrame, cands: DataFrame, k: Int): DataFrame =
    rankTail(broadcast(probes).join(cands, Seq("cluster")), k,
      cosine(col("qv"), col("cv")), "sim")

  /** Materialize the inverted-list index CLUSTER-PARTITIONED on disk —
    * `path/cluster=<id>/…` — so a query's candidate read lists and opens
    * ONLY its nprobe inverted lists (PartitionFilters, proven in
    * SimilaritySpec). At 100 TB this is the layout that makes nprobe/k of
    * the corpus the read cost instead of a full scan with a post-filter.
    */
  def buildIndex(embeddings: DataFrame, cents: Seq[(Int, Seq[Double])],
                 path: String): Unit =
    // repartition ON the partition column first: the naive dynamic-partition
    // write fans every write task across every cluster dir (tasks × clusters
    // files — measured 41× build blowup 15→620 s from 8× to 64× at 640
    // clusters, ~20k files; STRESS.md "On-disk IVF index"). One shuffle
    // co-locates each inverted list into one task → ~1 file per cluster,
    // which is also the read layout the pruned query wants.
    assign(embeddings, cents)
      .repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(path)

  /** IVF top-k against a [[buildIndex]]-materialized on-disk index. The
    * probe rows are looked up by id (row-group-stat skip; a service would
    * carry the query vectors client-side instead), their nprobe inverted
    * lists resolved to a STATIC cluster list (O(probes·nprobe) driver
    * rows), and the candidate scan is partition-pruned to exactly those
    * `cluster=` directories.
    */
  def ivfTopKIndexed(spark: SparkSession, path: String, cents: Seq[(Int, Seq[Double])],
                     probeIds: Seq[Long], k: Int, nprobe: Int): DataFrame = {
    val idx = spark.read.parquet(path)
    val probes = probeClusters(idx, cents, probeIds, nprobe)
    val probed = probes.select("cluster").distinct().collect()
      .map(_.get(0) match { case n: java.lang.Number => n.intValue }).toSeq
    val cands = idx.filter(col("cluster").isin(probed: _*))
      .select(col("vec_id").as("cand_id"), col("v").as("cv"), col("cluster"))
    ivfScoreTail(probes, cands, k)
  }

  /** [[ivfTopKIndexed]] with the query VECTORS carried by the caller — the
    * service shape the indexed scaladoc promises: an ANN service holds the
    * query embedding client-side, so the engine never scans the index to
    * look probe rows up by id. The nprobe nearest clusters are computed
    * driver-side from the O(k) quantizer (same squared-L2, same
    * smaller-id tie-break as [[probeClusters]] — spec-pinned identical
    * results), and the ONLY index I/O is the partition-pruned candidate
    * read of exactly those `cluster=` directories: measured 24 files /
    * 2.0 MB selected at EVERY sweep factor (1.0% of the index at 2560
    * clusters), vs the id-lookup form whose probe lookup selects the whole
    * index (STRESS.md "On-disk IVF index").
    */
  def ivfTopKIndexedVectors(spark: SparkSession, path: String,
                            cents: Seq[(Int, Seq[Double])],
                            queries: Seq[(Long, Seq[Double])],
                            k: Int, nprobe: Int): DataFrame = {
    import spark.implicits._
    val withClusters = queries.map { case (id, v) =>
      (id, v, nearestClustersLocal(v, cents, nprobe))
    }
    val probes = withClusters.toDF("query_id", "qv", "clusters")
      .select(col("query_id"), col("qv"), explode(col("clusters")).as("cluster"))
    val probed = withClusters.flatMap(_._3).distinct
    val cands = spark.read.parquet(path)
      .filter(col("cluster").isin(probed: _*))
      .select(col("vec_id").as("cand_id"), col("v").as("cv"), col("cluster"))
    ivfScoreTail(probes, cands, k)
  }

  /** int8 max-abs quantization of a double vector column: qi =
    * round(vi · 127 / max|v|), the standard symmetric scheme. Cosine is
    * invariant to the per-vector scale, so the quantized index stores ONLY
    * the byte array (4× smaller than float32, 8× than double) and scoring
    * needs no dequantization — [[org.apache.spark.sql.graft.CosineI8]]
    * runs integer MACs on the bytes directly. A zero vector quantizes to
    * zeros → CosineI8 yields NaN → dropped, the exact kernel's rule. */
  private def quantizeI8(v: Column): Column = {
    val mx = array_max(transform(v, x => abs(x)))
    when(mx === 0.0 || mx.isNull, transform(v, _ => lit(0).cast("byte")))
      .otherwise(transform(v, x => round(x * lit(127.0) / mx).cast("byte")))
  }

  /** [[buildIndex]] with int8-quantized vectors: same cluster-partitioned
    * layout (assignment runs on the FULL-precision vectors, so list
    * membership is identical to the exact index), but each inverted list
    * stores `qv: array<byte>` — measured 3.7× smaller on disk (STRESS.md
    * "On-disk IVF index", quantized columns). At 100 TB an embedding index
    * is tens of TB; this is the difference between an index that fits hot
    * storage and one that doesn't.
    */
  def buildIndexQuantized(embeddings: DataFrame, cents: Seq[(Int, Seq[Double])],
                          path: String, encodedGen: Long = 0L): Unit = {
    quantizedFromAssigned(assign(embeddings, cents))
      .repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(path)
    // int8 codes are cluster-partitioned against a SPECIFIC quantizer
    // geometry like the PQ tiers — stamp the generation so a recluster
    // fences this tier too (round-18 review finding: the fence initially
    // covered only the PQ/residual dirs)
    IndexGen.setEncodedGen(embeddings.sparkSession, path, encodedGen)
  }

  /** The quantized index row shape from an assigned (full-precision) frame:
    * per-vector int8 max-abs quantization, full vector dropped. Shared by
    * [[buildIndexQuantized]], [[appendAssignedQuantized]] and the streaming
    * dual-write ([[graft.streaming.EmbeddingIndexStream]]) so every path
    * produces byte-identical quantization. */
  private[graft] def quantizedFromAssigned(assigned: DataFrame): DataFrame =
    assigned.withColumn("qv", quantizeI8(col("v"))).drop("v")

  /** [[ivfTopKIndexedVectors]] against a [[buildIndexQuantized]] index:
    * probes quantize driver-side, candidates score with the integer
    * [[org.apache.spark.sql.graft.CosineI8]] kernel. Ranking approximates
    * the exact cosine ranking to quantization error (recall@10 ≥ 0.9
    * spec-pinned on the gate corpus; ties broken by cand_id as ever). The
    * returned `sim` is the int8 cosine rounded to 4 — callers needing
    * exact scores rerank the k survivors against full vectors (k rows).
    *
    * CHOOSING nprobe (measured curve: STRESS.md "Round-8 additions"): ANN
    * error decomposes into CLUSTER-MISS (the true neighbour's list wasn't
    * probed — controlled by nprobe) and QUANTIZATION ranking noise
    * (measured ≤ 0.025 recall@10, and zero until ≥ 80% of clusters are
    * probed). So: sweep nprobe on a held-out probe set of YOUR corpus
    * against brute force (`tools/IndexedAnnStress` natural block is the
    * harness), pick the knee that meets the recall target — the shape is
    * a property of how well cluster structure aligns with similarity —
    * and if the residual int8 gap matters, wrap with
    * [[ivfTopKQuantizedRerank]] (exact scores at quantized read volume)
    * rather than raising nprobe further: read cost is linear in nprobe,
    * the rerank's extra read is O(pool).
    */
  def ivfTopKIndexedQuantized(spark: SparkSession, path: String,
                              cents: Seq[(Int, Seq[Double])],
                              queries: Seq[(Long, Seq[Double])],
                              k: Int, nprobe: Int,
                              scope: Pq.CandidateScope = Pq.CandidateScope()): DataFrame = {
    import org.apache.spark.sql.graft.{ColumnBridge, CosineI8}
    import spark.implicits._
    // HALF_UP away from zero, matching Spark's round() used at build time
    // (math.round rounds -2.5 toward +∞ — a half-tick mismatch at exact
    // .5 boundaries between probe and candidate quantization otherwise)
    def halfUp(x: Double): Byte =
      (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toByte
    val withClusters = queries.map { case (id, v) =>
      val mx = v.foldLeft(0.0)((m, x) => math.max(m, math.abs(x)))
      val qv = if (mx == 0.0) v.map(_ => 0.toByte)
               else v.map(x => halfUp(x * 127.0 / mx))
      (id, qv, nearestClustersLocal(v, cents, nprobe))
    }
    val probes = withClusters.toDF("query_id", "qqv", "clusters")
      .select(col("query_id"), col("qqv"), explode(col("clusters")).as("cluster"))
    val probed = withClusters.flatMap(_._3).distinct
    // same filter/delete/dedup composition as the PQ tiers — BELOW the
    // per-probe top-k, so k fills from the eligible pool
    val cands = Pq.applyScope(spark.read.parquet(path)
        .filter(col("cluster").isin(probed: _*)), scope)
      .select(col("vec_id").as("cand_id"), col("qv").as("cqv"), col("cluster"))
    val simI8 = ColumnBridge.column(CosineI8(
      ColumnBridge.expression(col("qqv")), ColumnBridge.expression(col("cqv"))))
    broadcast(probes).join(cands, Seq("cluster"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("sim", graft.functions.ExprUtils.roundz(simI8, 4))
      .filter(!isnan(col("sim")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("sim").desc, col("cand_id"))))
      .filter(col("rn") <= k)
      .select("query_id", "cand_id", "sim")
  }

  /** Two-stage retrieval — the standard 100 TB ANN deployment: stage 1
    * scans the small int8 index ([[ivfTopKIndexedQuantized]], 5.9× less
    * hot-storage read) for a `poolMult·k` candidate pool; stage 2 fetches
    * ONLY the pool rows' full-precision vectors from the exact index
    * (partition-pruned to the same nprobe clusters, then a broadcast
    * id semi-join — O(|pool|) rows survive) and rescores with exact
    * cosine. Exact scores, quantized read volume: the full-precision read
    * is bounded by the pool, not the inverted lists.
    *
    * The result is DETERMINISTIC given the two indexes (the pool race and
    * the rerank both tie-break on cand_id), so the gate oracle replays the
    * whole two-stage pipeline in SQL rather than assuming pool recall.
    * With the measured int8 recall (0.96@10) a pool of 4k already makes
    * the output equal [[ivfTopKIndexedVectors]] almost always — that
    * near-equality is the spec's recall pin, not the oracle's claim. */
  def ivfTopKQuantizedRerank(spark: SparkSession, qPath: String, exactPath: String,
                             cents: Seq[(Int, Seq[Double])],
                             queries: Seq[(Long, Seq[Double])],
                             k: Int, nprobe: Int, poolMult: Int = 4,
                             scope: Pq.CandidateScope = Pq.CandidateScope()): DataFrame = {
    import spark.implicits._
    // generation fence: refuse stale int8 codes against a reclustered
    // quantizer (the same IndexGen contract as the PQ rerank paths)
    IndexGen.requireMatch(spark, qPath, exactPath)
    // scope applies to the pool stage; the exact rerank restricts to pool
    // ids by construction (the Pq.ivfTopKPqResidualRerank contract)
    val pool = ivfTopKIndexedQuantized(spark, qPath, cents, queries,
        k * poolMult, nprobe, scope)
      .select(col("query_id"), col("cand_id"))
    rerankAgainstExact(spark, exactPath, cents, queries, pool, k, nprobe)
  }

  /** The shared rerank tail: exact-cosine rescore of a (query_id, cand_id)
    * pool against the exact index, cluster-pruned to the probes' lists —
    * one implementation for every compressed tier's second stage (int8 and
    * PQ; a drifting copy of this tail is how the PQ tier briefly lost the
    * NaN guard). */
  /** `scopeExact` resolves the pruned exact read BEFORE the pool join —
    * the live paths pass ceiling exclusion + last-writer resolution here,
    * or an UPDATED id could rescore with a superseded generation (the
    * pool correctly elects the new code, but the raw exact dir holds BOTH
    * generations and an arbitrary-row dedup could keep the old one —
    * round-18 review finding). */
  private[graft] def rerankAgainstExact(spark: SparkSession, exactPath: String,
      cents: Seq[(Int, Seq[Double])], queries: Seq[(Long, Seq[Double])],
      pool: DataFrame, k: Int, nprobe: Int,
      scopeExact: DataFrame => DataFrame = identity): DataFrame = {
    import spark.implicits._
    val probed = queries.flatMap { case (_, v) =>
      nearestClustersLocal(v, cents, nprobe)
    }.distinct
    val exact = scopeExact(spark.read.parquet(exactPath)
        .filter(col("cluster").isin(probed: _*)))
      .select(col("vec_id").as("cand_id"), col("v").as("cv"))
    val qdf = queries.toDF("query_id", "qv")
    exact.join(broadcast(pool), Seq("cand_id"))
      .join(broadcast(qdf), Seq("query_id"))
      // a streamed exact index in compaction's crash window (swap done,
      // source deletes pending) carries bit-identical duplicate rows; one
      // vector must not take two k slots. Bounded work at ANY corpus size:
      // the joined frame is ≤ |pool| rows by construction.
      .dropDuplicates("query_id", "cand_id")
      .withColumn("sim", graft.functions.ExprUtils.roundz(cosine(col("qv"), col("cv")), 4))
      .filter(!isnan(col("sim")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("sim").desc, col("cand_id"))))
      .filter(col("rn") <= k)
      .select("query_id", "cand_id", "sim")
  }

  /** Driver-side twin of [[org.apache.spark.sql.graft.NearestClusters]]
    * for the O(probes·k·dim) query-side assignment (lexicographic
    * (distance, id) order — identical output, CatalystExpressionSpec). */
  private[graft] def nearestClustersLocal(v: Seq[Double],
                                              cents: Seq[(Int, Seq[Double])],
                                              nprobe: Int): Seq[Int] =
    cents.map { case (cl, c) =>
      val m = math.min(v.length, c.length)
      var d = 0.0
      var j = 0
      while (j < m) { val x = v(j) - c(j); d += x * x; j += 1 }
      (d, cl)
    }.sorted.take(nprobe).map(_._2)

  /** Incremental index maintenance: assign a batch of NEW embeddings
    * against the persisted quantizer and append to the inverted-list
    * table. O(batch·k) work per batch — the corpus is never re-assigned,
    * the quantizer never retrained (re-train offline when drift warrants,
    * then rebuild the assignment table once).
    */
  def appendAssigned(newEmbeddings: DataFrame, cents: Seq[(Int, Seq[Double])],
                     assignedPath: String): Unit =
    assign(newEmbeddings, cents)
      .repartition(col("cluster")) // one file per touched cluster per batch
      .write.mode("append").partitionBy("cluster").parquet(assignedPath)

  /** Incremental maintenance for the QUANTIZED index — [[appendAssigned]]'s
    * twin for [[buildIndexQuantized]] layouts. Assignment runs on the
    * batch's full-precision vectors (so list membership stays identical to
    * the exact index), quantization on the way in; the stored index never
    * holds a full-precision vector. Without this the int8 index — the one
    * that actually fits hot storage at 100 TB — is rebuild-only while the
    * exact index streams. */
  def appendAssignedQuantized(newEmbeddings: DataFrame, cents: Seq[(Int, Seq[Double])],
                              indexPath: String): Unit =
    quantizedFromAssigned(assign(newEmbeddings, cents))
      .repartition(col("cluster")) // one file per touched cluster per batch
      .write.mode("append").partitionBy("cluster").parquet(indexPath)

  /** Convenience: train-or-reuse the quantizer via the session cache. */
  def ivfTopKCached(embeddings: DataFrame, cacheKey: String,
                    probeIds: Seq[Long], k: Int, nprobe: Int): DataFrame =
    ivfTopK(embeddings, trainedCentroids(embeddings, cacheKey), probeIds, k, nprobe)

  /** Deterministic random hyperplanes for cosine LSH (seeded). */
  def hyperplanes(dim: Int, nBits: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Signature width so the EXPECTED bucket size is ≤ `targetBucket` under
    * a uniform split: bits = ⌈log₂(n / targetBucket)⌉, floored at 4 (the
    * recall-calibrated default) — the round-3 fixed width made expected
    * bucket size n/16, i.e. O(n²) verify work at ANY corpus size.
    * Near-identical vectors still collapse into one bucket whatever the
    * width (hyperplanes cannot separate them — that is the point of LSH),
    * which is why [[embeddingNearDupLsh]] ALSO caps realized bucket size via
    * the triangle-split; width controls the expectation, the cap controls
    * the tail.
    */
  def bitsPerTableFor(n: Long, targetBucket: Long = 1024L): Int = {
    val ratio = math.max(n.toDouble / targetBucket.toDouble, 1.0)
    math.max(4, math.ceil(math.log(ratio) / math.log(2.0)).toInt)
  }

  /** [[embeddingNearDupLsh]] with the signature width DERIVED from the
    * corpus row count (one cheap count job — parquet footer statistics).
    * Changing width changes recall, so this is a separate entry point; the
    * oracle-pinned gate query keeps its explicit calibrated width.
    */
  def embeddingNearDupLshAuto(embeddings: DataFrame, dim: Int, threshold: Double,
                              nTables: Int = 16, targetBucket: Long = 1024L,
                              bucketCap: Int = 2000): DataFrame =
    embeddingNearDupLsh(embeddings, dim, threshold, nTables,
      bitsPerTableFor(embeddings.count(), targetBucket), bucketCap)

  /** Near-duplicate embedding pairs at scale: multi-table random-hyperplane
    * LSH. Each of `nTables` independent tables buckets vectors by a
    * `bitsPerTable`-bit signature; a pair is a candidate if it collides in
    * ANY table (banding — one table alone has vanishing recall at moderate
    * cosine). Candidates are verified with the exact cosine ≥ threshold.
    * Verify work is O(Σ bucket²) per table; size `bitsPerTable` to the
    * corpus (see [[bitsPerTableFor]]) so that stays far below O(n²).
    *
    * Recall at cos θ: p = (1 - θ/π)^bits per table, 1-(1-p)^tables overall
    * — 16×4 gives ~0.94 at cos 0.4, ~1.0 above 0.7.
    */
  def embeddingNearDupLsh(embeddings: DataFrame, dim: Int, threshold: Double,
                          nTables: Int = 16, bitsPerTable: Int = 4,
                          bucketCap: Int = 2000): DataFrame = {
    val allPlanes = hyperplanes(dim, nTables * bitsPerTable)
    val e = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // all table buckets in one referenced-object expression (the per-table
    // literal-plane formulation put planes×dim literal doubles in the plan)
    import org.apache.spark.sql.graft.{ColumnBridge, CosinePairsBounded, HyperplaneBuckets}
    val bucketsCol = ColumnBridge.column(HyperplaneBuckets(
      ColumnBridge.expression(col("v")), allPlanes.toArray, bitsPerTable))
    // Each sub-bucket verifies its own pairs in one expression call (norms
    // once per element, primitive dot-triangle loops, HALF_UP round to 4 —
    // the exact arithmetic of round(cosine, 4) in embeddingNearDupExact).
    // Candidate pairs are never materialized into a shuffle and no join
    // re-attaches vectors; per-task buffer size is bounded by the
    // triangle-split (BucketedPairs) even for a degenerate mega-bucket.
    val bucketed = e.select(col("vec_id"), col("v"),
      posexplode(bucketsCol).as(Seq("tbl", "bucket")))
    val grouped = BucketedPairs.boundedSubBuckets(
      bucketed, Seq("tbl", "bucket"), col("vec_id"), col("v"), bucketCap)
    val pairs = ColumnBridge.column(CosinePairsBounded(
      ColumnBridge.expression(col("xs")),
      ColumnBridge.expression(col("cross")), threshold))
    grouped.select(explode(pairs).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.sim"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Linear embedding-dedup keep-filter — the embedding counterpart of
    * [[Dedup.lshDedupKeep]], completing the {minhash, embedding} ×
    * {pairs-audit, keep-filter} matrix: elect the min vec_id per
    * (table, bucket) via partial-aggregating groupBy (never a window — a
    * mega-bucket would funnel into one task), keep a vector iff it is the
    * elected representative of every bucket it occupies. No pair
    * materialization and no verify pass — the same linear recall/precision
    * trade `lshDedupKeep` makes for MinHash; the pair-level audit with
    * exact cosine verification is [[embeddingNearDupLsh]].
    */
  def embeddingDedupKeep(embeddings: DataFrame, dim: Int,
      nTables: Int = 16, bitsPerTable: Int = 4,
      shareInput: Boolean = true): DataFrame = {
    val allPlanes = hyperplanes(dim, nTables * bitsPerTable)
    import org.apache.spark.sql.graft.{ColumnBridge, HyperplaneBuckets}
    val e = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val bucketsCol = ColumnBridge.column(HyperplaneBuckets(
      ColumnBridge.expression(col("v")), allPlanes.toArray, bitsPerTable))
    val b = e.select(col("vec_id"), posexplode(bucketsCol).as(Seq("tbl", "bucket")))
    Dedup.electKeep(b, "vec_id", Seq("tbl", "bucket"), shareInput = shareInput)
  }

  /** Exact near-duplicate pairs over a bounded id slice — the oracle-checked
    * correctness twin of [[embeddingNearDupLsh]] (brute force is exact; the
    * slice keeps it O(slice²) regardless of corpus size).
    */
  /** Set-based precision/recall of a predicted pair set against exact
    * truth — the dedup family's self-measurement (did the LSH bands
    * recall the true near-dup pairs?), as one report row of exact counts
    * + two single divisions (no float-sum hazard). The verified-LSH
    * pipeline's precision is structurally 1.0 (its verify stage keeps
    * only pairs whose exact rounded sim clears the threshold), so the
    * number under test is RECALL — band coverage. Inputs are (id_a, id_b)
    * pair frames with id_a < id_b. */
  def pairEval(pred: DataFrame, truth: DataFrame): DataFrame = {
    import graft.functions.ExprUtils.roundz
    // ONE pass over each input (round 21 opt, guide §2.4): the previous
    // three-aggregate × cross-join form consumed `pred` twice (its count
    // and the semi-join probe) and `truth` twice (its count and the
    // semi-join build) — for the lsh_pair_eval gate that re-executed the
    // whole LSH band/verify pipeline and the exact O(slice²) all-pairs
    // join a second time each. A single full-outer join on the pair key
    // classifies every pair as pred-only / truth-only / hit, and one
    // keyless aggregate counts all three. Both inputs are deduplicated on
    // the pair key first: a key with m pred and n truth rows would
    // otherwise join into m·n rows and multiply every count.
    val p = pred.dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), lit(1).as("in_pred"))
    val t = truth.dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), lit(1).as("in_true"))
    def ratio(n: Column, d: Column) =
      roundz(when(d === 0L, lit(0.0))
        .otherwise(n.cast("double") / d.cast("double")), 4)
    p.join(t, Seq("id_a", "id_b"), "full_outer")
      .agg(
        count(col("in_true")).as("n_true"),
        count(col("in_pred")).as("n_pred"),
        count(when(col("in_pred").isNotNull && col("in_true").isNotNull,
          lit(1))).as("n_hit"))
      .select(col("n_true"), col("n_pred"), col("n_hit"),
        ratio(col("n_hit"), col("n_pred")).as("precision"),
        ratio(col("n_hit"), col("n_true")).as("recall"))
  }

  def embeddingNearDupExact(embeddings: DataFrame, maxId: Long, threshold: Double): DataFrame = {
    val e = embeddings.filter(col("vec_id") < maxId)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val a = e.select(col("vec_id").as("id_a"), col("v").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", graft.functions.ExprUtils.roundz(cosine(col("va"), col("vb")), 4))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }
}
