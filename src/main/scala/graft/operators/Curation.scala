package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** The end-to-end training-data curation pipeline (charter north-star) —
  * the operators composed the way a 100 TB corpus pass actually runs:
  *
  *  1. exact dedup (content-hash semi-join keeps the min-id copy),
  *  2. near-dup removal via the LINEAR MinHash/LSH keep-filter
  *     (no pair materialization — [[Dedup.lshDedupKeep]]),
  *  3. quality + language gates (pure expression scores),
  *  4. per-document stats for downstream tokenization budgeting.
  *
  * Every stage is narrow (id + flags/scores shuffle at most); document text
  * rides only the first scan and the final projection. Output is one row
  * per surviving document.
  *
  * Round-6 note: two single-scan fusions of this pipeline (the exact stage
  * as an extra election "band", stats riding the election as grouping keys
  * / re-attached by a signature-free second scan) were built and measured
  * SLOWER than this sequential form at sf0.1 — see PLANS.md ("curation
  * fusion A/B") for the numbers and why. The sequential form also keeps the
  * exact stage strictly md5-keyed. The big round-6 win here came instead
  * from [[Dedup.electKeep]]'s shared-exchange election (signatures computed
  * once, not once per election branch).
  */
object Curation {

  def curate(spark: SparkSession, dir: String,
             minQuality: Double = 0.3, lang: String = "en",
             hashFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
               org.apache.spark.sql.functions.xxhash64(_)): DataFrame = {
    // fanOut (r20 opt): hashing/signature map sides otherwise run in the
    // single-row-group scan's one task; pipeline ends orderBy(doc_id).
    // A sorted-base/no-trailing-sort variant (the documentsById pattern
    // extended across the broadcast semi-joins) was A/B'd WORSE
    // (2.05 -> 2.53 s min-of-5) and also ties result order to the planner
    // picking broadcast joins — rejected on both counts.
    val docs = Tables.fanOut(Tables.documents(spark, dir))
    val exactKept = Dedup.dropExactDuplicates(docs, "text", "doc_id")
    val nearKeepIds = Dedup.lshDedupKeep(exactKept, "text", "doc_id",
        numPerm = 64, bands = 8, shingleK = 1, hashFn = hashFn)
      .filter(col("keep"))
      .select("doc_id")
    exactKept
      .join(nearKeepIds, Seq("doc_id"), "left_semi")
      .withColumn("quality", qualityScore(col("text")))
      .withColumn("lang_pred", langIdHeuristic(col("text")))
      .filter(col("quality") >= minQuality && col("lang_pred") === lang)
      .select(
        col("doc_id"),
        col("lang_pred"),
        col("quality"),
        length(col("text")).cast("long").as("char_len"),
        wsTokenCount(col("text")).as("ws_tokens"),
        reTokenCount(col("text")).as("re_tokens"))
      .orderBy("doc_id")
  }

  /** Fuzzy-dedup with QUALITY-elected representatives (the NeMo-Curator
    * refinement of min-id election): label transitive near-dup clusters
    * ([[Components.componentLabels]] over a verified pair graph), then keep
    * the HIGHEST-quality member per cluster (ties → min doc_id) instead of
    * the smallest id — a curator prefers the best copy, not the first.
    *
    * Scale shape: quality is a narrow per-doc expression; election is ONE
    * map-side-combinable groupBy(component) max over a (quality, −id)
    * struct — no per-cluster sort, no window — and the winner table joins
    * back on the same component key (exchange reuse). Singleton docs are
    * their own cluster (componentLabels' coalesce) and always keep.
    */
  def bestRepKeepOf(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val labels = Components.componentLabels(docs, "doc_id", pairs, "id_a", "id_b")
    val scored = docs
      .select(col("doc_id"), qualityScore(col("text")).as("quality"))
      .join(labels, "doc_id")
    val winners = scored.groupBy("component")
      .agg(max(struct(col("quality"), (-col("doc_id")).as("neg_id"))).as("w"))
      .select(col("component"), (-col("w.neg_id")).as("keep_id"))
    scored.join(winners, "component")
      .select(col("doc_id"), col("component"), col("quality"),
        (col("doc_id") === col("keep_id")).as("keep"))
  }

  /** Gate wrapper: same bounded slice + h60 pair graph as `dedup_clusters`,
    * so the oracle replays the whole chain (clusters + quality election). */
  def bestRepKeep(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 500)
    val pairs = Dedup.nearDuplicatePairs(docs, "text", "doc_id",
      threshold = 0.9, numPerm = 64, bands = 8, shingleK = 1,
      hashFn = graft.functions.Hashing.h60)
    bestRepKeepOf(docs, pairs).orderBy("doc_id")
  }

  /** Model-based filter pass (the CCNet/FineWeb composition): hashed
    * classifier probability + hashed-LM perplexity + repetition ratio,
    * scored in ONE narrow projection (both models ride the plan as O(K)
    * literal maps — no join between signals), then CCNet's
    * perplexity TERCILE assignment (head/middle/tail by rank — ntile, the
    * `customer_quartiles` global-window precedent) and a composite pass
    * flag: classifier-positive AND not repetition-heavy AND not in the
    * perplexity tail. ONE bounded training aggregate
    * ([[HashedModel.trainModelStack]] — both models from one gram stream)
    * + one window + one scoring scan.
    *
    * Null-perplexity docs (no bigrams) rank LAST in the tercile order on
    * both engines (asc_nulls_last) — they land in the tail and fail `pass`
    * unless everything ties: no-evidence docs are not silently kept.
    */
  def modelFilter(spark: SparkSession, dir: String,
                  pTau: Double = 0.5, repMax: Double = 0.5): DataFrame =
    // fanOut (r20 opt): the scoring pass is the single-task hotspot
    // (ProbeStages 1.28 s); ntile window input is narrow, final orderBy.
    // bytesPerTask=1 keeps the FULL thread-count fan here (r21 A/B: the
    // hashed classifier + LM + 3-gram repetition CPU is dense enough that
    // 32-way still wins — 0.36 s vs 0.44 s at the 64 KB default, min-of-5)
    modelFilterWith(HashedModel.trainedStack(spark, dir),
      Tables.fanOut(Tables.documents(spark, dir), bytesPerTask = 1L),
      pTau, repMax)

  def modelFilterOf(docs: DataFrame,
                    pTau: Double = 0.5, repMax: Double = 0.5): DataFrame =
    modelFilterWith(HashedModel.trainModelStack(docs), docs, pTau, repMax)

  private def modelFilterWith(
      stack: (HashedModel.ClassifierModel, HashedModel.BigramLm),
      docs: DataFrame,
      pTau: Double, repMax: Double): DataFrame = {
    val (cls, lm) = stack
    val scored = docs.select(col("doc_id"),
      HashedModel.classifierStruct(cls, col("text")).getField("p_target").as("p_target"),
      HashedModel.perplexityStruct(lm, col("text")).getField("ppl").as("ppl"),
      graft.functions.ExprUtils.bindOnce(Dedup.wordShingles(col("text"), 3)) { g =>
        round(lit(1.0) - size(array_distinct(g)).cast("double") / size(g), 4)
      }.as("rep_ratio"))
    import org.apache.spark.sql.expressions.Window
    scored
      .withColumn("ppl_tercile", ntile(3).over(
        Window.orderBy(col("ppl").asc_nulls_last, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("p_target"), col("ppl"), col("rep_ratio"),
        col("ppl_tercile"),
        (col("p_target") >= pTau && col("rep_ratio") <= repMax &&
          col("ppl_tercile") <= 2).as("pass"))
      .orderBy("doc_id")
  }

  /** [[modelFilter]]'s 100 TB twin: tercile boundaries from ONE mergeable
    * GK quantile aggregate (`approx_percentile`, the `price_quantiles`
    * path) instead of the single-partition ntile window — rank semantics
    * become value semantics (docs AT a boundary value may land one
    * tercile off vs ntile; null-ppl docs are excluded by the sketch and
    * assigned the tail directly), which is why the GATE keeps ntile (exact
    * rank ties are portable) and production at scale runs this. Shape:
    * one shared bounded training aggregate + one quantile aggregate + one
    * narrow pass — no global sort anywhere (spec pins the plan has no
    * SinglePartition exchange and the terciles agree with ntile's up to
    * boundary ties).
    */
  def modelFilterScaled(spark: SparkSession, dir: String,
                        pTau: Double = 0.5, repMax: Double = 0.5,
                        accuracy: Int = 10000): DataFrame =
    modelFilterScaledWith(HashedModel.trainedStack(spark, dir),
      Tables.documents(spark, dir), pTau, repMax, accuracy)

  /** GK tercile boundaries recorded by GATE runs only, keyed by testdata
    * dir (the stackCache precedent) — read by [[modelFilterScaledSql]] to
    * interpolate the gate run's OWN boundaries into the oracle as
    * literals. Sound because `Verify` runs every registered query BEFORE
    * dumping `oracleSql`, all on one dir; keying by dir plus restricting
    * recording to [[modelFilterScaledGate]] means no spec- or
    * library-driven `modelFilterScaled[Of]` call can overwrite the gate's
    * pair (the boundaries are dataset elements, so they print exactly). */
  private val gateBoundaries =
    new scala.collection.concurrent.TrieMap[String, Seq[Double]]
  private val lastGateDir =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  def modelFilterScaledOf(docs: DataFrame,
                          pTau: Double = 0.5, repMax: Double = 0.5,
                          accuracy: Int = 10000): DataFrame =
    modelFilterScaledWith(HashedModel.trainModelStack(docs), docs,
      pTau, repMax, accuracy)

  /** Gate wrapper: scoring is one narrow order-preserving projection, so
    * the deterministic dump order comes from the [[Tables.documentsById]]
    * base-scan sort — an `orderBy` ABOVE the scoring pass would make the
    * range partitioner's sampling job re-execute the whole model scoring
    * (no shuffle below to reuse; measured 1.9 → 3.3 s at sf0.1). */
  def modelFilterScaledGate(spark: SparkSession, dir: String,
                            pTau: Double = 0.5, repMax: Double = 0.5,
                            accuracy: Int = 10000): DataFrame =
    modelFilterScaledWith(HashedModel.trainedStack(spark, dir),
      Tables.documentsById(spark, dir), pTau, repMax, accuracy,
      record = bs => { gateBoundaries.put(dir, bs); lastGateDir.set(dir) })

  private def modelFilterScaledWith(
      stack: (HashedModel.ClassifierModel, HashedModel.BigramLm),
      docs: DataFrame,
      pTau: Double, repMax: Double, accuracy: Int,
      record: Seq[Double] => Unit = _ => ()): DataFrame = {
    val (cls, lm) = stack
    val scored = docs.select(col("doc_id"),
      HashedModel.classifierStruct(cls, col("text")).getField("p_target").as("p_target"),
      HashedModel.perplexityStruct(lm, col("text")).getField("ppl").as("ppl"),
      graft.functions.ExprUtils.bindOnce(Dedup.wordShingles(col("text"), 3)) { g =>
        round(lit(1.0) - size(array_distinct(g)).cast("double") / size(g), 4)
      }.as("rep_ratio"))
    val bRow = scored.agg(expr(
      s"approx_percentile(ppl, array(${1.0 / 3}, ${2.0 / 3}), $accuracy)").as("b")).head()
    val bs = Option(bRow.getSeq[Double](0)).getOrElse(Seq.empty)
    record(bs)
    val tercile =
      if (bs.length < 2) lit(3L) // degenerate: no scoreable ppl at all
      else when(col("ppl").isNull, 3L)
        .when(col("ppl") <= bs(0), 1L)
        .when(col("ppl") <= bs(1), 2L)
        .otherwise(3L)
    scored
      .withColumn("ppl_tercile", tercile)
      .select(col("doc_id"), col("p_target"), col("ppl"), col("rep_ratio"),
        col("ppl_tercile"),
        (col("p_target") >= pTau && col("rep_ratio") <= repMax &&
          col("ppl_tercile") <= 2).as("pass"))
  }

  /** DuckDB replay of [[modelFilter]]: the standalone classifier/LM oracles
    * as subqueries joined on doc_id (the fused projection computes exactly
    * their values), NTILE over the same null-last order, same flags. */
  def modelFilterSql(pTau: Double = 0.5, repMax: Double = 0.5): String =
    s"""WITH c AS (${HashedModel.classifierScoresSql()}),
       |p AS (${HashedModel.bigramPerplexitySql()}),
       |r AS (SELECT doc_id,
       |  ROUND(1.0 - CAST(LEN(LIST_DISTINCT(${graft.PortableOracles.shingles3Expr})) AS DOUBLE)
       |        / LEN(${graft.PortableOracles.shingles3Expr}), 4) AS rep_ratio
       |  FROM documents),
       |j AS (SELECT c.doc_id, c.p_target, p.ppl, r.rep_ratio,
       |  NTILE(3) OVER (ORDER BY p.ppl ASC NULLS LAST, c.doc_id) AS ppl_tercile
       |  FROM c JOIN p USING (doc_id) JOIN r USING (doc_id))
       |SELECT doc_id, p_target, ppl, rep_ratio, ppl_tercile,
       |(p_target >= $pTau AND rep_ratio <= $repMax AND ppl_tercile <= 2) AS pass
       |FROM j ORDER BY doc_id""".stripMargin

  /** DuckDB replay of [[modelFilterScaledOf]]: the engine's OWN GK tercile
    * boundaries (recorded by the gate run — see [[scaledBoundaries]]) as
    * double literals in a value-semantics CASE, over the same
    * classifier/LM/repetition subqueries as [[modelFilterSql]]. GK returns
    * actual dataset elements — 4-decimal-grid doubles that print exactly —
    * so `ppl <= boundary` is bitwise-unambiguous on both engines. The
    * no-boundary fallback (oracle dumped without the query having run)
    * yields a deliberately-degenerate everything-is-tail oracle rather
    * than throwing, because `SparkEntry.oracleSql` evaluates every oracle,
    * also on a RunOne subset that never ran this query; `Verify`'s run
    * order makes the fallback unreachable on the gate path. */
  def modelFilterScaledSql(pTau: Double = 0.5, repMax: Double = 0.5): String = {
    val bs = graft.OracleDir.get.orElse(Option(lastGateDir.get))
      .flatMap(gateBoundaries.get).getOrElse(Seq.empty)
    if (bs.length < 2)
      System.err.println(
        "[curation] WARNING: modelFilterScaledSql has no gate-recorded GK boundaries — emitting degenerate everything-is-tail oracle")
    val tercile =
      if (bs.length < 2) "3"
      else s"""CASE WHEN p.ppl IS NULL THEN 3
              | WHEN p.ppl <= CAST(${bs(0)} AS DOUBLE) THEN 1
              | WHEN p.ppl <= CAST(${bs(1)} AS DOUBLE) THEN 2
              | ELSE 3 END""".stripMargin.replace("\n", "")
    s"""WITH c AS (${HashedModel.classifierScoresSql()}),
       |p AS (${HashedModel.bigramPerplexitySql()}),
       |r AS (SELECT doc_id,
       |  ROUND(1.0 - CAST(LEN(LIST_DISTINCT(${graft.PortableOracles.shingles3Expr})) AS DOUBLE)
       |        / LEN(${graft.PortableOracles.shingles3Expr}), 4) AS rep_ratio
       |  FROM documents),
       |j AS (SELECT c.doc_id, c.p_target, p.ppl, r.rep_ratio,
       |  CAST($tercile AS BIGINT) AS ppl_tercile
       |  FROM c JOIN p USING (doc_id) JOIN r USING (doc_id))
       |SELECT doc_id, p_target, ppl, rep_ratio, ppl_tercile,
       |(p_target >= $pTau AND rep_ratio <= $repMax AND ppl_tercile <= 2) AS pass
       |FROM j ORDER BY doc_id""".stripMargin
  }
}
