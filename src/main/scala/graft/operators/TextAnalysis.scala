package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Text-analysis queries over the `documents` table (charter north-star):
  * token counting, language ID, quality scoring, fingerprinting. Each query
  * has a line-for-line DuckDB SQL mirror; arithmetic is engine-portable
  * (integer counts, exact divisions, round(_,4) on floats) — see
  * [[graft.functions.TextFunctions]].
  */
object TextAnalysis {

  // --- token / length stats -------------------------------------------------
  // narrow queries sort the base scan, not the result — see
  // Tables.documentsById for the measured 2x rationale
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsById(spark, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("char_len"),
      wsTokenCount(col("text")).as("ws_tokens"),
      reTokenCount(col("text")).as("re_tokens"))

  val textStatsSql: String =
    """SELECT doc_id,
      |LENGTH(text) AS char_len,
      |LEN(STR_SPLIT(text, ' ')) AS ws_tokens,
      |LEN(REGEXP_EXTRACT_ALL(text, '[a-z0-9]+')) AS re_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // --- language ID -----------------------------------------------------------
  def langId(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsById(spark, dir).select(
      col("doc_id"),
      langIdHeuristic(col("text")).as("lang_pred"))

  // occurrences(x, m) ≡ CAST((LENGTH(x) - LENGTH(REPLACE(x, m, ''))) / LENGTH(m) AS BIGINT)
  private def occSql(x: String, m: String): String =
    s"CAST((LENGTH($x) - LENGTH(REPLACE($x, '$m', ''))) / ${m.length} AS BIGINT)"

  /** The language-ID CASE expression alone (reused by the curation oracle). */
  val langExprSql: String = {
    val p = "(' ' || text || ' ')"
    val en = s"(${occSql(p, " the ")} + ${occSql(p, " and ")} + ${occSql(p, " of ")})"
    val de = s"(${occSql(p, " der ")} + ${occSql(p, " und ")} + ${occSql(p, " die ")})"
    val fr = s"(${occSql(p, " le ")} + ${occSql(p, " la ")} + ${occSql(p, " et ")})"
    val es = s"(${occSql(p, " el ")} + ${occSql(p, " los ")} + ${occSql(p, " y ")})"
    val zh = occSql("text", "的")
    s"""CASE WHEN $zh > 0 THEN 'zh'
       |WHEN $en >= $de AND $en >= $fr AND $en >= $es AND $en > 0 THEN 'en'
       |WHEN $de >= $fr AND $de >= $es AND $de > 0 THEN 'de'
       |WHEN $fr >= $es AND $fr > 0 THEN 'fr'
       |WHEN $es > 0 THEN 'es'
       |ELSE 'und' END""".stripMargin
  }

  val langIdSql: String =
    s"""SELECT doc_id,
       |$langExprSql AS lang_pred
       |FROM documents ORDER BY doc_id""".stripMargin

  // --- quality score ----------------------------------------------------------
  def quality(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsById(spark, dir).select(
      col("doc_id"),
      qualityScore(col("text")).as("quality"))

  /** The quality-score expression alone (reused by the curation oracle). */
  val qualityExprSql: String = {
    val p = "(' ' || text || ' ')"
    val words = "LEN(STR_SPLIT(text, ' '))"
    val stop = s"(${occSql(p, " the ")} + ${occSql(p, " a ")} + ${occSql(p, " of ")} + ${occSql(p, " and ")} + ${occSql(p, " to ")})"
    val punct = s"(${occSql("text", ".")} + ${occSql("text", ",")} + ${occSql("text", "!")})"
    s"""ROUND(LEAST(1.0, CAST($words AS DOUBLE) / 200.0) * 0.5
       | + CAST($stop AS DOUBLE) / CAST(GREATEST($words, 1) AS DOUBLE) * 0.3
       | + (1.0 - CAST($punct AS DOUBLE) / CAST(GREATEST(LENGTH(text), 1) AS DOUBLE)) * 0.2, 4)""".stripMargin
  }

  val qualitySql: String =
    s"""SELECT doc_id,
       |$qualityExprSql AS quality
       |FROM documents ORDER BY doc_id""".stripMargin

  // --- word-set Jaccard of consecutive doc pairs ------------------------------
  // The oracle-checked verify stage of near-dup detection: score a given
  // candidate pair list (here: (i, i+1)) with exact set Jaccard.
  def pairJaccard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir) // r20: fanOut A/B'd flat-to-worse (0.45->0.49 s) — word-set arrays are cheap; 3gram twin keeps it
    val a = docs.select(col("doc_id").as("id_a"), array_distinct(split(col("text"), " ", -1)).as("w_a"))
    val b = docs.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"),
      array_distinct(split(col("text"), " ", -1)).as("w_b"))
    a.join(b, "id_a")
      .select(col("id_a"), col("id_b"), round(Dedup.jaccard(col("w_a"), col("w_b")), 4).as("jaccard"))
      .orderBy("id_a")
  }

  val pairJaccardSql: String =
    """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |ROUND(
      |  CAST(LEN(LIST_INTERSECT(LIST_DISTINCT(STR_SPLIT(a.text, ' ')), LIST_DISTINCT(STR_SPLIT(b.text, ' ')))) AS DOUBLE)
      |  / CAST(LEN(LIST_DISTINCT(LIST_CONCAT(STR_SPLIT(a.text, ' '), STR_SPLIT(b.text, ' ')))) AS DOUBLE)
      |, 4) AS jaccard
      |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      |ORDER BY id_a""".stripMargin

  /** N-gram (3-word shingle) Jaccard over the same consecutive-pair
    * candidate list — the charter's "n-gram Jaccard" dedup scorer. Much
    * sharper than word-set Jaccard on this shared-vocabulary corpus (word
    * sets overlap heavily; 3-gram sequences rarely do). */
  def pairJaccard3gram(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir)) // r20 opt: shingle pass off the 1-task scan
    def sh(c: org.apache.spark.sql.Column) =
      array_distinct(Dedup.wordShingles(c, 3))
    val a = docs.select(col("doc_id").as("id_a"), sh(col("text")).as("w_a"))
    val b = docs.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"),
      sh(col("text")).as("w_b"))
    a.join(b, "id_a")
      .select(col("id_a"), col("id_b"), round(Dedup.jaccard(col("w_a"), col("w_b")), 4).as("jaccard"))
      .orderBy("id_a")
  }

  val pairJaccard3gramSql: String = {
    def sh(t: String) =
      (s"CASE WHEN LEN(STR_SPLIT($t, ' ')) >= 3 THEN list_transform(" +
        s"range(0, LEN(STR_SPLIT($t, ' ')) - 2), i -> STR_SPLIT($t, ' ')[i+1]" +
        s" || ' ' || STR_SPLIT($t, ' ')[i+2] || ' ' || STR_SPLIT($t, ' ')[i+3])" +
        s" ELSE [$t] END")
    s"""SELECT id_a, id_b, ROUND(
       |  CAST(LEN(LIST_INTERSECT(sa, sb)) AS DOUBLE)
       |  / CAST(LEN(LIST_DISTINCT(sa || sb)) AS DOUBLE), 4) AS jaccard
       |FROM (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    LIST_DISTINCT(${sh("a.text")}) AS sa, LIST_DISTINCT(${sh("b.text")}) AS sb
       |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1) t
       |ORDER BY id_a""".stripMargin
  }

  // --- corpus stats by metadata columns ---------------------------------------
  def docsBySource(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(length(col("text"))), 2).as("avg_chars"))
      .orderBy("lang", "source")

  val docsBySourceSql: String =
    """SELECT lang, source, COUNT(*) AS n_docs,
      |ROUND(AVG(LENGTH(text)), 2) AS avg_chars
      |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // --- token frequency (explode → agg → top-k) --------------------------------
  def tokenFreq(spark: SparkSession, dir: String, k: Int = 50): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ", -1)).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(k)

  val tokenFreqSql: String =
    """SELECT token, COUNT(*) AS freq FROM (
      |SELECT UNNEST(STR_SPLIT(text, ' ')) AS token FROM documents) t
      |GROUP BY token ORDER BY freq DESC, token LIMIT 50""".stripMargin

  // --- repetition ratio (C4/Gopher-style duplicate-n-gram signal) ----------

  /** Fraction of repeated word 3-grams per document: 1 − distinct/total
    * (the published duplicate-n-gram filters — Raffel et al. C4, Rae et al.
    * Gopher — flag high-repetition docs as boilerplate/spam). Pure narrow
    * expression over the shared shingle primitive; integer counts + one
    * division keep it engine-portable.
    */
  def repetitionRatio(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsById(spark, dir).select(
      col("doc_id"),
      graft.functions.ExprUtils.bindOnce(Dedup.wordShingles(col("text"), 3)) { g =>
        round(lit(1.0) - size(array_distinct(g)).cast("double") / size(g), 4)
      }.as("rep_ratio"))

  val repetitionRatioSql: String =
    s"""SELECT doc_id,
       |ROUND(1.0 - CAST(LEN(LIST_DISTINCT($shingles3SqlExpr)) AS DOUBLE)
       |      / LEN($shingles3SqlExpr), 4) AS rep_ratio
       |FROM documents ORDER BY doc_id""".stripMargin

  private def shingles3SqlExpr: String = graft.PortableOracles.shingles3Expr

  // --- Gopher quality rules (Rae et al. 2021, §A1.1 — public heuristics) ---

  /** The Gopher paper's document-quality gates, per doc as rule booleans +
    * the conjunction: word-count bounds, mean word length bounds,
    * alphabetic-word fraction, and stop-word presence. All integer counts
    * and exact divisions (portable); thresholds are the published ones
    * (word counts scaled to this corpus's short synthetic docs).
    */
  def gopherRules(spark: SparkSession, dir: String,
                  minWords: Int = 5, maxWords: Int = 100000): DataFrame = {
    val words = split(col("text"), " ", -1)
    val out = Tables.documentsById(spark, dir).select(
      col("doc_id"),
      graft.functions.ExprUtils.bindOnce(words) { w =>
        val n = size(w).cast("double")
        val meanLen = aggregate(transform(w, x => length(x).cast("long")),
          lit(0L), (a, x) => a + x).cast("double") / n
        val alphaFrac = size(filter(w, x => x.rlike("[a-z]"))).cast("double") / n
        struct(
          n.cast("long").as("n_words"),
          round(meanLen, 4).as("mean_word_len"),
          round(alphaFrac, 4).as("alpha_word_frac"),
          (n >= minWords && n <= maxWords).as("ok_word_count"),
          (meanLen >= 3.0 && meanLen <= 10.0).as("ok_mean_len"),
          (alphaFrac >= 0.8).as("ok_alpha"))
      }.as("r"),
      (occurrences(concat(lit(" "), col("text"), lit(" ")), " the ") +
        occurrences(concat(lit(" "), col("text"), lit(" ")), " and ") +
        occurrences(concat(lit(" "), col("text"), lit(" ")), " of ") >= 2)
        .as("ok_stopwords"))
    out.select(col("doc_id"), col("r.n_words"), col("r.mean_word_len"),
        col("r.alpha_word_frac"), col("r.ok_word_count"), col("r.ok_mean_len"),
        col("r.ok_alpha"), col("ok_stopwords"),
        (col("r.ok_word_count") && col("r.ok_mean_len") && col("r.ok_alpha") &&
          col("ok_stopwords")).as("gopher_pass"))
  }

  val gopherRulesSql: String = {
    val words = "STR_SPLIT(text, ' ')"
    val occ = (m: String) =>
      s"CAST((LENGTH(' ' || text || ' ') - LENGTH(REPLACE(' ' || text || ' ', '$m', ''))) / LENGTH('$m') AS BIGINT)"
    s"""WITH b AS (SELECT doc_id,
       |  CAST(LEN($words) AS DOUBLE) AS n,
       |  CAST(list_sum(list_transform($words, x -> LENGTH(x))) AS DOUBLE) AS cl,
       |  CAST(LEN(list_filter($words, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) AS na,
       |  ${occ(" the ")} + ${occ(" and ")} + ${occ(" of ")} AS stws
       |  FROM documents)
       |SELECT doc_id,
       |CAST(n AS BIGINT) AS n_words,
       |ROUND(cl / n, 4) AS mean_word_len,
       |ROUND(na / n, 4) AS alpha_word_frac,
       |(n >= 5 AND n <= 100000) AS ok_word_count,
       |(cl / n >= 3.0 AND cl / n <= 10.0) AS ok_mean_len,
       |(na / n >= 0.8) AS ok_alpha,
       |(stws >= 2) AS ok_stopwords,
       |((n >= 5 AND n <= 100000) AND (cl / n >= 3.0 AND cl / n <= 10.0)
       |  AND (na / n >= 0.8) AND (stws >= 2)) AS gopher_pass
       |FROM b ORDER BY doc_id""".stripMargin
  }

  // --- corpus-trained familiarity score ------------------------------------

  /** Mean corpus frequency of a document's tokens — the two-pass
    * "train stats, then score" composition every corpus-relative quality
    * signal needs (rare-token-heavy docs — gibberish, OCR noise — score
    * low). Pass 1 aggregates the token distribution; pass 2 bakes it into
    * a LITERAL map and scores each doc in one narrow projection — the
    * same ship-the-small-model shape as the IVF quantizer: no join, no
    * shuffle above the scan in the scoring pass.
    *
    * Vocabulary contract: this exact path collects O(vocab) driver rows —
    * use it when the vocabulary is known-bounded (closed tag sets, language
    * codes). The DEFAULT scale path is [[tokenFamiliarityCappedOf]], which
    * caps driver state at k rows via the Misra-Gries candidate sketch
    * ([[cappedVocabStats]]) plus a smoothed-zero floor for out-of-table
    * tokens — same bounded-driver-state contract as
    * `Similarity.trainedCentroids`. Portable arithmetic: counts and IEEE
    * divisions only, summed in token order on both engines (no libm).
    */

  /** [[org.apache.spark.sql.graft.TokenRatioLookup]] wrapper: O(1)
    * hash-table token→ratio lookup (bit-identical values to the literal-map
    * form it replaced, which paid a GetMapValue linear key scan per token —
    * the binding-cap production constant; STRESS.md "Token-table lookup"). */
  private def ratioLookup(tokens: Array[String], ratios: Array[Double],
                          default: Double)(t: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.graft.TokenRatioLookup(
        org.apache.spark.sql.graft.ColumnBridge.expression(t), tokens, ratios, default))

  /** REFERENCE implementation (round 19: demoted from the public surface —
    * VERDICT r18 item 6): collects O(vocabulary) driver rows, which is a
    * driver OOM at web-scale vocab. Production callers and every gate row
    * use [[tokenFamiliarityCapped]] (bit-identical whenever k ≥ |vocab|,
    * spec-pinned); this form exists so the spec can pin that equivalence
    * and ScaleBench can measure the gap. */
  private[graft] def tokenFamiliarity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsById(spark, dir)
    val freq = docs.select(explode(split(col("text"), " ", -1)).as("t"))
      .groupBy("t").agg(count(lit(1)).as("n"))
      .collect() // O(vocab) — reference-only, see the scaladoc
    val total = freq.map(_.getLong(1)).sum.toDouble
    val sortedFreq = freq.sortBy(_.getString(0))
    val fmTokens = sortedFreq.map(_.getString(0))
    val fmRatios = sortedFreq.map(_.getLong(1) / total)
    // scoring the training frame itself: every token is in the table, so
    // the default can never fire — NaN keeps a violation loud, where the
    // map form's null would have nulled the doc silently
    docs.select(col("doc_id"),
      graft.functions.ExprUtils.bindOnce(
        transform(split(col("text"), " ", -1),
          t => ratioLookup(fmTokens, fmRatios, Double.NaN)(t))) { fr =>
        round(aggregate(fr, lit(0.0), (a, x) => a + x) / size(fr), 4)
      }.as("familiarity"))
  }

  // --- capped-vocabulary statistics (bounded driver state) -------------------

  /** Bounded vocabulary table: at most k (token, rawCount, targetCount)
    * rows plus one totals row, regardless of corpus vocabulary size.
    * `provablyExact` records whether the retained rows are PROVABLY the
    * exact global top-k by raw count (see [[cappedVocabStats]]). */
  case class CappedVocab(tokens: Array[String], nr: Array[Long], nt: Array[Long],
                         totalRaw: Long, totalTarget: Long, distinct: Long,
                         provablyExact: Boolean) {
    def tr: Double = totalRaw.toDouble
    def tt: Double = totalTarget.toDouble
    def v: Double = distinct.toDouble
  }

  /** Bounded-driver-state vocabulary statistics — the capped path promised
    * by the [[tokenFamiliarity]]/[[dsirWeights]] vocabulary contract.
    *
    * Three bounded passes:
    *  1. Misra–Gries candidate sketch ([[FreqSketch.MisraGries]], size
    *     sketchK): map-side-combining, ships ≤ sketchK entries per
    *     partition — the token stream itself never shuffles by token.
    *  2. Exact (raw, target) counts restricted to the ≤ sketchK broadcast
    *     candidates; deterministic top-k by (count desc, token asc) via
    *     TakeOrderedAndProject — ≤ k driver rows.
    *  3. One single-row totals aggregate (total tokens, target tokens,
    *     exact distinct count) — the smoothing denominators.
    *
    * Exactness proof (what lets a SQL oracle replay the cap as a plain
    * ORDER BY/LIMIT): Misra–Gries guarantees every token with true count
    * > total/(sketchK+1) is in the sketch. So if the k-th retained EXACT
    * count exceeds that bound — or the table holds the whole vocabulary —
    * no non-candidate token can outrank the retained set, and the capped
    * table IS the exact global top-k. On heavy-tailed token distributions
    * (any natural-language corpus) this holds for sketchK a small multiple
    * of k; `strict` callers require it so a silent approximation can never
    * pair with an exact oracle.
    *
    * Driver state: ≤ k + sketchK rows. At 100 TB the uncapped collect is
    * O(vocabulary) (billions for raw n-grams); this is O(k), period. */
  def cappedVocabStats(docs: DataFrame, targetPred: Column,
                       k: Int, sketchK: Int): CappedVocab = {
    import org.apache.spark.sql.Encoders
    require(k > 0 && sketchK >= k, s"need sketchK >= k > 0, got k=$k sketchK=$sketchK")
    // targetPred as a Column (not a lang string): target-free callers
    // (tokenFamiliarity) pass lit(false) and need no `lang` column at all
    val toks = docs.select(explode(split(col("text"), " ", -1)).as("t"),
      targetPred.as("tgt"))
    val mg = udaf(new FreqSketch.MisraGries(sketchK), Encoders.STRING)
    // ONE pass for sketch + smoothing denominators (the totals are
    // corpus-wide and candidate-independent — a separate totals scan was
    // pure waste); pass 2 exact-counts only the ≤ sketchK candidates
    val row = toks.agg(mg(col("t")).as("sk"),
      count(lit(1)).as("tr"),
      sum(when(col("tgt"), 1L).otherwise(0L)).as("tt"),
      count_distinct(col("t")).as("v")).head()
    val candTokens = row.getStruct(0).getSeq[String](
      row.getStruct(0).fieldIndex("tokens"))
    val cand = docs.sparkSession.createDataset(candTokens)(Encoders.STRING).toDF("t")
    val top = toks.join(broadcast(cand), "t")
      .groupBy("t").agg(count(lit(1)).as("nr"),
        sum(when(col("tgt"), 1L).otherwise(0L)).as("nt"))
      .orderBy(col("nr").desc, col("t")).limit(k)
      .collect() // ≤ k rows — the bounded-driver-state contract
    val totalRaw = row.getLong(1)
    val kthBound = totalRaw.toDouble / (sketchK + 1).toDouble
    val provable = top.length.toLong == row.getLong(3) ||
      (top.nonEmpty && top.last.getLong(1).toDouble > kthBound)
    CappedVocab(top.map(_.getString(0)), top.map(_.getLong(1)), top.map(_.getLong(2)),
      totalRaw, row.getLong(2), row.getLong(3), provable)
  }

  /** [[tokenFamiliarity]] with the capped-vocabulary path: frequencies of
    * the top-k tokens exactly as the uncapped map would hold them
    * (n/total), out-of-table tokens at the add-α smoothed-zero floor
    * α/(total + α·v). With k ≥ vocabulary the floor never fires and the
    * result is bit-identical to [[tokenFamiliarity]] (spec-pinned);
    * with a binding cap the oracle replays the same top-k + floor. */
  def tokenFamiliarityCapped(spark: SparkSession, dir: String,
                             k: Int = 10000, alpha: Double = 0.5,
                             sketchKOpt: Int = -1): DataFrame =
    tokenFamiliarityCappedOf(Tables.documentsById(spark, dir), k, alpha, sketchKOpt)

  def tokenFamiliarityCappedOf(docs: DataFrame, k: Int = 10000,
                               alpha: Double = 0.5, sketchKOpt: Int = -1,
                               strict: Boolean = true): DataFrame = {
    val sketchK = if (sketchKOpt > 0) sketchKOpt else 8 * k
    val cv = cappedVocabStats(docs, lit(false), k, sketchK) // target-free: no lang column needed
    if (strict) require(cv.provablyExact,
      s"capped vocab (k=$k, sketchK=$sketchK) not provably the exact top-$k — " +
        "raise sketchK or use strict=false for the approximate model")
    val total = cv.tr
    val floorP = (0 + alpha) / (total + alpha * cv.v)
    val idx = cv.tokens.indices.sortBy(cv.tokens)
    val fmTokens = idx.map(cv.tokens).toArray
    val fmRatios = idx.map(i => cv.nr(i) / total).toArray
    docs.select(col("doc_id"),
      graft.functions.ExprUtils.bindOnce(
        transform(split(col("text"), " ", -1),
          t => ratioLookup(fmTokens, fmRatios, floorP)(t))) { fr =>
        round(aggregate(fr, lit(0.0), (a, x) => a + x) / size(fr), 4)
      }.as("familiarity"))
  }

  /** DuckDB replay of [[tokenFamiliarityCappedOf]]: same top-k selection
    * (ORDER BY count DESC, token LIMIT k — valid because the Spark side
    * REQUIRES provable exactness), same floor arithmetic. */
  def tokenFamiliarityCappedSql(k: Int = 10000, alpha: Double = 0.5): String =
    s"""WITH tok AS (SELECT UNNEST(STR_SPLIT(text, ' ')) AS t FROM documents),
       |freq AS (SELECT t, CAST(COUNT(*) AS DOUBLE) AS n FROM tok GROUP BY t),
       |c AS (SELECT SUM(n) AS tt, CAST(COUNT(*) AS DOUBLE) AS v FROM freq),
       |top AS (SELECT t, n FROM freq ORDER BY n DESC, t LIMIT $k),
       |m AS (SELECT MAP(list(t ORDER BY t), list(n ORDER BY t)) AS fm FROM top),
       |f AS (SELECT (0 + $alpha) / (tt + $alpha * v) AS pf FROM c)
       |SELECT doc_id,
       |ROUND(list_sum(list_transform(STR_SPLIT(text, ' '), x -> COALESCE(fm[x][1] / tt, pf)))
       |      / LEN(STR_SPLIT(text, ' ')), 4) AS familiarity
       |FROM documents, m, c, f ORDER BY doc_id""".stripMargin

  /** Same stats, same token-order summation, via DuckDB's MAP type. */
  val tokenFamiliaritySql: String =
    """WITH tok AS (SELECT UNNEST(STR_SPLIT(text, ' ')) AS t FROM documents),
      |freq AS (SELECT t, CAST(COUNT(*) AS DOUBLE) AS n FROM tok GROUP BY t),
      |tot AS (SELECT SUM(n) AS tt FROM freq),
      |m AS (SELECT MAP(list(t ORDER BY t), list(n ORDER BY t)) AS fm FROM freq)
      |SELECT doc_id,
      |ROUND(list_sum(list_transform(STR_SPLIT(text, ' '), x -> fm[x][1] / tt))
      |      / LEN(STR_SPLIT(text, ' ')), 4) AS familiarity
      |FROM documents, m, tot ORDER BY doc_id""".stripMargin

  // --- DSIR importance weighting -------------------------------------------

  /** Importance weight of each document against a TARGET distribution
    * (Xie et al. 2023, "Data Selection for Language Models via Importance
    * Resampling"): log w(x) = Σ_tokens [ln p_target(t) − ln p_raw(t)]
    * under add-α-smoothed unigram models — here target = the `targetLang`
    * slice of the corpus, raw = the whole corpus (DSIR's hashed-ngram
    * models reduce to this at unigram granularity; the selection step is
    * the existing [[Sampling]] weighted race over exp(logw), composed in
    * DsirSpec). Docs whose token mix resembles the target score high;
    * selection by weight is how a curator tilts a raw crawl toward a
    * target domain without a trained classifier.
    *
    * Same two-pass "train stats, then score" shape as [[tokenFamiliarity]]
    * — pass 1 aggregates per-token (raw, target) counts once; pass 2 bakes
    * the smoothed probability RATIO into a literal map and scores each doc
    * in one narrow projection (no join, no shuffle above the scan). This
    * exact path collects O(vocab) driver rows; the DEFAULT scale path is
    * [[dsirWeightsCappedOf]] (Misra-Gries-pruned exact top-k table +
    * smoothed-zero floor ratio for out-of-table tokens — O(k) driver state
    * and plan size at any vocabulary).
    *
    * Portability: each map value is three IEEE double divisions of exact
    * integer(±0.5) operands evaluated in the same order on both engines —
    * bitwise identical. The only libm call is `ln`, applied per token and
    * summed left-to-right in token order on both engines (the BM25
    * precedent), absorbed by round(_, 4).
    */
  private[graft] def dsirWeights(spark: SparkSession, dir: String,
                  targetLang: String = "en", alpha: Double = 0.5): DataFrame =
    dsirWeightsOf(Tables.documentsById(spark, dir), targetLang, alpha)

  /** [[dsirWeights]] over an arbitrary document frame (the composable
    * form — also what lets specs prove partitioning-independence).
    * REFERENCE implementation (round 19: demoted from the public surface —
    * VERDICT r18 item 6): O(vocabulary) driver rows; production callers and
    * the gate rows use [[dsirWeightsCappedOf]] (bit-identical whenever
    * k ≥ |vocab|, spec-pinned). */
  private[graft] def dsirWeightsOf(docs: DataFrame,
                    targetLang: String = "en", alpha: Double = 0.5): DataFrame = {
    val freq = docs.select(explode(split(col("text"), " ", -1)).as("t"),
        (col("lang") === targetLang).as("tgt"))
      .groupBy("t").agg(count(lit(1)).as("nr"),
        sum(when(col("tgt"), 1L).otherwise(0L)).as("nt"))
      .collect() // O(vocab)
    val tr = freq.map(_.getLong(1)).sum.toDouble
    val tt = freq.map(_.getLong(2)).sum.toDouble
    val v = freq.length.toDouble
    val sortedFreq = freq.sortBy(_.getString(0))
    val rmTokens = sortedFreq.map(_.getString(0))
    val rmRatios = sortedFreq.map { r =>
      ((r.getLong(2) + alpha) / (tt + alpha * v)) /
        ((r.getLong(1) + alpha) / (tr + alpha * v))
    }
    // Out-of-table tokens score at the smoothed-zero ratio (nt = nr = 0
    // under the same add-α models) instead of silently nulling the doc's
    // logw — on the shared training frame the floor never fires, but it
    // makes scoring a DIFFERENT frame well-defined.
    val floorRatio = ((0 + alpha) / (tt + alpha * v)) /
                     ((0 + alpha) / (tr + alpha * v))
    docs.select(col("doc_id"),
      graft.functions.ExprUtils.bindOnce(split(col("text"), " ", -1)) { ts =>
        struct(
          size(ts).cast("long").as("n_tokens"),
          graft.functions.ExprUtils.roundz(aggregate(
            transform(ts, t => log(ratioLookup(rmTokens, rmRatios, floorRatio)(t))),
            lit(0.0), (a, x) => a + x), 4).as("logw"))
      }.as("s"))
      .select(col("doc_id"), col("s.n_tokens").as("n_tokens"),
        col("s.logw").as("logw"))
  }

  /** [[dsirWeightsOf]] with the capped-vocabulary path
    * ([[cappedVocabStats]]): the ratio map holds at most k entries,
    * out-of-table tokens score at the smoothed-zero floor ratio
    * ((0+α)/(tt+αv)) / ((0+α)/(tr+αv)) — the importance ratio of a token
    * neither model has seen, under the SAME add-α smoothing (so the capped
    * model is the exact model restricted to the top-k support). With
    * k ≥ vocabulary this is bit-identical to [[dsirWeightsOf]]
    * (spec-pinned); with a binding cap the oracle replays the same
    * top-k + floor. Driver state and literal-plan size: O(k), not
    * O(vocabulary). */
  def dsirWeightsCapped(spark: SparkSession, dir: String,
                        targetLang: String = "en", alpha: Double = 0.5,
                        k: Int = 10000, sketchKOpt: Int = -1): DataFrame =
    dsirWeightsCappedOf(Tables.documentsById(spark, dir), targetLang, alpha, k, sketchKOpt)

  def dsirWeightsCappedOf(docs: DataFrame,
                          targetLang: String = "en", alpha: Double = 0.5,
                          k: Int = 10000, sketchKOpt: Int = -1,
                          strict: Boolean = true): DataFrame = {
    val sketchK = if (sketchKOpt > 0) sketchKOpt else 8 * k
    val cv = cappedVocabStats(docs, col("lang") === targetLang, k, sketchK)
    if (strict) require(cv.provablyExact,
      s"capped vocab (k=$k, sketchK=$sketchK) not provably the exact top-$k — " +
        "raise sketchK or use strict=false for the approximate model")
    val (tr, tt, v) = (cv.tr, cv.tt, cv.v)
    val idx = cv.tokens.indices.sortBy(cv.tokens)
    val rmTokens = idx.map(cv.tokens).toArray
    val rmRatios = idx.map { i =>
      ((cv.nt(i) + alpha) / (tt + alpha * v)) /
        ((cv.nr(i) + alpha) / (tr + alpha * v))
    }.toArray
    val floorRatio = ((0 + alpha) / (tt + alpha * v)) /
                     ((0 + alpha) / (tr + alpha * v))
    docs.select(col("doc_id"),
      graft.functions.ExprUtils.bindOnce(split(col("text"), " ", -1)) { ts =>
        struct(
          size(ts).cast("long").as("n_tokens"),
          graft.functions.ExprUtils.roundz(aggregate(
            transform(ts, t => log(ratioLookup(rmTokens, rmRatios, floorRatio)(t))),
            lit(0.0), (a, x) => a + x), 4).as("logw"))
      }.as("s"))
      .select(col("doc_id"), col("s.n_tokens").as("n_tokens"),
        col("s.logw").as("logw"))
  }

  /** DuckDB replay of [[dsirWeightsCappedOf]]: same top-k selection (valid
    * because the Spark side requires provable exactness), same smoothing
    * and floor arithmetic, same token-order summation. */
  def dsirWeightsCappedSql(targetLang: String = "en", alpha: Double = 0.5,
                           k: Int = 10000): String =
    s"""WITH tok AS (SELECT UNNEST(STR_SPLIT(text, ' ')) AS t, lang = '$targetLang' AS tgt FROM documents),
       |freq AS (SELECT t, CAST(COUNT(*) AS DOUBLE) AS nr,
       |         CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS DOUBLE) AS nt
       |         FROM tok GROUP BY t),
       |c AS (SELECT SUM(nr) AS tr, SUM(nt) AS tt, CAST(COUNT(*) AS DOUBLE) AS v FROM freq),
       |top AS (SELECT t, nr, nt FROM freq ORDER BY nr DESC, t LIMIT $k),
       |m AS (SELECT MAP(list(t ORDER BY t),
       |        list(((nt + $alpha) / (tt + $alpha * v)) / ((nr + $alpha) / (tr + $alpha * v)) ORDER BY t)) AS rm
       |      FROM top, c),
       |f AS (SELECT ((0 + $alpha) / (tt + $alpha * v)) / ((0 + $alpha) / (tr + $alpha * v)) AS fr FROM c)
       |SELECT doc_id, LEN(STR_SPLIT(text, ' ')) AS n_tokens,
       |(ROUND(list_sum(list_transform(STR_SPLIT(text, ' '), x -> LN(COALESCE(rm[x][1], fr)))), 4) + 0.0) AS logw
       |FROM documents, m, f ORDER BY doc_id""".stripMargin

  /** DuckDB mirror — identical smoothing arithmetic, identical token-order
    * summation, MAP-typed ratio table like [[tokenFamiliaritySql]].
    * Parameterized exactly like the Scala side so a non-default call can't
    * silently pair with an 'en'/0.5 oracle. */
  def dsirWeightsSql(targetLang: String = "en", alpha: Double = 0.5): String =
    s"""WITH tok AS (SELECT UNNEST(STR_SPLIT(text, ' ')) AS t, lang = '$targetLang' AS tgt FROM documents),
       |freq AS (SELECT t, CAST(COUNT(*) AS DOUBLE) AS nr,
       |         CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS DOUBLE) AS nt
       |         FROM tok GROUP BY t),
       |c AS (SELECT SUM(nr) AS tr, SUM(nt) AS tt, CAST(COUNT(*) AS DOUBLE) AS v FROM freq),
       |m AS (SELECT MAP(list(t ORDER BY t),
       |        list(((nt + $alpha) / (tt + $alpha * v)) / ((nr + $alpha) / (tr + $alpha * v)) ORDER BY t)) AS rm
       |      FROM freq, c)
       |SELECT doc_id, LEN(STR_SPLIT(text, ' ')) AS n_tokens,
       |(ROUND(list_sum(list_transform(STR_SPLIT(text, ' '), x -> LN(rm[x][1]))), 4) + 0.0) AS logw
       |FROM documents, m ORDER BY doc_id""".stripMargin

  // --- BM25 keyword retrieval --------------------------------------------------

  /** Gate-query terms: one rare token (`dup`, df ≈ 2% of docs — it carries
    * the discriminating idf on this corpus) plus two mid-frequency ones. */
  val Bm25Terms: Seq[String] = Seq("dup", "vector", "query")
  // FINAL vals (compile-time constants, inlined at use sites): PortableOracles
  // interpolates these into oracle SQL during ITS object init, and TextAnalysis
  // references PortableOracles during its own init (shingles3SqlExpr) — a
  // non-constant val read through that cycle silently yields 0.0 (the JVM
  // returns the partially-initialized object). Constant-folding is the
  // structural fix, not an optimization.
  final val Bm25K1 = 1.2
  final val Bm25B = 0.75

  /** BM25 (Robertson–Spärck Jones idf, Lucene's +1 smoothing) top-k keyword
    * retrieval over `documents` — the lexical half of a curation/retrieval
    * stack (the dense half is the IVF family in [[Similarity]]).
    *
    * Scale shape: for a FIXED query-term list the whole score is two narrow
    * passes and one k-row sort — per-doc `tf_i`/`dl` come from higher-order
    * functions over one bound token split (no explode, no token shuffle);
    * corpus stats (N, avgdl, df_i) are ONE map-side-combinable aggregate
    * row, broadcast back via scalar cross join; ranking is
    * TakeOrderedAndProject. Nothing shuffles but the ≤k result rows — the
    * same plan at 100 TB, with the stats pass amortizable across queries
    * (they are query-independent except df of the terms).
    *
    * Portable arithmetic: tf/df/N/dl are exact integers in doubles; avgdl
    * is an exact-integer sum over an exact count; the only libm call is
    * `ln`, identical left-to-right association on both engines, absorbed
    * by round(_,4).
    */
  def bm25Topk(spark: SparkSession, dir: String,
               terms: Seq[String] = Bm25Terms, k: Int = 20): DataFrame =
    bm25TopkOf(Tables.documents(spark, dir), terms, k)

  /** [[bm25Topk]] over any (doc_id, text) frame — the ScaleBench/compose
    * entry point. */
  def bm25TopkOf(docs: DataFrame,
                 terms: Seq[String] = Bm25Terms, k: Int = 20): DataFrame = {
    val perDoc = docs.select(
      col("doc_id") +: Seq(
        graft.functions.ExprUtils.bindOnce(split(col("text"), " ", -1)) { toks =>
          struct(
            size(toks).cast("double").as("dl") +:
            terms.zipWithIndex.map { case (t, i) =>
              size(filter(toks, x => x === lit(t))).cast("double").as(s"tf$i")
            }: _*)
        }.as("s")): _*)
      .select(col("doc_id") +: col("s.dl").as("dl") +:
        terms.indices.map(i => col(s"s.tf$i").as(s"tf$i")): _*)
    val stats = perDoc.agg(
      count(lit(1)).cast("double").as("n"),
      avg("dl").as("avgdl") +:
      terms.indices.map(i =>
        sum((col(s"tf$i") > 0).cast("double")).as(s"df$i")): _*)
    val score = bm25ScoreExpr(terms.indices, i => col(s"tf$i"), col("dl"),
      col("n"), col("avgdl"), i => col(s"df$i"))
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** The one BM25 score expression both the batch form ([[bm25Topk]]: stats
    * as aggregate columns) and the served form ([[bm25TopkServed]]: stats as
    * literals from the maintained lexical index) build — ONE tree shape, so
    * the two forms are bitwise-identical whenever the stats agree. */
  private[operators] def bm25ScoreExpr(termIdx: Seq[Int], tf: Int => Column, dl: Column,
                            n: Column, avgdl: Column, df: Int => Column): Column =
    termIdx.map { i =>
      val idf = log((n - df(i) + 0.5) / (df(i) + 0.5) + 1.0)
      idf * (tf(i) * lit(Bm25K1 + 1.0)) /
        (tf(i) + lit(Bm25K1) * (lit(1.0) - lit(Bm25B) + lit(Bm25B) * dl / avgdl))
    }.reduce(_ + _)

  /** Sentinel term key of the per-batch corpus row in the maintained
    * lexical-index stats (U+0001-prefixed sentinel cannot collide destructively: term rows
    * carry zero dl/nd and the corpus row zero df, so even a pathological
    * token equal to the sentinel sums without corrupting either read). */
  val LexCorpusRow = "\u0001corpus"

  /** One document batch's lexical-index stat rows — the additive partial a
    * maintained inverted-index needs for BM25 serving: per-term document
    * frequencies (df) plus ONE corpus row (total token count `dl`, doc
    * count `nd`). Disjoint doc batches sum exactly (a new doc can only ADD
    * to df/dl/nd), so the fold is plain long addition — the
    * [[graft.streaming.LexStatsStream]] state. Exchange is vocabulary-
    * sized (the standard inverted-index build), never corpus-sized. */
  def lexStatsOf(docs: DataFrame): DataFrame = {
    val termDf = docs.select(
        explode(array_distinct(split(col("text"), " ", -1))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .select(col("term"), col("df"), lit(0L).as("dl"), lit(0L).as("nd"))
    val corpus = docs.agg(
        sum(size(split(col("text"), " ", -1)).cast("long")).as("dl"),
        count(lit(1)).as("nd"))
      .select(lit(LexCorpusRow).as("term"), lit(0L).as("df"),
        col("dl"), col("nd"))
    termDf.unionByName(corpus)
  }

  /** Number of posting-list partitions (`pbucket` dirs) — the term-space
    * analogue of the IVF index's `cluster=` layout: a lexical query reads
    * only its own terms' buckets, so serving cost is O(postings of the
    * query terms), never O(corpus). 64 bounds file counts at any scale
    * (the write repartitions to one file per bucket per batch). */
  val LexBuckets = 64

  /** The term → posting-bucket map, computed identically driver-side (for
    * read pruning) and executor-side (Spark's `crc32` is the same
    * java.util.zip.CRC32 polynomial) — no hash divergence between the
    * write layout and the read filter. `nBuckets` defaults to the global
    * [[LexBuckets]]; a re-bucketed log carries its own count
    * ([[graft.streaming.LexStatsStream.postingBuckets]]). */
  def termBucket(term: String, nBuckets: Int = LexBuckets): Int = {
    val c = new java.util.zip.CRC32()
    c.update(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (c.getValue % nBuckets).toInt
  }

  /** One document batch's POSTING rows — the other half of the maintained
    * lexical index ([[lexStatsOf]] carries the stats): (term, doc_id, tf,
    * dl) per distinct term per document, bucketed by [[termBucket]] for
    * partition-pruned term reads. tf/dl come from the SAME bound token
    * split the query-side tf pass uses (`size(filter(toks, _ === t))`), so
    * a score computed from postings is bitwise-identical to one computed
    * by scanning the text. Disjoint doc batches produce disjoint rows —
    * the fold is a plain union, replay-guarded by the StateLog discipline.
    * Per-doc work is one narrow HOF projection (no explode exchange); the
    * only shuffle is the bounded repartition-by-bucket before the
    * partitioned write. */
  def lexPostingsOf(docs: DataFrame, nBuckets: Int = LexBuckets): DataFrame =
    docs.select(
        col("doc_id"),
        graft.functions.ExprUtils.bindOnce(split(col("text"), " ", -1)) { toks =>
          struct(
            size(toks).cast("long").as("dl"),
            transform(array_distinct(toks), t =>
              struct(t.as("term"),
                // 0-based occurrence POSITIONS (round 18): the positional
                // half of the inverted index — phrase/proximity queries
                // intersect shifted position sets instead of scanning
                // text. tf derives as size(positions) below, bitwise
                // equal to the count-of-occurrences it replaces.
                filter(sequence(lit(0), size(toks) - 1),
                  i => element_at(toks, i + 1) === t).as("positions"))).as("ps"))
        }.as("s"))
      .select(col("doc_id"), col("s.dl").as("dl"), explode(col("s.ps")).as("p"))
      .select(col("p.term").as("term"), col("doc_id"),
        size(col("p.positions")).cast("long").as("tf"),
        col("dl"), col("p.positions").as("positions"),
        pmod(crc32(col("p.term").cast("binary")), lit(nBuckets.toLong))
          .cast("int").as("pbucket"))

  /** Phrase match over POSITIONAL postings — the real inverted-index
    * phrase algorithm, no text access: term i's positions shift by −i (a
    * phrase starting at p has term i at p+i), the shifted sets intersect
    * per doc, and the intersection size IS the occurrence count. Reads
    * only the phrase terms' postings (bucket-pruned by the caller); docs
    * missing any term drop at the inner join. Exact integer counts —
    * zero float hazard at the gate. */
  def phraseMatchOf(postingsPos: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val shifted = phrase.zipWithIndex.map { case (t, i) =>
      postingsPos.filter(col("term") === t)
        .select(col("doc_id"),
          transform(col("positions"), p => p - i).as(s"pos$i"))
    }
    val joined = shifted.reduce((a, b) => a.join(b, Seq("doc_id")))
    val starts = phrase.indices.map(i => col(s"pos$i"))
      .reduce((a, b) => array_intersect(a, b))
    joined.select(col("doc_id"), size(starts).cast("long").as("n_matches"))
      .filter(col("n_matches") > 0)
      .orderBy("doc_id")
  }

  /** The phrase-match gate parameters (present at every gate SF). */
  val PhraseTerms: Seq[String] = Seq("data", "query")

  /** Proximity (NEAR/k) gate distance. */
  final val ProximityDist = 3

  /** Proximity match over POSITIONAL postings — NEAR/k: docs where the two
    * terms occur within `maxDist` tokens of each other (unordered), with
    * the minimum observed distance. min over the position-pair distances
    * via nested HOFs — O(|posA|·|posB|) per doc, both bounded by per-doc
    * term frequency; reads only the two terms' postings. Exact integers. */
  def proximityMatchOf(postingsPos: DataFrame, termA: String, termB: String,
                       maxDist: Int = ProximityDist): DataFrame = {
    val a = postingsPos.filter(col("term") === termA)
      .select(col("doc_id"), col("positions").as("pa"))
    val b = postingsPos.filter(col("term") === termB)
      .select(col("doc_id"), col("positions").as("pb"))
    a.join(b, Seq("doc_id"))
      .select(col("doc_id"),
        array_min(transform(col("pa"),
          p => array_min(transform(col("pb"), q => abs(p - q)))))
          .cast("long").as("min_dist"))
      .filter(col("min_dist") <= maxDist)
      .orderBy("doc_id")
  }

  /** DuckDB mirror of [[proximityMatchOf]] — direct token-level positions,
    * the same nested min. */
  def proximityMatchSql(termA: String = PhraseTerms(0),
                        termB: String = PhraseTerms(1),
                        maxDist: Int = ProximityDist,
                        docsRel: String = "documents",
                        prelude: String = ""): String =
    s"""WITH ${prelude}t AS (SELECT doc_id, STR_SPLIT(text, ' ') AS toks FROM $docsRel),
       |hp AS (SELECT doc_id,
       |  LIST_FILTER(range(0, LEN(toks)), p -> toks[p+1] = '$termA') AS pa,
       |  LIST_FILTER(range(0, LEN(toks)), p -> toks[p+1] = '$termB') AS pb FROM t),
       |m AS (SELECT doc_id,
       |  list_min(list_transform(pa, a -> list_min(list_transform(pb, b -> abs(a - b))))) AS min_dist
       |  FROM hp WHERE LEN(pa) > 0 AND LEN(pb) > 0)
       |SELECT doc_id, CAST(min_dist AS BIGINT) AS min_dist
       |FROM m WHERE min_dist <= $maxDist ORDER BY doc_id""".stripMargin

  /** Snippet gate window width (tokens). */
  final val SnippetWindow = 16

  /** Best query-term window per document — the serving stack's SNIPPET
    * extraction (the row-store half of a search result: the index ranks,
    * this shows WHY): for each doc, the earliest token window of
    * `window` tokens maximizing the count of query-term occurrences,
    * returned as (start, n_hits, snippet text). One narrow HOF chain per
    * row over the bound token split — hit positions once, per-start
    * counts over sequence(0, len−window), first-argmax via
    * array_position — exact integer window math both engines replay.
    * Run it on the ≤ k rows the index already chose, never the corpus. */
  def snippetWindows(docsWithText: DataFrame, terms: Seq[String],
                     window: Int = SnippetWindow): DataFrame = {
    import graft.functions.ExprUtils.bindOnce
    docsWithText.select(
        col("doc_id"),
        bindOnce(split(col("text"), " ", -1)) { toks =>
          bindOnce(filter(sequence(lit(0), size(toks) - 1),
            p => element_at(toks, p + 1).isInCollection(terms))) { hits =>
            bindOnce(transform(
              sequence(lit(0), greatest(size(toks) - window, lit(0))),
              i => size(filter(hits, p => p >= i && p < i + window)))) { counts =>
              struct(
                (array_position(counts, array_max(counts)) - 1)
                  .cast("long").as("start"),
                array_max(counts).cast("long").as("n_hits"),
                array_join(
                  slice(toks, array_position(counts, array_max(counts)).cast("int"),
                    lit(window)), " ").as("snippet"))
            }
          }
        }.as("w"))
      .select(col("doc_id"), col("w.start").as("start"),
        col("w.n_hits").as("n_hits"), col("w.snippet").as("snippet"))
      .orderBy("doc_id")
  }

  /** DuckDB mirror of [[snippetsGate]]: the indexed top-k candidate set
    * (identical to bm25TopkIndexedSql's) feeding the same earliest-argmax
    * window scan — exact integer hit counts, snippet by list slice. */
  def snippetExtractSql(terms: Seq[String] = Bm25Terms, k: Int = 5,
                        window: Int = SnippetWindow,
                        docsRel: String = "documents",
                        prelude: String = ""): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val tfCols = bm25SqlTfCols(terms)
    val dfCols = bm25SqlDfCols(terms.size)
    val score = terms.indices.map(bm25SqlScoreTerm).mkString("\n|  + ")
    val cand = terms.indices.map(i => s"tf$i > 0").mkString(" OR ")
    s"""WITH ${prelude}t AS (
       |  SELECT doc_id,
       |    CAST(LEN(STR_SPLIT(text, ' ')) AS DOUBLE) AS dl,
       |    $tfCols
       |  FROM $docsRel),
       |s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl, $dfCols FROM t),
       |top AS (SELECT doc_id FROM (
       |  SELECT doc_id, ROUND(
       |    $score, 4) AS bm25
       |  FROM t, s WHERE $cand ORDER BY bm25 DESC, doc_id LIMIT $k)),
       |tok AS (SELECT d.doc_id, STR_SPLIT(d.text, ' ') AS toks
       |        FROM $docsRel d JOIN top USING (doc_id)),
       |hp AS (SELECT doc_id, toks,
       |  LIST_FILTER(range(0, LEN(toks)), p -> toks[p+1] IN ($inList)) AS hits,
       |  GREATEST(LEN(toks) - $window, 0) AS maxs FROM tok),
       |best AS (SELECT doc_id, toks,
       |  (SELECT MIN(i) FROM (SELECT UNNEST(range(0, maxs + 1)) AS i)
       |    WHERE LEN(LIST_FILTER(hits, p -> p >= i AND p < i + $window)) =
       |      (SELECT MAX(LEN(LIST_FILTER(hits, p -> p >= j AND p < j + $window)))
       |       FROM (SELECT UNNEST(range(0, maxs + 1)) AS j))) AS start,
       |  (SELECT MAX(LEN(LIST_FILTER(hits, p -> p >= j AND p < j + $window)))
       |   FROM (SELECT UNNEST(range(0, maxs + 1)) AS j)) AS n_hits
       |  FROM hp)
       |SELECT doc_id, CAST(start AS BIGINT) AS start,
       |  CAST(n_hits AS BIGINT) AS n_hits,
       |  array_to_string(toks[start+1 : start+$window], ' ') AS snippet
       |FROM best ORDER BY doc_id""".stripMargin
  }

  /** Per-facet match counts — the faceted-search sidebar ("42 results in
    * lang=en / source=web"): candidate doc ids (from the index — docs
    * matching ≥ 1 query term) semi-join a SLIM dimension projection
    * (column-pruned, no text read), one grouped count. Exact integers. */
  def facetCountsOf(candidateIds: DataFrame, dims: DataFrame,
                    facets: Seq[String]): DataFrame =
    dims.join(candidateIds.select("doc_id"), Seq("doc_id"), "left_semi")
      .groupBy(facets.map(col): _*)
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(facets.map(col): _*)

  /** DuckDB mirror of the facet gate row: first-principles candidate set
    * (token scan) grouped by the same facets. */
  def facetCountsSql(terms: Seq[String] = Bm25Terms,
                     facets: Seq[String] = Seq("lang", "source"),
                     docsRel: String = "documents",
                     prelude: String = ""): String = {
    val cand = terms.map(t =>
      s"LIST_CONTAINS(STR_SPLIT(text, ' '), '$t')").mkString(" OR ")
    val f = facets.mkString(", ")
    // prelude ends with a trailing comma (built to precede another CTE);
    // here it is the only CTE, so strip it
    val cte =
      if (prelude.isEmpty) "" else s"WITH ${prelude.trim.stripSuffix(",")}\n"
    s"""${cte}SELECT $f, CAST(COUNT(*) AS BIGINT) AS n_docs FROM $docsRel
       |WHERE $cand GROUP BY $f ORDER BY $f""".stripMargin
  }

  /** DuckDB mirror of [[phraseMatchOf]] — a direct token-level scan (the
    * truth an index-free engine computes), so the gate verifies the
    * positional index against first principles. */
  def phraseMatchSql(phrase: Seq[String] = PhraseTerms,
                     docsRel: String = "documents",
                     prelude: String = ""): String = {
    val cond = phrase.zipWithIndex
      .map { case (t, i) => s"toks[i+$i] = '$t'" }.mkString(" AND ")
    s"""WITH ${prelude}t AS (SELECT doc_id, STR_SPLIT(text, ' ') AS toks FROM $docsRel),
       |m AS (SELECT doc_id,
       |  LEN(LIST_FILTER(range(1, LEN(toks) - ${phrase.size - 2}), i -> $cond)) AS n_matches
       |FROM t)
       |SELECT doc_id, CAST(n_matches AS BIGINT) AS n_matches
       |FROM m WHERE n_matches > 0 ORDER BY doc_id""".stripMargin
  }

  /** The O(terms) stat lookups both served forms share: (N, avgdl, df per
    * term) read from the maintained stats table as driver literals. */
  private[graft] def servedStats(stats: DataFrame, terms: Seq[String])
      : (Double, Double, Map[String, Long]) = {
    // ONE driver action (round 21 opt, guide §5 — the driver roundtrip IS
    // the serving latency): the corpus row and the per-term df rows come
    // out of a single grouped collect over the stats rows pruned to the
    // corpus sentinel + query terms (≤ |terms|+1 rows). The previous
    // two-action form (corpus head() then df collect()) paid two full
    // stats-log read+aggregate jobs per serve call, and the composed
    // hybrid rows make 2–3 serve calls each. Same values: the corpus row
    // folds by sum(dl)/sum(nd) exactly as the old keyless aggregate did.
    // A query term spelled like the LexCorpusRow sentinel shares its group
    // and keeps the summed df (corpus rows carry df 0), as the two-action
    // form returned it.
    val rows = stats
      .filter(col("term") === LexCorpusRow || col("term").isin(terms: _*))
      .groupBy("term")
      .agg(sum("df").as("df"), sum("dl").as("dl"), sum("nd").as("nd"))
      .collect()
    val corpus = rows.find(_.getString(0) == LexCorpusRow).getOrElse(
      throw new NoSuchElementException(
        "lexical stats have no corpus row — index empty or not built"))
    val nDocs = corpus.getLong(3)
    val avgdl = corpus.getLong(2).toDouble / nDocs.toDouble
    val dfMap = rows.filter(r => terms.contains(r.getString(0)))
      .map(r => r.getString(0) -> r.getLong(1)).toMap // ≤ |terms| rows
    (nDocs.toDouble, avgdl, dfMap)
  }

  /** BM25 top-k served ENTIRELY from the maintained lexical index — stats
    * AND term frequencies, no corpus access at all: df/N/avgdl are O(terms)
    * stat lookups ([[servedStats]]), per-candidate tf/dl come from the
    * query terms' POSTING rows (partition-pruned to their [[termBucket]]
    * dirs), pivoted per doc and scored through the shared
    * [[bm25ScoreExpr]] tree. Serving cost is O(postings of the query
    * terms) regardless of corpus size — the [[graft.operators.Similarity]]
    * nprobe-read treatment applied to text ([[bm25TopkServed]] still
    * tokenizes every document per query; this form retires that last
    * O(corpus) serving path).
    *
    * Candidate semantics: docs matching NO query term are not retrievable
    * (standard inverted-index behavior, the [[graft.operators.Retrieval
    * .bm25RankedPerQuery]] contract). Every candidate's score is strictly
    * positive (idf > 0 under the +1 smoothing, tf ≥ 1 on some term), so
    * whenever ≥ k candidates exist the output is bitwise-identical to the
    * full-scan [[bm25Topk]] (verified at every gate SF). */
  def bm25TopkIndexed(postings: DataFrame, stats: DataFrame,
                      terms: Seq[String] = Bm25Terms, k: Int = 20): DataFrame = {
    val (nDocs, avgdl, dfMap) = servedStats(stats, terms)
    val perDoc = postings.filter(col("term").isin(terms: _*))
      .groupBy("doc_id")
      .agg(max(col("dl")).cast("double").as("dl"),
        terms.zipWithIndex.map { case (t, i) =>
          sum(when(col("term") === t, col("tf")).otherwise(lit(0L)))
            .cast("double").as(s"tf$i")
        }: _*)
    val score = bm25ScoreExpr(terms.indices, i => col(s"tf$i"), col("dl"),
      lit(nDocs), lit(avgdl),
      i => lit(dfMap.getOrElse(terms(i), 0L).toDouble))
    perDoc.select(col("doc_id"), round(score, 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** ALL query sets' indexed BM25 ranked lists in ONE pass over the union
    * of their terms' postings (round 21 opt, guide §2.4/§5) — the batched
    * twin of per-query [[bm25TopkIndexed]] for the hybrid fusion legs.
    * The per-query composition paid, PER QUERY SET, one stats job + one
    * postings aggregate + its own top-k; this form pays ONE stats lookup
    * (union of terms) and ONE postings aggregate (tf per term, pivoted),
    * then scores every query from the same row and stacks by explode —
    * the [[Retrieval.bm25RankedPerQuery]] shape applied to the indexed
    * read.
    *
    * Bitwise-identical lists: stats/df literals are the same values per
    * term; a doc matching none of a query's terms scores exactly 0.0 on
    * that query (every BM25 term carries a tf factor) and the shared
    * `bm25 > 0` guard drops it — exactly the candidate semantics of the
    * per-query form (whose own 0-rounded candidates are dropped by the
    * same guard; RetrievalSpec pins the equivalence). */
  def bm25RankedPerQueryIndexedBatch(postings: DataFrame, stats: DataFrame,
                                     querySets: Seq[(Long, Seq[String])],
                                     l: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = querySets.flatMap(_._2).distinct
    val (nDocs, avgdl, dfMap) = servedStats(stats, terms)
    val perDoc = postings.filter(col("term").isin(terms: _*))
      .groupBy("doc_id")
      .agg(max(col("dl")).cast("double").as("dl"),
        terms.zipWithIndex.map { case (t, i) =>
          sum(when(col("term") === t, col("tf")).otherwise(lit(0L)))
            .cast("double").as(s"tf$i")
        }: _*)
    val tIdx = terms.zipWithIndex.toMap
    def score(qts: Seq[String]) = bm25ScoreExpr(
      qts.map(tIdx), i => col(s"tf$i"), col("dl"),
      lit(nDocs), lit(avgdl),
      i => lit(dfMap.getOrElse(terms(i), 0L).toDouble))
    val qs = querySets.map { case (qid, qts) =>
      struct(lit(qid).as("query_id"), round(score(qts), 4).as("bm25"))
    }
    val scored = perDoc
      .select(col("doc_id"), explode(array(qs: _*)).as("q"))
      .select(col("q.query_id"), col("doc_id"), col("q.bm25"))
    val w = Window.partitionBy("query_id").orderBy(col("bm25").desc, col("doc_id"))
    scored.filter(col("bm25") > 0.0)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= l)
      .select("query_id", "doc_id", "rank")
  }

  /** BM25 top-k SERVED from maintained lexical-index stats: df/N/avgdl are
    * O(terms) lookups against the summed stats table (no per-query stats
    * aggregate over the corpus — the pass [[bm25Topk]] pays every call),
    * leaving ONE narrow tf pass + TakeOrdered. Stats enter the score as
    * literals through the SAME expression tree as the batch form, so when
    * the maintained stats equal the batch aggregate (LexStatsStreamSpec
    * pins the fold bitwise) the output is bitwise-identical to
    * [[bm25Topk]] — which is what the shared gate oracle replays. */
  def bm25TopkServed(docs: DataFrame, stats: DataFrame,
                     terms: Seq[String] = Bm25Terms, k: Int = 20): DataFrame = {
    val (nDocs, avgdl, dfMap) = servedStats(stats, terms)
    val perDoc = docs.select(
      col("doc_id") +: Seq(
        graft.functions.ExprUtils.bindOnce(split(col("text"), " ", -1)) { toks =>
          struct(
            size(toks).cast("double").as("dl") +:
            terms.zipWithIndex.map { case (t, i) =>
              size(filter(toks, x => x === lit(t))).cast("double").as(s"tf$i")
            }: _*)
        }.as("s")): _*)
      .select(col("doc_id") +: col("s.dl").as("dl") +:
        terms.indices.map(i => col(s"s.tf$i").as(s"tf$i")): _*)
    val score = bm25ScoreExpr(terms.indices, i => col(s"tf$i"), col("dl"),
      lit(nDocs), lit(avgdl),
      i => lit(dfMap.getOrElse(terms(i), 0L).toDouble))
    perDoc.select(col("doc_id"), round(score, 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** Line-for-line DuckDB mirror of [[bm25Topk]] (same association order).
    * `candidatesOnly` mirrors [[bm25TopkIndexed]]'s inverted-index
    * semantics: docs matching no query term are not retrievable. BM25
    * constants interpolated from [[Bm25K1]]/[[Bm25B]] — one source of
    * truth with the Spark-side [[bm25ScoreExpr]]. */
  /** Shared DuckDB BM25 SQL fragments — ONE definition for every oracle
    * that replays the lexical score ([[bm25TopkSqlOf]],
    * [[snippetExtractSql]], the hybrid fusion replicas in
    * PortableOracles): tf/df column lists over `terms` and the per-term
    * score expression (k1/b interpolated from the final-val constants).
    * This round's k1-zeroing hazard had a 4-copy blast radius — now there
    * is nothing to drift. */
  private[graft] def bm25SqlTfCols(terms: Seq[String]): String =
    terms.zipWithIndex.map { case (t, i) =>
      s"CAST(LEN(LIST_FILTER(STR_SPLIT(text, ' '), x -> x = '$t')) AS DOUBLE) AS tf$i"
    }.mkString(",\n|    ")
  private[graft] def bm25SqlDfCols(n: Int): String =
    (0 until n).map(i =>
      s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
      .mkString(", ")
  private[graft] def bm25SqlScoreTerm(i: Int): String =
    s"LN((n - df$i + 0.5) / (df$i + 0.5) + 1.0) * (tf$i * ${Bm25K1 + 1.0}) / " +
    s"(tf$i + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl / avgdl))"

  private def bm25TopkSqlOf(candidatesOnly: Boolean,
                            docsRel: String = "documents",
                            prelude: String = ""): String = {
    val terms = Bm25Terms
    val tfCols = bm25SqlTfCols(terms)
    val dfCols = bm25SqlDfCols(terms.size)
    val score = terms.indices.map(bm25SqlScoreTerm).mkString("\n|  + ")
    val cand =
      if (candidatesOnly)
        "\nWHERE " + terms.indices.map(i => s"tf$i > 0").mkString(" OR ")
      else ""
    s"""WITH ${prelude}t AS (
       |  SELECT doc_id,
       |    CAST(LEN(STR_SPLIT(text, ' ')) AS DOUBLE) AS dl,
       |    $tfCols
       |  FROM $docsRel),
       |s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl, $dfCols FROM t)
       |SELECT doc_id, ROUND(
       |    $score, 4) AS bm25
       |FROM t, s$cand ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin
  }

  val bm25TopkSql: String = bm25TopkSqlOf(candidatesOnly = false)

  /** [[bm25TopkIndexed]]'s mirror — the same scoring chain restricted to
    * docs matching ≥ 1 query term (what an inverted-index read can see). */
  val bm25TopkIndexedSql: String = bm25TopkSqlOf(candidatesOnly = true)

  /** "More like this" replica (round 19): the seed doc's top-TF-IDF term
    * election from first principles (tf of the seed row × ln(n/df), rounded,
    * (score desc, term) ranked), then BM25 with those DYNAMIC terms — the
    * per-term components carry the exact [[bm25SqlScoreTerm]] association
    * and are summed IN RANK ORDER (`list_sum(list(c ORDER BY rank))`,
    * left-to-right like the Spark expression tree over the rank-ordered
    * term seq), candidates = docs matching ≥ 1 term, seed excluded. */
  def moreLikeThisSql(seedDoc: Long = 0L, nTerms: Int = 3, k: Int = 20,
                      docsRel: String = "documents",
                      prelude: String = ""): String =
    s"""WITH ${prelude}w AS (SELECT doc_id, UNNEST(STR_SPLIT(text, ' ')) AS term FROM $docsRel),
       |dfq AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS dfc FROM w GROUP BY term),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM $docsRel),
       |tf0 AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS tf FROM w
       |        WHERE doc_id = $seedDoc GROUP BY term),
       |mlt AS (SELECT term, rank FROM (
       |  SELECT t0.term, ROW_NUMBER() OVER (
       |    ORDER BY ROUND(t0.tf * LN(nn.n / d.dfc), 4) DESC, t0.term) AS rank
       |  FROM tf0 t0 JOIN dfq d USING (term), nn) WHERE rank <= $nTerms),
       |t AS (SELECT doc_id, CAST(LEN(STR_SPLIT(text, ' ')) AS DOUBLE) AS dl, text FROM $docsRel),
       |s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM t),
       |comp AS (SELECT t.doc_id, m.rank,
       |    LN((s.n - d.dfc + 0.5) / (d.dfc + 0.5) + 1.0)
       |      * (CAST(LEN(LIST_FILTER(STR_SPLIT(t.text, ' '), x -> x = m.term)) AS DOUBLE) * ${Bm25K1 + 1.0})
       |      / (CAST(LEN(LIST_FILTER(STR_SPLIT(t.text, ' '), x -> x = m.term)) AS DOUBLE)
       |         + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * t.dl / s.avgdl)) AS c,
       |    LEN(LIST_FILTER(STR_SPLIT(t.text, ' '), x -> x = m.term)) AS tfi
       |  FROM t, s, mlt m JOIN dfq d USING (term)),
       |sc AS (SELECT doc_id, ROUND(list_sum(list(c ORDER BY rank)), 4) AS bm25,
       |       SUM(tfi) AS anytf FROM comp GROUP BY doc_id)
       |SELECT doc_id, bm25 FROM sc WHERE anytf > 0 AND doc_id <> $seedDoc
       |ORDER BY bm25 DESC, doc_id LIMIT $k""".stripMargin

  // --- the LIVE-corpus gate fixture (round 19) --------------------------------

  /** The deterministic churned corpus the lexical-lifecycle gate rows serve:
    * v1 = `documents`; v2 REMOVES doc_id % 10 == 3 and EDITS doc_id % 13 ==
    * 0 (two query terms appended, so both BM25 tf and dl shift). One
    * definition feeds the Spark fixture ([[lexLiveV2Of]]) and every live
    * oracle's CTE — the SQL is the Spark expression transcribed. */
  final val LexLiveRemoveMod = 10
  final val LexLiveRemoveRes = 3
  final val LexLiveEditMod = 13
  final val LexLiveEditSuffix = " vector dup"

  /** v2 of a (doc_id, text, …) documents frame — columns preserved. */
  def lexLiveV2Of(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % LexLiveRemoveMod =!= LexLiveRemoveRes)
      .withColumn("text",
        when(col("doc_id") % LexLiveEditMod === 0,
          concat(col("text"), lit(LexLiveEditSuffix)))
          .otherwise(col("text")))

  /** The v2 CTE every live oracle prepends (trailing comma included). */
  val lexLiveV2Cte: String =
    s"""v2 AS (SELECT doc_id,
       |  CASE WHEN doc_id % $LexLiveEditMod = 0 THEN text || '$LexLiveEditSuffix'
       |       ELSE text END AS text, lang, source
       |  FROM documents WHERE doc_id % $LexLiveRemoveMod <> $LexLiveRemoveRes),
       |""".stripMargin

  /** [[bm25TopkIndexedSql]] over the live (v2) corpus. */
  def bm25TopkIndexedLiveSql: String =
    bm25TopkSqlOf(candidatesOnly = true, docsRel = "v2", prelude = lexLiveV2Cte)

  /** The live + as-of DOUBLE gate (round 19): one result pinning both
    * halves of the point-in-time contract — the LIVE view serves v2 (the
    * churned corpus) while the AS-OF batch-0 view still serves v1 (the
    * delete and edit are invisible at that point in time). Two independent
    * BM25 chains (v1 from `documents`, v2 from the CTE), each ranked and
    * cut at k, unioned under a view label. */
  def bm25TopkIndexedLiveAsofSql(k: Int = 20): String = {
    val terms = Bm25Terms
    val tfCols = bm25SqlTfCols(terms)
    val dfCols = bm25SqlDfCols(terms.size)
    val score = terms.indices.map(bm25SqlScoreTerm).mkString("\n|    + ")
    val cand = terms.indices.map(i => s"tf$i > 0").mkString(" OR ")
    def branch(view: String, t: String, s: String) =
      s"""(SELECT '$view' AS view, doc_id, ROUND(
         |    $score, 4) AS bm25
         |  FROM $t, $s WHERE $cand ORDER BY bm25 DESC, doc_id LIMIT $k)""".stripMargin
    s"""WITH ${lexLiveV2Cte}t1 AS (
       |  SELECT doc_id,
       |    CAST(LEN(STR_SPLIT(text, ' ')) AS DOUBLE) AS dl,
       |    $tfCols
       |  FROM documents),
       |s1 AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl, $dfCols FROM t1),
       |t2 AS (
       |  SELECT doc_id,
       |    CAST(LEN(STR_SPLIT(text, ' ')) AS DOUBLE) AS dl,
       |    $tfCols
       |  FROM v2),
       |s2 AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl, $dfCols FROM t2)
       |SELECT view, doc_id, bm25 FROM (
       |${branch("asof0", "t1", "s1")}
       |UNION ALL
       |${branch("live", "t2", "s2")})
       |ORDER BY view, bm25 DESC, doc_id""".stripMargin
  }

  // --- TF-IDF top-k terms per document (round 14) ------------------------------

  /** Per-document top-k TF-IDF terms — the keyword-extraction primitive a
    * curation pipeline uses for topic tagging, dedup explanation ("these
    * two docs share their top terms"), and retrieval-corpus summaries.
    * score = tf(term, doc) · ln(N / df(term)), ranked per doc with
    * deterministic ties (rounded score desc, term asc).
    *
    * Scale shape — ONE corpus scan, three LINEAR exchanges, no driver
    * state:
    *  1. (doc, term) exchange for the tf aggregate (map-side combined);
    *  2. term exchange for the document-frequency WINDOW — df(term) is the
    *     tf table's row count per term, so a count window over the
    *     vocabulary-keyed tf frame replaces a separate df aggregate joined
    *     back by term, which Catalyst planned as a SECOND full corpus scan
    *     (the shared tf subtree is not exchange-reused across the
    *     self-join — measured in the round-14 plan audit: 2 FileScans,
    *     4 hash exchanges for the join form vs 1 scan, 3 for this one);
    *  3. doc exchange for the per-doc top-k window — per-partition state
    *     is one doc's distinct terms, the pipeline's bounded unit.
    * N is one count scalar. The ln cross-engine precedent is [[bm25Topk]]
    * (bitwise-green since round 9): both engines' libm agree on this data,
    * and ranking happens on the ROUNDED score on both sides.
    */
  def tfidfTopTerms(docs: DataFrame, textCol: String, idCol: String,
                    k: Int = 5): DataFrame = {
    val n = docs.count().toDouble
    val tf = docs.select(col(idCol), explode(split(col(textCol), " ", -1)).as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val wDf = org.apache.spark.sql.expressions.Window.partitionBy("term")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("score").desc, col("term"))
    tf.withColumn("dfc", count(lit(1)).over(wDf))
      .select(col(idCol), col("term"), col("tf"),
        round(col("tf") * log(lit(n) / col("dfc")), 4).as("score"))
      // long rank: Spark's row_number is int32 where DuckDB's is int64
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(idCol, "rank", "term", "tf", "score")
  }

  /** Gate wrapper: top-5 terms per document, ordered. */
  def tfidfTopTermsGate(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    // r20: fanOut A/B'd WORSE here too (0.76 -> 1.03 s min-of-5) even
    // though the (doc,term) partials are doc-local — the two window
    // exchanges dominate and the extra round-robin pass only adds cost.
    // Left on the 1-task scan deliberately.
    tfidfTopTerms(Tables.documents(spark, dir), "text", "doc_id", k)
      .orderBy("doc_id", "rank")

  def tfidfTopTermsSql(k: Int = 5): String =
    s"""WITH w AS (SELECT doc_id, UNNEST(STR_SPLIT(text, ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY 1, 2),
       |dfq AS (SELECT term, COUNT(*) AS dfc FROM tf GROUP BY 1),
       |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
       |sc AS (SELECT doc_id, term, tf,
       |         ROUND(tf * LN(n / dfc), 4) AS score
       |       FROM tf CROSS JOIN n JOIN dfq USING (term)),
       |r AS (SELECT *, ROW_NUMBER() OVER (
       |        PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM sc)
       |SELECT doc_id, rank, term, tf, score FROM r
       |WHERE rank <= $k ORDER BY doc_id, rank""".stripMargin

  // --- PMI collocations (phrase mining) ------------------------------------

  /** Top-k adjacent-bigram collocations by pointwise mutual information:
    * PMI(a,b) = ln( p(ab) / (p(a)·p(b)) ) over corpus unigram/bigram
    * frequencies, thresholded at `minCount` co-occurrences (Church & Hanks
    * 1990 — the standard phrase-vocabulary miner feeding tokenizer merges
    * and n-gram stopphrase lists).
    *
    * Scale shape: two map-side-combinable aggregates over ONE token stream
    * (bigram counts; unigram counts), both vocabulary-sized; the corpus
    * totals are one-row aggregates broadcast back, and the unigram table
    * joins the bigram table BY WORD twice (broadcast while it fits, a
    * keyed shuffle join at open vocabulary). Top-k is TakeOrdered on the
    * rounded score — no global sort. The score is computed as one double
    * expression (counts cast up front, identical operation order in the
    * oracle) and rounded to 4, doc-ordered ties broken by the word pair —
    * the bm25/dsir ln-portability precedent.
    */
  def pmiBigrams(docs: DataFrame, textCol: String = "text",
                 minCount: Int = 5, k: Int = 50): DataFrame = {
    val w = docs.select(split(col(textCol), " ", -1).as("ws"))
    // corpus totals come from ONE narrow no-explode scan (sum of per-doc
    // token/bigram counts) — deriving them by re-aggregating the uni/bi
    // subtrees would re-execute each of those corpus passes a second time
    // (the tfidf no-exchange-reuse lesson; plan-audited)
    val totals = w.agg(
      sum(size(col("ws"))).cast("double").as("n_tok"),
      sum(greatest(size(col("ws")) - 1, lit(0))).cast("double").as("n_bi"))
    // the two by-word consumers broadcast the SAME single-key aggregate —
    // canonicalization ignores the per-side renames, so the second join
    // plans a ReusedExchange over the first broadcast and the unigram
    // subtree executes ONCE (plan-audited; no electKeep repartition needed
    // here, unlike the shuffle-side sharing cases)
    val uni = w.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bi = w.select(explode(expr(
        """transform(
          |  CASE WHEN size(ws) >= 2 THEN sequence(0, size(ws) - 2)
          |       ELSE CAST(array() AS ARRAY<INT>) END,
          |  i -> struct(ws[i] AS w1, ws[i+1] AS w2))""".stripMargin)).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    bi.join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(totals)
      .select(col("w1"), col("w2"), col("n_pair"),
        round(log(col("n_pair").cast("double") * col("n_tok") * col("n_tok")
          / (col("n_bi") * col("c1") * col("c2"))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  def pmiBigramsGate(spark: SparkSession, dir: String): DataFrame =
    pmiBigrams(Tables.documents(spark, dir))

  def pmiBigramsSql(minCount: Int = 5, k: Int = 50): String =
    s"""WITH w AS (SELECT STR_SPLIT(text, ' ') AS ws FROM documents),
       |uni AS (SELECT u.w, CAST(COUNT(*) AS BIGINT) AS c
       |        FROM (SELECT UNNEST(ws) AS w FROM w) u GROUP BY u.w),
       |bi AS (SELECT p[1] AS w1, p[2] AS w2, CAST(COUNT(*) AS BIGINT) AS n_pair
       |       FROM (SELECT UNNEST(list_transform(
       |               range(0, GREATEST(LEN(ws) - 1, 0)),
       |               i -> [ws[i+1], ws[i+2]])) AS p FROM w) t
       |       GROUP BY 1, 2 HAVING COUNT(*) >= $minCount),
       |tot AS (SELECT CAST(SUM(LEN(ws)) AS DOUBLE) AS n_tok,
       |               CAST(SUM(GREATEST(LEN(ws) - 1, 0)) AS DOUBLE) AS n_bi
       |        FROM w)
       |SELECT w1, w2, n_pair,
       |       ROUND(LN(CAST(n_pair AS DOUBLE) * n_tok * n_tok
       |                / (n_bi * a.c * b.c)), 4) AS pmi
       |FROM bi JOIN uni a ON a.w = bi.w1 JOIN uni b ON b.w = bi.w2
       |CROSS JOIN tot
       |ORDER BY pmi DESC, w1, w2 LIMIT $k""".stripMargin

  // --- document fingerprint (rolling hash) -------------------------------------
  // Built on the portable h60 hash so the whole sketch — content hash,
  // simhash, winnowing mins — gets an exact DuckDB oracle (the xxhash64
  // production variants stay spec-pinned via the HOF equivalence tests).
  // The winnowing sketch is serialized to a string for the gate — the
  // driver's rows-only fallback sorts/factorizes the frame and pandas cannot
  // hash ndarray cells (round-1 gate crash); the array form stays available
  // via Dedup.winnowingFingerprint.
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.h60
    Tables.documentsById(spark, dir).select(
      col("doc_id"),
      h60(col("text")).as("content_fp"),
      Dedup.simhash(col("text"), h60).as("simhash_fp"),
      array_join(transform(Dedup.winnowingFingerprint(col("text"), hashFn = h60),
        _.cast("string")), "-").as("winnow_fp"))
  }
}
