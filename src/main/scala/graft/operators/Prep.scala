package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Hashing.{h60, h60Sql}

/** Document preparation for training pipelines: sliding-window chunking,
  * PII scrubbing, and benchmark decontamination. Everything here is either a
  * narrow per-document map (chunking, scrubbing) or a broadcast semi-join
  * against a small benchmark set (decontamination) — no operator shuffles
  * the corpus itself.
  */
object Prep {

  /** Sliding-window token chunking: windows of `win` tokens every `stride`
    * tokens (overlap = win - stride), last chunk keeps the tail. Chunk count
    * for n tokens: 1 if n ≤ win, else 1 + ⌈(n-win)/stride⌉ — a chunk starts
    * at i·stride only while the previous chunk did not already reach the end.
    *
    * The token array is computed once below the generator (a generator is a
    * CollapseProject barrier, so `split` runs per document, not per emitted
    * chunk); per-chunk work is one O(win) slice. Chunks are identified by
    * content hash, not carried text — at 100 TB the chunk table rides ids
    * and hashes, and chunk text is re-derived on demand from the doc store.
    */
  def chunkOverlap(spark: SparkSession, dir: String, win: Int = 32, stride: Int = 24): DataFrame =
    // gate-sorted at the base scan (narrow pipeline; the generator emits
    // chunk indices ascending, so (doc_id, chunk_idx) order is preserved)
    // — see Tables.documentsById
    chunkOverlapOf(Tables.documentsById(spark, dir), win, stride)

  /** The transform alone (docs in, chunks out) — STATELESS, so the same
    * plan runs unchanged under `readStream` (PrepStreamSpec pins batch ≡
    * stream); the gate wrapper above adds only the sorted base scan. */
  def chunkOverlapOf(docs: DataFrame, win: Int = 32, stride: Int = 24): DataFrame = {
    val words = split(col("text"), " ", -1)
    val n = size(words)
    val nc = when(n <= win, lit(1))
      .otherwise(lit(1) + ((n - lit(win) + lit(stride - 1)) / lit(stride.toDouble)).cast("int"))
    val toks = slice(col("w"), col("ci") * stride + 1, lit(win))
    docs
      .select(col("doc_id"), words.as("w"), nc.as("nc"))
      .select(col("doc_id"), col("w"), explode(sequence(lit(0), col("nc") - 1)).as("ci"))
      .select(col("doc_id"), col("ci").cast("long").as("chunk_idx"), toks.as("toks"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("toks")).cast("long").as("n_tokens"),
        h60(concat_ws(" ", col("toks"))).as("chunk_hash"))
  }

  /** [[chunkOverlapOf]] emitting the chunk TEXTS instead of content hashes —
    * the passage-retrieval input (round 19): each chunk becomes a row-store
    * "document" a chunk-level lexical index serves. Same window arithmetic,
    * same narrow generator shape. */
  def chunkTextsOf(docs: DataFrame, win: Int = 32, stride: Int = 24): DataFrame = {
    val words = split(col("text"), " ", -1)
    val n = size(words)
    val nc = when(n <= win, lit(1))
      .otherwise(lit(1) + ((n - lit(win) + lit(stride - 1)) / lit(stride.toDouble)).cast("int"))
    val toks = slice(col("w"), col("ci") * stride + 1, lit(win))
    docs
      .select(col("doc_id"), words.as("w"), nc.as("nc"))
      .select(col("doc_id"), col("w"), explode(sequence(lit(0), col("nc") - 1)).as("ci"))
      .select(col("doc_id"), col("ci").cast("long").as("chunk_idx"),
        concat_ws(" ", toks).as("text"))
  }

  /** BM25 PASSAGE retrieval oracle (round 19): the chunk CTE chain feeding
    * the standard literal-terms BM25 chain, each chunk keyed pid =
    * doc_id·1000 + chunk_idx (the Spark side FAILS LOUD past 1000 chunks —
    * [[graft.streaming.PassageLex.chunkDocs]]), top-k chunks with the pid
    * decomposed back to (doc_id, chunk_idx). `docsRel`/`prelude` swap the
    * corpus for a CTE (the live-lifecycle replicas chunk the v2 view). */
  def bm25PassageSql(k: Int = 20, docsRel: String = "documents",
                     prelude: String = ""): String = {
    val terms = TextAnalysis.Bm25Terms
    val tfCols = TextAnalysis.bm25SqlTfCols(terms)
    val dfCols = TextAnalysis.bm25SqlDfCols(terms.size)
    val score = terms.indices.map(TextAnalysis.bm25SqlScoreTerm).mkString("\n|    + ")
    val cand = terms.indices.map(i => s"tf$i > 0").mkString(" OR ")
    s"""WITH $prelude${chunkCtesOf(docsRel)},
       |ch AS (SELECT doc_id * 1000 + ci AS pid, array_to_string(toks, ' ') AS text FROM c),
       |tt AS (SELECT pid, CAST(LEN(STR_SPLIT(text, ' ')) AS DOUBLE) AS dl,
       |    $tfCols
       |  FROM ch),
       |ss AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl, $dfCols FROM tt)
       |SELECT CAST(pid // 1000 AS BIGINT) AS doc_id,
       |  CAST(pid % 1000 AS BIGINT) AS chunk_idx,
       |  ROUND(
       |    $score, 4) AS bm25
       |FROM tt, ss WHERE $cand ORDER BY bm25 DESC, pid LIMIT $k""".stripMargin
  }

  /** The passage-grain live + AS-OF double gate's replica (round 20): the
    * [[graft.operators.TextAnalysis.bm25TopkIndexedLiveAsofSql]] shape at
    * chunk grain — the v1 corpus ([[chunkCtesOf]] suffix 1, from
    * `documents`) and the v2 corpus (suffix 2, from the shared live CTE)
    * each chunked, BM25-chained, ranked and cut at k independently, then
    * unioned under a view label. The oracle never sees the index: it
    * replays what each point-in-time view CLAIMS to serve. */
  def bm25PassageLiveAsofSql(k: Int = 20): String = {
    val terms = TextAnalysis.Bm25Terms
    val tfCols = TextAnalysis.bm25SqlTfCols(terms)
    val dfCols = TextAnalysis.bm25SqlDfCols(terms.size)
    val score = terms.indices.map(TextAnalysis.bm25SqlScoreTerm).mkString("\n|    + ")
    val cand = terms.indices.map(i => s"tf$i > 0").mkString(" OR ")
    def chain(sfx: String) =
      s"""ch$sfx AS (SELECT doc_id * 1000 + ci AS pid, array_to_string(toks, ' ') AS text FROM c$sfx),
         |tt$sfx AS (SELECT pid, CAST(LEN(STR_SPLIT(text, ' ')) AS DOUBLE) AS dl,
         |    $tfCols
         |  FROM ch$sfx),
         |ss$sfx AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl, $dfCols FROM tt$sfx)""".stripMargin
    def branch(view: String, sfx: String) =
      s"""(SELECT '$view' AS view, CAST(pid // 1000 AS BIGINT) AS doc_id,
         |  CAST(pid % 1000 AS BIGINT) AS chunk_idx,
         |  ROUND(
         |    $score, 4) AS bm25
         |  FROM tt$sfx, ss$sfx WHERE $cand ORDER BY bm25 DESC, pid LIMIT $k)""".stripMargin
    s"""WITH ${TextAnalysis.lexLiveV2Cte}${chunkCtesOf("documents", "1")},
       |${chunkCtesOf("v2", "2")},
       |${chain("1")},
       |${chain("2")}
       |SELECT view, doc_id, chunk_idx, bm25 FROM (
       |${branch("asof0", "1")}
       |UNION ALL
       |${branch("live", "2")})
       |ORDER BY view, bm25 DESC, doc_id, chunk_idx""".stripMargin
  }

  /** Shared chunking CTE chain ending in `c$sfx(doc_id, ci, toks)` — reused
    * by the chunk-embedding composition oracle and the passage replicas
    * (parameterized over the corpus relation for the live twins; `sfx`
    * disambiguates CTE names when one statement chunks TWO corpus
    * snapshots — the as-of double gate). */
  private def chunkCtesOf(docsRel: String, sfx: String = ""): String =
    s"""t$sfx AS (SELECT doc_id, STR_SPLIT(text, ' ') AS w,
       |    CASE WHEN LEN(STR_SPLIT(text, ' ')) <= 32 THEN 1
       |         ELSE 1 + (LEN(STR_SPLIT(text, ' ')) - 32 + 23) // 24 END AS nc
       |  FROM $docsRel),
       |x$sfx AS (SELECT doc_id, w, UNNEST(range(0, nc)) AS ci FROM t$sfx),
       |c$sfx AS (SELECT doc_id, ci, w[ci*24+1 : ci*24+32] AS toks FROM x$sfx)""".stripMargin

  private val chunkCtes: String = chunkCtesOf("documents")

  val chunkOverlapSql: String =
    s"""WITH $chunkCtes
       |SELECT doc_id, ci AS chunk_idx, LEN(toks) AS n_tokens,
       |  ${h60Sql("array_to_string(toks, ' ')")} AS chunk_hash
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** End-to-end retrieval composition: chunk the corpus, embed every
    * distinct chunk (stub arithmetic keyed on the chunk content hash — no
    * model in the container, same contract as [[Multimodal.extractFeatures]]),
    * and return the top-k most-similar chunks for each probe-document chunk.
    * The pipeline shape is the production one: chunks dedup by content hash
    * BEFORE embedding (never embed a duplicate), the probe set broadcasts,
    * and candidates are scored in one pass. The embedding transform binds
    * the hash once ([[graft.functions.ExprUtils.bindOnce]]) — CollapseProject
    * would otherwise inline the chunk-hash md5 into all 16 dimension lambdas.
    */
  /** The stub chunk-embedding expression over a chunk-hash column — 16
    * deterministic dims in [−1, 1) keyed on the content hash (no model in
    * the container, the [[Multimodal.extractFeatures]] contract). Factored
    * so the chunk-embed gate and the passage-grain hybrid's dense leg
    * share ONE transform (and its [[graft.functions.ExprUtils.bindOnce]]
    * guard — CollapseProject would otherwise inline the hash md5 into all
    * `dim` dimension lambdas). Null in, null out: a NULL hash embeds to a
    * NULL vector (the [[chunkEmbedExprHof]] reference would instead embed
    * the bare dimension indices, since `concat_ws` skips nulls). */
  def chunkEmbedExpr(hash: org.apache.spark.sql.Column,
                     dim: Int = 16): org.apache.spark.sql.Column = {
    // fused codegen embed (r21 opt): the HOF transform ran `dim`
    // interpreted md5 evals per distinct chunk; the ChunkEmbed kernel is
    // the same bytes/arithmetic in one call (equivalence spec-pinned
    // against [[chunkEmbedExprHof]]).
    import org.apache.spark.sql.graft.{ChunkEmbed, ColumnBridge}
    ColumnBridge.column(ChunkEmbed(
      ColumnBridge.expression(hash.cast("string")), dim))
  }

  /** Reference HOF formulation of [[chunkEmbedExpr]] — kept for the
    * equivalence spec (CatalystExpressionSpec). */
  private[graft] def chunkEmbedExprHof(hash: org.apache.spark.sql.Column,
                                       dim: Int = 16): org.apache.spark.sql.Column = {
    import graft.functions.ExprUtils.bindOnce
    bindOnce(hash.cast("string")) { h =>
      transform(sequence(lit(0), lit(dim - 1)), i =>
        pmod(h60(concat_ws("-", h, i.cast("string"))), lit(2000L)).cast("double")
          / 1000.0 - 1.0)
    }
  }

  /** The DuckDB mirror of [[chunkEmbedExpr]] for a given hash SQL
    * expression — shared by the chunk-embed and passage-hybrid replicas. */
  def chunkEmbedExprSql(hashSql: String, dim: Int = 16): String =
    s"""list_transform(range(0, $dim), i ->
       | CAST(${h60Sql(s"$hashSql::VARCHAR || '-' || i::VARCHAR")} % 2000 AS DOUBLE)
       |   / 1000.0 - 1.0)""".stripMargin.replace("\n", "")

  def chunkEmbedTopk(spark: SparkSession, dir: String, k: Int = 3,
      probeDocs: Long = 3L, dim: Int = 16): DataFrame = {
    // chunkOverlapOf over a fanned-out UNSORTED base (r20 opt): this query
    // re-executes the chunk subtree for cands AND probes, every op above is
    // order-insensitive (distinct/join/window), and the final orderBy is
    // total — so the gate sort's range exchange + sampling jobs were pure
    // overhead here (A/B: 1.47 -> 0.6 s min-of-5 after the r20 keySorted
    // change had amplified the sorted form's subtree re-executions)
    val chunks = chunkOverlapOf(Tables.fanOut(Tables.documents(spark, dir)))
      .select("doc_id", "chunk_hash")
    // explicit isNotNull (r20 opt — the sliceVocab lesson): the probe join
    // infers isnotnull(chunk_hash) and pushes it into ITS copy of this
    // subtree; the main BroadcastNestedLoopJoin (≠ condition) infers
    // nothing — asymmetric constraints canonicalize the two branches
    // differently and AQE stage reuse is lost, re-running the whole chunk
    // pipeline per consumer. Filtering symmetrically keeps one exchange.
    val cands = chunks.select("chunk_hash")
      .filter(col("chunk_hash").isNotNull).distinct()
      .select(col("chunk_hash"), chunkEmbedExpr(col("chunk_hash"), dim).as("v"))
    val probes = chunks.filter(col("doc_id") < probeDocs)
      .select("chunk_hash").distinct()
      .join(cands, "chunk_hash")
      .select(col("chunk_hash").as("query_hash"), col("v").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_hash")).orderBy(col("sim").desc, col("cand_hash"))
    cands.join(broadcast(probes), col("query_hash") =!= col("chunk_hash"))
      .select(col("query_hash"), col("chunk_hash").as("cand_hash"),
        graft.functions.ExprUtils.roundz(graft.functions.VectorFunctions.cosine(col("qv"), col("v")), 4).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
      .orderBy(col("query_hash"), col("sim").desc, col("cand_hash"))
  }

  val chunkEmbedTopkSql: String = {
    val dimExpr = chunkEmbedExprSql("chunk_hash")
    s"""WITH $chunkCtes,
       |ch AS (SELECT doc_id, ${h60Sql("array_to_string(toks, ' ')")} AS chunk_hash FROM c),
       |u AS (SELECT DISTINCT chunk_hash FROM ch),
       |e AS (SELECT chunk_hash, $dimExpr AS v FROM u),
       |p AS (SELECT DISTINCT chunk_hash FROM ch WHERE doc_id < 3),
       |s AS (SELECT p.chunk_hash AS query_hash, e2.chunk_hash AS cand_hash,
       |        (ROUND(LIST_COSINE_SIMILARITY(e1.v, e2.v), 4) + 0.0) AS sim
       |      FROM p JOIN e e1 ON e1.chunk_hash = p.chunk_hash
       |             JOIN e e2 ON e2.chunk_hash <> p.chunk_hash)
       |SELECT query_hash, cand_hash, sim FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_hash
       |    ORDER BY sim DESC, cand_hash) AS rn FROM s) t
       |WHERE rn <= 3 ORDER BY query_hash, sim DESC, cand_hash""".stripMargin
  }

  /** Prelude exposing the chunk corpus as relation `chp(doc_id, text)`
    * with doc_id = pid — lets any docsRel/prelude-parameterized oracle
    * generator (proximity, more-like-this) replay at passage grain.
    * Chunk CTEs carry suffix "p" to dodge the generators' own CTE names
    * (`t`, `s`, `x`, `c` are all taken by one generator or another).
    * Trailing comma per the prelude convention. */
  def chunkRelPrelude: String =
    s"""${chunkCtesOf("documents", "p")},
       |chp AS (SELECT doc_id * 1000 + ci AS doc_id, array_to_string(toks, ' ') AS text FROM cp),
       |""".stripMargin

  /** Wrap a pid-grain oracle statement (output column `doc_id` = pid)
    * with the (doc_id, chunk_idx) decomposition — WITH-in-subquery is
    * valid DuckDB, and an inner LIMIT/ORDER survives the wrap. */
  def pidDecomposedSql(inner: String, valueCols: String,
                       orderBy: String): String =
    s"""SELECT CAST(doc_id // 1000 AS BIGINT) AS doc_id,
       |  CAST(doc_id % 1000 AS BIGINT) AS chunk_idx, $valueCols
       |FROM (
       |$inner
       |) pidt ORDER BY $orderBy""".stripMargin

  /** Passage-grain phrase replica: the chunk CTE chain feeding the
    * direct token-level scan ([[TextAnalysis.phraseMatchSql]]'s shape) at
    * pid grain — first-principles truth for the positional chunk index.
    * Same tokenize round-trip as the BM25 chains (chunk text re-split),
    * matching what the index ingested. */
  def phraseMatchPassageSql(
      phrase: Seq[String] = TextAnalysis.PhraseTerms): String = {
    val cond = phrase.zipWithIndex
      .map { case (t, i) => s"toks[i+$i] = '$t'" }.mkString(" AND ")
    s"""WITH $chunkCtes,
       |ch AS (SELECT doc_id * 1000 + ci AS pid, array_to_string(toks, ' ') AS text FROM c),
       |t2 AS (SELECT pid, STR_SPLIT(text, ' ') AS toks FROM ch),
       |m AS (SELECT pid,
       |  LEN(LIST_FILTER(range(1, LEN(toks) - ${phrase.size - 2}), i -> $cond)) AS n_matches
       |FROM t2)
       |SELECT CAST(pid // 1000 AS BIGINT) AS doc_id,
       |  CAST(pid % 1000 AS BIGINT) AS chunk_idx,
       |  CAST(n_matches AS BIGINT) AS n_matches
       |FROM m WHERE n_matches > 0 ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** [[Retrieval.hybridPassageTopk]]'s replica: the passage BM25 chain
    * (chunk CTEs → tt/ss at pid grain) branched per query term set with
    * each query's OWN candidacy clause (any of its terms' tf > 0 — the
    * indexed serve's candidate semantics), the dense leg re-deriving the
    * stub embeddings from the content hash ([[chunkEmbedExprSql]]) with
    * each query reading its parent doc's first window (pid = qid·1000),
    * both ranked lists cut at L and fused with the exact scaled-integer
    * RRF (lcm literal from [[Retrieval.rrfLcm]] — integer division, zero
    * float hazard in the fused score), the winning pids decomposed. */
  def hybridPassageTopkSql(denseIvf: Boolean = false,
                           nprobe: Int = 3,
                           docsRel: String = "documents",
                           prelude: String = ""): String = {
    val querySets = Retrieval.HybridTermSets
    val terms = querySets.flatMap(_._2).distinct
    val L = Retrieval.HybridL
    val lcm = Retrieval.rrfLcm(Retrieval.RrfC, L)
    val tfCols = TextAnalysis.bm25SqlTfCols(terms)
    val dfCols = TextAnalysis.bm25SqlDfCols(terms.size)
    val tIdx = terms.zipWithIndex.toMap
    def scoreSql(qts: Seq[String]): String =
      qts.map(t => TextAnalysis.bm25SqlScoreTerm(tIdx(t))).mkString(" + ")
    def candSql(qts: Seq[String]): String =
      qts.map(t => s"tf${tIdx(t)} > 0").mkString(" OR ")
    val lexBranches = querySets.map { case (qid, qts) =>
      s"SELECT CAST($qid AS BIGINT) AS query_id, pid, ROUND(${scoreSql(qts)}, 4) AS s " +
        s"FROM tt, ss WHERE ${candSql(qts)}"
    }.mkString("\n|  UNION ALL ")
    val qpids = querySets.map(_._1 * 1000).mkString(", ")
    val dimExpr = chunkEmbedExprSql("chunk_hash")
    // brute-force dense leg: every window a candidate
    val denseBrute =
      s"""dense AS (SELECT query_id, pid, rank FROM (
         |  SELECT q.query_id, c.pid,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY (ROUND(LIST_COSINE_SIMILARITY(q.qv, e.v), 4) + 0.0) DESC, c.pid) AS rank
         |  FROM qe q
         |  CROSS JOIN chh c
         |  JOIN e ON e.chunk_hash = c.chunk_hash
         |  WHERE c.pid <> q.qpid) dr WHERE rank <= $L)""".stripMargin
    // IVF dense leg: seed-chunk centroids (cid = ascending seed-pid rank),
    // sequential-sum L2 assignment with (d, cid) ties — the NearestCentroid
    // expression's exact semantics — candidates restricted to each query's
    // nprobe lists
    val seedPids = Retrieval.PassageSeedDocs.map(_ * 1000).mkString(", ")
    val dims = 16
    val denseIvfCtes =
      s"""pe AS (SELECT pid, v FROM chh JOIN e ON e.chunk_hash = chh.chunk_hash),
         |sd AS (SELECT sid, CAST(ROW_NUMBER() OVER (ORDER BY sid) - 1 AS BIGINT) AS cid
         |       FROM (SELECT UNNEST([$seedPids]) AS sid)),
         |cp AS (SELECT sd.cid, pe.v AS c FROM sd JOIN pe ON pe.pid = sd.sid),
         |ad AS (SELECT pe.pid, cp.cid,
         |         list_sum(list_transform(range(1, ${dims + 1}), k -> (pe.v[k] - cp.c[k]) * (pe.v[k] - cp.c[k]))) AS d
         |       FROM pe CROSS JOIN cp),
         |asg AS (SELECT pid, cid AS cluster FROM (
         |          SELECT pid, cid, ROW_NUMBER() OVER (PARTITION BY pid ORDER BY d, cid) AS rn
         |          FROM ad) WHERE rn = 1),
         |qp AS (SELECT pid AS qpid, cid AS cluster FROM (
         |         SELECT pid, cid, ROW_NUMBER() OVER (PARTITION BY pid ORDER BY d, cid) AS rn
         |         FROM ad WHERE pid IN ($qpids)) WHERE rn <= $nprobe),
         |dense AS (SELECT CAST(qpid // 1000 AS BIGINT) AS query_id, pid, rank FROM (
         |  SELECT q.qpid, a.pid,
         |    ROW_NUMBER() OVER (PARTITION BY q.qpid
         |      ORDER BY (ROUND(LIST_COSINE_SIMILARITY(qv.v, cv.v), 4) + 0.0) DESC, a.pid) AS rank
         |  FROM qp q
         |  JOIN asg a USING (cluster)
         |  JOIN pe qv ON qv.pid = q.qpid
         |  JOIN pe cv ON cv.pid = a.pid
         |  WHERE a.pid <> q.qpid) dr WHERE rank <= $L)""".stripMargin
    val denseCte = if (denseIvf) denseIvfCtes else denseBrute
    s"""WITH $prelude${chunkCtesOf(docsRel)},
       |ch AS (SELECT doc_id * 1000 + ci AS pid, array_to_string(toks, ' ') AS text FROM c),
       |tt AS (SELECT pid, CAST(LEN(STR_SPLIT(text, ' ')) AS DOUBLE) AS dl,
       |    $tfCols
       |  FROM ch),
       |ss AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl, $dfCols FROM tt),
       |lexs AS (
       |  $lexBranches),
       |lex AS (SELECT query_id, pid, rank FROM (
       |  SELECT query_id, pid,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, pid) AS rank
       |  FROM lexs) lr WHERE rank <= $L),
       |chh AS (SELECT pid, ${h60Sql("text")} AS chunk_hash FROM ch),
       |u AS (SELECT DISTINCT chunk_hash FROM chh),
       |e AS (SELECT chunk_hash, $dimExpr AS v FROM u),
       |qe AS (SELECT CAST(pid // 1000 AS BIGINT) AS query_id, pid AS qpid, v AS qv
       |       FROM chh JOIN e USING (chunk_hash) WHERE pid IN ($qpids)),
       |$denseCte,
       |fused AS (SELECT
       |    COALESCE(l.query_id, d.query_id) AS query_id,
       |    COALESCE(l.pid, d.pid) AS pid,
       |    COALESCE($lcm // (${Retrieval.RrfC} + l.rank), 0)
       |      + COALESCE($lcm // (${Retrieval.RrfC} + d.rank), 0) AS rrf_num
       |  FROM lex l FULL OUTER JOIN dense d
       |    ON l.query_id = d.query_id AND l.pid = d.pid)
       |SELECT query_id, CAST(pid // 1000 AS BIGINT) AS doc_id,
       |  CAST(pid % 1000 AS BIGINT) AS chunk_idx,
       |  CAST(rrf_num AS BIGINT) AS rrf_num, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY rrf_num DESC, pid) AS rank FROM fused) f
       |WHERE rank <= ${Retrieval.HybridK} ORDER BY query_id, rank""".stripMargin
  }

  // Conservative ASCII patterns, valid and identical under Java regex (Spark)
  // and RE2 (DuckDB): no \d, no backrefs, no lookaround.
  private val emailRe = "[a-z0-9._]+@[a-z0-9.]+"
  private val phoneRe = "[0-9]{3}-[0-9]{4}"

  /** PII redaction: replace email addresses and phone numbers with typed
    * placeholder tags and count what was removed. The synthetic corpus
    * contains no PII (verified: zero digits or '@' in any document), so the
    * operator appends a deterministic contact line derived from `doc_id`
    * before scrubbing — the scrub path (regex scan per document, narrow,
    * codegen) is exactly what runs on a real corpus.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    // gate-sorted at the base scan (narrow pipeline) — see Tables.documentsById
    piiScrubOf(Tables.documentsById(spark, dir))

  /** The transform alone — stateless, streaming-safe (PrepStreamSpec). */
  def piiScrubOf(docs: DataFrame): DataFrame = {
    val synth = concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or 555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
    docs
      .select(col("doc_id"), synth.as("synth"))
      .select(col("doc_id"),
        regexp_replace(regexp_replace(col("synth"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>").as("scrubbed"),
        regexp_count(col("synth"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("synth"), lit(phoneRe)).cast("long").as("n_phones"))
  }

  val piiScrubSql: String =
    s"""WITH s AS (SELECT doc_id,
       |    text || ' contact user' || doc_id::VARCHAR || '@example.com or 555-'
       |      || LPAD((doc_id % 10000)::VARCHAR, 4, '0') AS synth
       |  FROM documents)
       |SELECT doc_id,
       |  REGEXP_REPLACE(REGEXP_REPLACE(synth, '$emailRe', '<EMAIL>', 'g'),
       |    '$phoneRe', '<PHONE>', 'g') AS scrubbed,
       |  LEN(REGEXP_EXTRACT_ALL(synth, '$emailRe')) AS n_emails,
       |  LEN(REGEXP_EXTRACT_ALL(synth, '$phoneRe')) AS n_phones
       |FROM s ORDER BY doc_id""".stripMargin

  // --- HTML text extraction (round 17) -----------------------------------------
  //
  // The first stage of every web-corpus pipeline: strip markup and
  // boilerplate from crawled HTML, keep the content text (the
  // trafilatura/resiliparse job, reduced to its deterministic regex core).
  // The fixture ships no HTML, so the gate synthesizes a deterministic page
  // around each doc's text (the piiScrub synthesis pattern): title/heading
  // carry the doc id, script/style/nav/footer carry doc-dependent
  // boilerplate the extractor must REMOVE, and the DuckDB oracle replays
  // synthesis + extraction with the same RE2-compatible patterns.

  /** Deterministic HTML page around each doc's text. */
  def htmlFromDocuments(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      lit("<html><head><title>doc "), col("doc_id").cast("string"),
      lit("</title><style>body{color:#000;font:12px}</style></head>" +
        "<body><nav>home about contact</nav><h1>doc "),
      col("doc_id").cast("string"),
      lit("</h1><p>"), col("text"),
      lit("</p><script>var x="), pmod(col("doc_id"), lit(97)).cast("string"),
      lit(";</script><footer>(c) fixture corp "),
      pmod(col("doc_id"), lit(7)).cast("string"),
      lit("</footer></body></html>")).as("html"))

  /** The extraction patterns, shared verbatim with the SQL oracle (all in
    * the Java-regex ∩ RE2 common subset; `(?s)` = dotall for the block
    * removals, lazy quantifiers bound each block). Order matters: blocks
    * first (their CONTENT must go, not just their tags), then remaining
    * tags, then whitespace collapse. */
  private val htmlBlockRes =
    Seq("(?s)<script.*?</script>", "(?s)<style.*?</style>",
      "(?s)<nav.*?</nav>", "(?s)<footer.*?</footer>")
  private val htmlTagRe = "<[^>]*>"
  private val wsRe = "\\s+"

  /** Markup + boilerplate removal over an (doc_id, html) frame — one
    * narrow codegen'd regexp chain, no exchange, embarrassingly parallel
    * at any corpus size. Output: the content text and its length. */
  def extractHtmlTextOf(html: DataFrame): DataFrame = {
    val stripped = htmlBlockRes.foldLeft(col("html"))(
      (c, re) => regexp_replace(c, re, " "))
    html.select(col("doc_id"),
      trim(regexp_replace(
        regexp_replace(stripped, htmlTagRe, " "), wsRe, " ")).as("clean_text"))
      .select(col("doc_id"), col("clean_text"),
        length(col("clean_text")).cast("long").as("n_chars"))
  }

  /** Gate composition: synthesize → extract, over the gate-sorted base. */
  def htmlExtract(spark: SparkSession, dir: String): DataFrame =
    extractHtmlTextOf(htmlFromDocuments(Tables.documentsById(spark, dir)))

  val htmlExtractSql: String = {
    val synth =
      """'<html><head><title>doc ' || doc_id::VARCHAR ||
        |'</title><style>body{color:#000;font:12px}</style></head><body><nav>home about contact</nav><h1>doc ' ||
        |doc_id::VARCHAR || '</h1><p>' || text ||
        |'</p><script>var x=' || (doc_id % 97)::VARCHAR ||
        |';</script><footer>(c) fixture corp ' || (doc_id % 7)::VARCHAR ||
        |'</footer></body></html>'""".stripMargin.replace("\n", " ")
    val stripped = htmlBlockRes.foldLeft("html")(
      (e, re) => s"REGEXP_REPLACE($e, '$re', ' ', 'g')")
    s"""WITH h AS (SELECT doc_id, $synth AS html FROM documents)
       |SELECT doc_id,
       |  TRIM(REGEXP_REPLACE(REGEXP_REPLACE($stripped, '$htmlTagRe', ' ', 'g'),
       |    '$wsRe', ' ', 'g')) AS clean_text,
       |  LENGTH(TRIM(REGEXP_REPLACE(REGEXP_REPLACE($stripped, '$htmlTagRe', ' ', 'g'),
       |    '$wsRe', ' ', 'g'))) AS n_chars
       |FROM h ORDER BY doc_id""".stripMargin
  }

  /** Train/eval decontamination: flag every training document that shares at
    * least one 3-gram shingle with the benchmark (eval) set — here docs with
    * `doc_id % 10 = 0` stand in for the benchmark. The benchmark's distinct
    * shingle-hash set is BROADCAST (eval corpora are tiny next to training
    * corpora), so the 100 TB side is scanned once, shingled narrowly, and
    * semi-joined without shuffling text; only (doc_id, hit) pairs reach the
    * per-doc count. Shingles are hashed ([[h60]]) before the join so the
    * exchange carries 8-byte keys, never shingle strings.
    */
  /** The benchmark-membership stand-in shared by the batch query and
    * [[graft.streaming.DecontamStream]] — ONE definition, so the
    * streaming ≡ batch contract cannot silently diverge. */
  val isBenchDoc: Column = pmod(col("doc_id"), lit(10)) === 0

  def decontaminate(spark: SparkSession, dir: String, shingleK: Int = 3,
      hashFn: Column => Column = h60): DataFrame = {
    def docs = Tables.documents(spark, dir) // r20: fanOut A/B'd WORSE (0.66->1.21 s) — semi-join side dominates, not map CPU
    decontaminateAgainst(docs.filter(!isBenchDoc),
        benchShingleHashes(docs.filter(isBenchDoc), shingleK, hashFn), shingleK, hashFn)
      .orderBy("doc_id")
  }

  /** Distinct shingle-hash set of a benchmark (eval) corpus — the small,
    * broadcastable side of decontamination, and the unit the STREAMING
    * variant accumulates per batch ([[graft.streaming.DecontamStream]]). */
  def benchShingleHashes(benchDocs: DataFrame, shingleK: Int = 3,
      hashFn: Column => Column = h60): DataFrame = {
    // k=3 suits this small-vocabulary corpus; production decontamination
    // conventionally uses 13-grams (the gate query runs the default)
    def sh(c: Column) = array_distinct(Dedup.wordShingles(c, shingleK))
    benchDocs.select(explode(sh(col("text"))).as("s"))
      .select(hashFn(col("s")).as("sh")).distinct()
  }

  /** Flag `trainDocs` against an arbitrary benchmark-hash set (column `sh`).
    * Unordered output — callers add their gate sort or batch commit. */
  def decontaminateAgainst(trainDocs: DataFrame, benchHashes: DataFrame,
      shingleK: Int = 3, hashFn: Column => Column = h60): DataFrame = {
    def sh(c: Column) = array_distinct(Dedup.wordShingles(c, shingleK))
    val hits = trainDocs
      .select(col("doc_id"), explode(sh(col("text"))).as("s"))
      .select(col("doc_id"), hashFn(col("s")).as("sh"))
      .join(broadcast(benchHashes), "sh")
      // distinct AFTER the membership join, not before: the join only
      // filters, so the result is identical, but the pre-join side then has
      // NO exchange — at 100 TB the corpus-wide (doc_id, hash) shuffle this
      // avoids dwarfs the post-join distinct over the (rare) survivors.
      // Distinct on the HASH (not the string): if two shingles ever collide
      // in h60, both engines count one hit.
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    trainDocs.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .select(col("doc_id"), (col("n_shared") > 0).as("contaminated"), col("n_shared"))
  }

  // --- content-defined chunking (CDC) -------------------------------------

  /** Content-defined chunking: split each document where the rolling hash
    * of the trailing `win`-char window satisfies h % `divisor` == 0 — the
    * Rabin-style boundary rule (LBFS, Muthitacharoen et al. SOSP'01; every
    * dedup store from rsync to CAS backups). Unlike fixed-size chunking, an
    * insertion shifts only the chunks it touches: boundaries re-synchronize
    * within one window, so cross-version shared chunks keep their hashes —
    * the chunk-level dedup property `chunk_overlap`'s fixed windows lack.
    *
    * Expected chunk length is `divisor` chars. Implementation is one narrow
    * per-document HOF chain (boundary scan → start/end zip → substrings →
    * explode), h60-hashed so the DuckDB oracle is exact; only fixed-width
    * (doc_id, idx, hash, len) rows leave the generator. The gate query adds
    * a global per-hash occurrence count as ONE window over that narrow
    * table (single exchange, single scan — the tfidf no-self-join lesson);
    * at open scale the same count is a groupBy + keyed join, trading a
    * second shuffle for not sorting within hash groups.
    */
  def cdcChunks(docs: DataFrame, textCol: String = "text",
                win: Int = 8, divisor: Int = 64,
                hashFn: Column => Column = h60): DataFrame = {
    val t = col(textCol)
    // boundary cut positions: last char index of each matching window,
    // excluding a cut at the very end (it would leave an empty tail chunk).
    // The gate default h60 costs ~3x the xxhash64 production hash per
    // window (the substring_dedup md5 gate constant) — boundary/chunk
    // logic is hash-agnostic, so the gate verifies the same plan shape.
    chunksFromCuts(docs, t, cdcCutsHof(t, win, divisor, hashFn), hashFn)
  }

  /** HOF formulation of the boundary scan (hash-agnostic; the reference
    * for [[org.apache.spark.sql.graft.CdcCuts]]'s equivalence spec). */
  def cdcCutsHof(t: Column, win: Int, divisor: Int,
                 hashFn: Column => Column): Column =
    filter(
      transform(
        when(length(t) >= win, sequence(lit(1), length(t) - (win - 1)))
          .otherwise(expr("CAST(array() AS ARRAY<INT>)")),
        p => p + (win - 1)),
      c => (pmod(hashFn(t.substr(c - (win - 1), lit(win))), lit(divisor)) === 0)
        && c < length(t))

  /** Production CDC chunking: the single-pass codegen
    * [[org.apache.spark.sql.graft.CdcCuts]] boundary scan (xxhash64
    * windows, no per-position substring allocation — measured 9x the HOF
    * throughput at sf0.1, 33x at 64x amplification) + xxhash64 chunk
    * ids. Bit-equal to
    * `cdcChunks(hashFn = xxhash64)` (PrepSpec). */
  def cdcChunksFast(docs: DataFrame, textCol: String = "text",
                    win: Int = 8, divisor: Int = 64): DataFrame = {
    import org.apache.spark.sql.graft.{CdcCuts, ColumnBridge}
    val t = col(textCol)
    val cuts = ColumnBridge.column(CdcCuts(ColumnBridge.expression(t), win, divisor))
    chunksFromCuts(docs, t, cuts, xxhash64(_))
  }

  private def chunksFromCuts(docs: DataFrame, t: Column, cuts: Column,
                             hashFn: Column => Column): DataFrame = {
    // Two load-bearing shapes (round 15, measured in CdcProbe):
    //  1. the boundary scan lands in a real column FIRST and starts/ends
    //     reference it — referenced twice, CollapseProject keeps it a
    //     single per-row evaluation instead of inlining two copies into
    //     the generator;
    //  2. posexplode_OUTER, not posexplode: __chunks is never empty by
    //     construction (starts always holds element 1), so outer ≡ inner —
    //     but a non-outer generator triggers InferFiltersFromGenerate,
    //     whose size(…)>0 / isnotnull(…) conditions get alias-substituted
    //     and pushed to the scan as TWO MORE full boundary scans per row
    //     (slice gate measured 4.2 s → 0.4 s from these two changes; the
    //     full-corpus h60 form 7.2 s → 2.0 s).
    val withCuts = docs.withColumn("__cuts", cuts)
    val cc = col("__cuts")
    val starts = concat(array(lit(1)), transform(cc, c => c + 1))
    val ends = concat(cc, array(length(t)))
    withCuts
      .withColumn("__chunks",
        zip_with(starts, ends, (s, e) => t.substr(s, e - s + lit(1))))
      .select(col("doc_id"),
        posexplode_outer(col("__chunks")).as(Seq("chunk_idx", "__c")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        hashFn(col("__c")).as("chunk_hash"), length(col("__c")).cast("long").as("chunk_len"))
  }

  /** Gate form: CDC chunks over a BOUNDED deterministic doc slice with each
    * chunk's slice-global occurrence count (the dedup signal). The slice is
    * applied BEFORE chunking (VERDICT r14 item 4, the pair-query
    * precedent): the portable-h60 hash costs ~3× xxhash64 per window, and
    * paying that corpus-wide bought no extra verification — cut logic,
    * chunk extraction, hashing, and the count window are all exercised on
    * the slice, while the corpus-wide PRODUCTION path is [[cdcChunksFast]],
    * bit-equal to this operator under xxhash64 (PrepSpec equivalence,
    * unchanged) and measured corpus-wide in STRESS.md. */
  def cdcChunksGate(spark: SparkSession, dir: String, maxDoc: Int = 300): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = cdcChunks(Tables.documents(spark, dir).filter(col("doc_id") < maxDoc))
    chunks
      .withColumn("n_occ", count(lit(1))
        .over(Window.partitionBy("chunk_hash")))
      .orderBy("doc_id", "chunk_idx")
  }

  def cdcChunksSql(win: Int = 8, divisor: Int = 64, maxDoc: Int = 300): String = {
    val wm1 = win - 1
    s"""WITH cu AS (
       |  SELECT doc_id, text, list_filter(
       |    list_transform(range(1, GREATEST(LEN(text) - $wm1 + 1, 1)),
       |                   p -> p + $wm1),
       |    c -> ${h60Sql(s"SUBSTR(text, c - $wm1, $win)")} % $divisor = 0
       |         AND c < LEN(text)) AS cuts
       |  FROM documents WHERE doc_id < $maxDoc),
       |ch AS (
       |  SELECT doc_id,
       |    list_transform(
       |      list_zip(list_prepend(1, list_transform(cuts, c -> c + 1)),
       |               list_append(cuts, LEN(text))),
       |      z -> SUBSTR(text, z[1], z[2] - z[1] + 1)) AS chunks
       |  FROM cu),
       |x AS (
       |  SELECT doc_id, UNNEST(chunks) AS c,
       |         CAST(UNNEST(range(0, LEN(chunks))) AS BIGINT) AS chunk_idx
       |  FROM ch),
       |h AS (SELECT doc_id, chunk_idx, ${h60Sql("c")} AS chunk_hash,
       |             CAST(LEN(c) AS BIGINT) AS chunk_len FROM x)
       |SELECT doc_id, chunk_idx, chunk_hash, chunk_len,
       |       CAST(COUNT(*) OVER (PARTITION BY chunk_hash) AS BIGINT) AS n_occ
       |FROM h
       |ORDER BY doc_id, chunk_idx""".stripMargin
  }

  val decontaminateSql: String = {
    val sh3 = graft.PortableOracles.shingles3Expr
    s"""WITH bsh AS (SELECT DISTINCT UNNEST(LIST_DISTINCT($sh3)) AS s
       |             FROM documents WHERE doc_id % 10 = 0),
       |bh AS (SELECT LIST(DISTINCT ${h60Sql("s")}) AS hs FROM bsh),
       |th AS (SELECT doc_id,
       |         LIST_DISTINCT(list_transform($sh3, s -> ${h60Sql("s")})) AS dh
       |       FROM documents WHERE doc_id % 10 <> 0),
       |n AS (SELECT doc_id,
       |        CAST(LEN(LIST_INTERSECT(dh, bh.hs)) AS BIGINT) AS n_shared
       |      FROM th, bh)
       |SELECT doc_id, n_shared > 0 AS contaminated, n_shared
       |FROM n ORDER BY doc_id""".stripMargin
  }
}
