package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.streaming.EventsPipeline

/** Driver contract — see SURVEY.md §7.
  *
  * Every operator from SURVEY.md §2 (plus the charter's LLM-pipeline
  * extensions) is one [[SparkEntry.Query]] in [[SparkEntry.all]]: its name,
  * its builder, its deterministic DuckDB oracle and how Bench measures it.
  * `queries`, `oracleSql`, `eagerBuilt` and `registryBacked` are derived
  * from that one table. Column names and row order match exactly between
  * the Spark query and its oracle.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.topCustomersIntended(spark, "/root/testdata/sf0.001")

  // --- upsert demo (S4): the reference's ON CONFLICT loop as one merge -----
  private def upsertOrders(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val existing = orders.select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("v", lit(0L))
    val incoming = orders.filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"), round(col("o_totalprice") * lit(1.1), 2).as("o_totalprice"))
      .withColumn("v", lit(1L))
    Merge.upsert(existing, incoming, Seq("o_orderkey"), "v")
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  private val upsertOrdersSql: String =
    """SELECT o_orderkey, o_totalprice FROM (
      |SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 100 <> 0
      |UNION ALL
      |SELECT o_orderkey, ROUND(o_totalprice * 1.1, 2) AS o_totalprice FROM orders WHERE o_orderkey % 100 = 0
      |) ORDER BY o_orderkey""".stripMargin

  /** First UTF-8 byte of `text`, derived from the first code point (DuckDB
    * cannot index blobs): standard UTF-8 leading-byte arithmetic. Matches
    * Multimodal.decodeStub's `payload(0) & 0xff` for ALL inputs, including
    * multi-byte starts (zh docs) — the round-1 oracle used ASCII() (the code
    * point itself), which diverges for any non-ASCII first char.
    */
  private val firstUtf8ByteSql: String =
    """(CASE WHEN LENGTH(text) = 0 THEN 0
      | WHEN ASCII(text) < 128 THEN ASCII(text)
      | WHEN ASCII(text) < 2048 THEN 192 + ASCII(text) // 64
      | WHEN ASCII(text) < 65536 THEN 224 + ASCII(text) // 4096
      | ELSE 240 + ASCII(text) // 262144 END)""".stripMargin.replace("\n", " ")

  /** How Bench measures a query's cost HONESTLY (VERDICT r14 item 3 /
    * ADVICE r14). */
  sealed trait Measure
  /** Build the frame once, then time re-executions of it. */
  case object Steady extends Measure
  /** Iterative queries whose checkpoint chain RUNS at DataFrame
    * construction (`localCheckpoint(true)` is eager), so re-executing the
    * returned frame only re-reads the cached final ranks. Bench rebuilds
    * these per timed rep — the reported number is the real per-execution
    * compute, construction included. */
  case object EagerRebuild extends Measure
  /** Served from session registries (trained quantizer / PQ codebooks /
    * on-disk IVF index / z-ordered layout). The build is offline
    * maintenance, legitimately excluded from steady-state latency
    * (build-once-query-many), but the bench artifact carries the honest
    * cold cost too: Bench clears the registries ([[clearSessionRegistries]])
    * and reports a separate `fresh` seconds per query — one execution
    * paying retrain + rebuild. */
  case object RegistryBacked extends Measure

  /** One registered query. `oracle` is DuckDB SQL over the same parquet
    * tables; it is a thunk because a few oracles replay state that the
    * query's own gate run records (see [[OracleDir]]), so they must be
    * read after the queries ran. */
  final case class Query(name: String, build: (SparkSession, String) => DataFrame,
                         oracle: () => String, measure: Measure = Steady)

  /** `qs` as a registry: throws on a repeated name, which a `Map(...)`
    * literal would silently collapse to its last entry. */
  private[graft] def registry(qs: Query*): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  def clearSessionRegistries(): Unit = {
    Similarity.clearSessionCaches()
    Pq.clearSessionCache()
  }

  /** One per implemented operator from SURVEY.md §2. EVERY query has an
    * oracle: the LSH/sketch pipelines run on the portable h60 hash and are
    * replicated with DuckDB list lambdas + interpolated seed constants
    * ([[PortableOracles]]). Lazy, like the names derived from it: touching
    * this object for [[clearSessionRegistries]] alone must not pay for
    * building ~400 closures. Every entry point reads the registry before it
    * runs anything, so a duplicate name still fails at startup. */
  lazy val all: Seq[Query] = registry(
    // batch analytics parity (SURVEY §2.2–2.6)
    Query("overview", Analytics.overview _, () => Analytics.overviewSql),
    Query("orders_by_date", Analytics.ordersByDate _, () => Analytics.ordersByDateSql),
    // the reference's dynamically-composed range variant (both bounds
    // present → predicate appended and pushed to the scan); the
    // bounds-absent branches are pinned by AnalyticsSpec
    Query("orders_by_date_range", (s, d) =>
      Analytics.ordersByDateRange(s, d,
        Some(Analytics.DateRangeStart), Some(Analytics.DateRangeEnd)),
      () => Analytics.ordersByDateRangeSql),
    // batch twins of the incrementally-materialized per-tenant overview MV
    // (streaming.OverviewStream; MV ≡ twin pinned by OverviewStreamSpec):
    // the single-tenant endpoint shape and the all-tenant keyed MV shape
    Query("orders_overview_dc", (s, d) =>
      streaming.OverviewStream.overviewBatch(Tables.orders(s, d)),
      () => streaming.OverviewStream.overviewBatchSql),
    Query("orders_overview_by_tenant", (s, d) =>
      streaming.OverviewStream.overviewByTenant(Tables.orders(s, d)),
      () => streaming.OverviewStream.overviewByTenantSql),
    Query("top_customers_intended", Analytics.topCustomersIntended _,
      () => Analytics.topCustomersIntendedSql),
    Query("top_customers_faithful", Analytics.topCustomersFaithful _,
      () => Analytics.topCustomersFaithfulSql),
    Query("recent_orders", Analytics.recentOrders _, () => Analytics.recentOrdersSql),
    Query("customer_region", Analytics.customerRegion _, () => Analytics.customerRegionSql),
    Query("point_lookup", Analytics.pointLookup _, () => Analytics.pointLookupSql),
    Query("lineitem_pricing", Analytics.lineitemPricingSummary _,
      () => Analytics.lineitemPricingSummarySql),
    Query("orders_rollup", Analytics.ordersRollup _, () => Analytics.ordersRollupSql),
    Query("running_revenue", Analytics.runningRevenue _, () => Analytics.runningRevenueSql),
    Query("orders_daily_delta", Analytics.ordersDailyDelta _, () => Analytics.ordersDailyDeltaSql),
    Query("customer_quartiles", Analytics.customerQuartiles _,
      () => Analytics.customerQuartilesSql),
    Query("customer_quartiles_approx", Analytics.customerQuartilesApprox _,
      () => Analytics.customerQuartilesApproxSql),
    Query("orders_cube", Analytics.ordersCube _, () => Analytics.ordersCubeSql),
    Query("orders_grouping_sets", Analytics.ordersGroupingSets _,
      () => Analytics.ordersGroupingSetsSql),
    Query("orders_pivot", Analytics.ordersPivot _, () => Analytics.ordersPivotSql),
    Query("price_quantiles", Analytics.priceQuantiles _, () => Analytics.priceQuantilesSql),
    Query("price_quantiles_approx", Analytics.priceQuantilesApprox _,
      () => Analytics.priceQuantilesApproxSql),
    // top_customers_intended computed through the salted skew join — same
    // oracle as the plain variant proves Layout.saltedJoin end-to-end
    Query("top_customers_salted", (s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
        .filter(col("c_mktsegment") === Analytics.CustomerTenant)
        .select(col("c_custkey").as("o_custkey"), col("c_name"))
      Layout.saltedJoin(o, c, Seq("o_custkey"), numSalts = 8, saltFrom = col("o_orderkey"))
        .groupBy(col("o_custkey").as("c_custkey"), col("c_name"))
        .agg(count("o_orderkey").as("order_count"),
          round(sum("o_totalprice"), 2).as("total_spent"))
        .orderBy(col("total_spent").desc, col("c_custkey"))
        .limit(5)
    }, () => Analytics.topCustomersIntendedSql),
    Query("dedup_metrics", (s, d) =>
      Tables.documents(s, d).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"),
        round(lit(1.0) - countDistinct(md5(col("text"))) / count(lit(1)), 4).as("dup_ratio")),
      () =>
        """SELECT COUNT(*) AS n_docs,
          |COUNT(DISTINCT md5(text)) AS n_distinct,
          |ROUND(1.0 - COUNT(DISTINCT md5(text)) / COUNT(*), 4) AS dup_ratio
          |FROM documents""".stripMargin),
    // the 100 TB companion: HLL++ distinct (one pass, fixed-size mergeable
    // sketch, no distinct shuffle) vs the exact count. The sketch value is
    // engine-specific, so the gate checks a RELATIVE-ERROR bound (Spark's
    // HLL is deterministic for a given dataset — order/partitioning
    // independent — so the boolean is stable); DedupSpec pins the bound too.
    Query("dedup_metrics_approx", (s, d) =>
      Tables.documents(s, d).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"),
        approx_count_distinct(md5(col("text")), 0.05).as("approx"))
        .select(col("n_docs"), col("n_distinct"),
          (abs(col("approx") - col("n_distinct")).cast("double") / col("n_distinct")
            <= 0.15).as("approx_within_15pct")),
      // the approx value itself is engine-specific; the oracle asserts the
      // exact counts and that Spark's HLL landed within the documented bound
      () =>
        """SELECT COUNT(*) AS n_docs,
          |COUNT(DISTINCT md5(text)) AS n_distinct,
          |TRUE AS approx_within_15pct
          |FROM documents""".stripMargin),
    Query("custkeys_intersect", Analytics.custkeysIntersect _,
      () => Analytics.custkeysIntersectSql),
    Query("custkeys_intersect_approx", Analytics.custkeysIntersectApprox _,
      () => Analytics.custkeysIntersectApproxSql),
    Query("custkeys_intersect_theta", Analytics.custkeysIntersectTheta _,
      () => Analytics.custkeysIntersectThetaSql),
    Query("custkeys_except", Analytics.custkeysExcept _, () => Analytics.custkeysExceptSql),
    // ingestion / merge (SURVEY §2.1 S1+S4, §2.6 F5-F9)
    Query("upsert_orders", upsertOrders _, () => upsertOrdersSql),
    Query("ingest_normalize", Ingest.ingestNormalize _, () => Ingest.ingestNormalizeSql),
    Query("ingest_customers", Ingest.ingestCustomers _, () => Ingest.ingestCustomersSql),
    Query("ingest_products", Ingest.ingestProducts _, () => Ingest.ingestProductsSql),
    // streaming batch-twins (SURVEY §2.7)
    Query("events_dedup", (s, d) =>
      EventsPipeline.dedupLatest(Tables.events(s, d))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .orderBy("event_id"),
      () =>
        """SELECT event_id, ts, user_id, event_type, value, props FROM (
          |SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY ts DESC, user_id) AS rn FROM events) t
          |WHERE rn = 1 ORDER BY event_id""".stripMargin),
    Query("events_daily", (s, d) =>
      EventsPipeline.dailyAgg(Tables.events(s, d))
        // ISO string day: date32-vs-DATE render differences break hashing
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy("day", "event_type"),
      () =>
        """SELECT STRFTIME(ts, '%Y-%m-%d') AS day, event_type,
          |COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin),
    // as-of join: each click carries the user's latest purchase value
    // at-or-before it (union + running last_value — one shuffle, no range
    // cross product)
    Query("events_asof", (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value", "event_id")
      Temporal.asofJoin(clicks, purchases, "user_id", "ts", "ts", "value", "event_id")
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("asof_value"), 2).as("asof_value"))
        .orderBy("event_id")
    },
      // window-union mirror of the as-of join (engine-portable; right rows
      // sort before left at equal ts for >= semantics, event_id breaks ties
      // among right rows only — left rows take a constant tie because src
      // already orders them after right rows and their null v cannot affect
      // LAST_VALUE ... IGNORE NULLS)
      () =>
        """WITH u AS (
          |  SELECT user_id, ts, 1 AS src, 0 AS tie,
          |         CAST(NULL AS DOUBLE) AS v, event_id
          |  FROM events WHERE event_type = 'click'
          |  UNION ALL
          |  SELECT user_id, ts, 0 AS src, event_id AS tie, value AS v,
          |         CAST(NULL AS BIGINT) AS event_id
          |  FROM events WHERE event_type = 'purchase'),
          |f AS (
          |  SELECT *, LAST_VALUE(v IGNORE NULLS) OVER (
          |    PARTITION BY user_id ORDER BY ts, src, tie
          |    ROWS UNBOUNDED PRECEDING) AS asof_value
          |  FROM u)
          |SELECT event_id, user_id, ts, ROUND(asof_value, 2) AS asof_value
          |FROM f WHERE src = 1 ORDER BY event_id""".stripMargin),
    // batch twin of the stream-stream interval join (clicks ⋈ purchases
    // within the preceding hour per user)
    Query("events_stream_join", (s, d) => {
      val ev = Tables.events(s, d)
      EventsPipeline.clickPurchaseJoin(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"))
        .withColumn("value", round(col("value"), 2))
        .orderBy("click_id", "purchase_id")
    },
      () =>
        """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
          |c.user_id, c.ts AS click_ts, p.ts AS purchase_ts,
          |ROUND(p.value, 2) AS value
          |FROM (SELECT * FROM events WHERE event_type = 'click') c
          |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          |ON c.user_id = p.user_id
          |AND p.ts >= c.ts - INTERVAL 1 HOUR AND p.ts <= c.ts
          |ORDER BY click_id, purchase_id""".stripMargin),
    // range join through the gate: each click matched to the purchase
    // INTERVALS [ts, ts+1h) it falls into per user (the inverse direction of
    // events_stream_join's lookback) — key equi-join with the range as a
    // post-join filter (Temporal.rangeJoin: hash join on user_id, never a
    // cross product)
    Query("events_range_join", (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"),
          col("ts").as("p_start"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("p_end"),
          col("value"))
      Temporal.rangeJoin(clicks, purchases, "user_id", "click_ts", "p_start", "p_end")
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          col("click_ts"), col("purchase_ts"), round(col("value"), 2).as("value"))
        .orderBy("click_id", "purchase_id")
    },
      () =>
        """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
          |c.user_id, c.ts AS click_ts, p.ts AS purchase_ts,
          |ROUND(p.value, 2) AS value
          |FROM (SELECT * FROM events WHERE event_type = 'click') c
          |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          |ON c.user_id = p.user_id
          |AND c.ts >= p.ts AND c.ts < p.ts + INTERVAL 1 HOUR
          |ORDER BY click_id, purchase_id""".stripMargin),
    Query("events_sliding", (s, d) =>
      EventsPipeline.slidingAgg(Tables.events(s, d))
        .orderBy("window_start", "event_type"),
      // each event is in exactly 4 epoch-aligned (width 1d, slide 6h) windows:
      // TIME_BUCKET(6h, ts) - k*6h, k=0..3 — same alignment Spark's window() uses
      () =>
        """SELECT TIME_BUCKET(INTERVAL 6 HOUR, ts) - k.k * INTERVAL 6 HOUR AS window_start,
          |event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
          |FROM events CROSS JOIN (VALUES (0),(1),(2),(3)) k(k)
          |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin),
    Query("events_sessions", (s, d) =>
      EventsPipeline.sessionize(Tables.events(s, d), gap = "6 hours")
        .orderBy("user_id", "session_start"),
      // LAG + cumulative-sum sessionization ≡ Spark session_window merging:
      // a new session starts when the gap to the previous event is >= 6h
      // (session_window ends are exclusive, so an event exactly at last+gap
      // opens a new session on both sides)
      () =>
        """WITH x AS (
          |  SELECT user_id, ts, value,
          |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
          |              >= INTERVAL 6 HOUR THEN 1 ELSE 0 END AS new_s
          |  FROM events),
          |s AS (
          |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
          |                             ROWS UNBOUNDED PRECEDING) AS sid
          |  FROM x)
          |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
          |       COUNT(*) AS n_events, ROUND(SUM(value), 2) AS session_value
          |FROM s GROUP BY user_id, sid
          |ORDER BY user_id, session_start""".stripMargin),
    Query("events_user_totals", (s, d) =>
      EventsPipeline.userTotals(Tables.events(s, d))
        .withColumn("total_value", round(col("total_value"), 2))
        .orderBy("user_id"),
      () =>
        """SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    // [EXT] dedup family
    Query("dedup_exact", (s, d) =>
      Dedup.exactGroups(Tables.documents(s, d), "text", "doc_id")
        .orderBy("keep_id"),
      () =>
        """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
          |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin),
    // exact dedup on CANONICALIZED text (NFC + case + whitespace), proven
    // end-to-end by perturbing the corpus in-query and replaying the same
    // chain in the oracle
    Query("dedup_exact_canonical", Dedup.canonicalDedupGate _, () => Dedup.canonicalDedupSql),
    // word-level (k=1) sets: this synthetic corpus shares so much vocabulary
    // that 3-gram shingles never collide; τ=0.9 with 8 rows/band keeps the
    // candidate volume sane (collision prob .99 at j=.9, .13 at j=.6).
    // Pair LISTING is O(matches) — quadratic on this degenerate corpus — so
    // the audit query runs on a bounded id slice; the full-corpus scale path
    // is minhash_dedup_keep below (linear, no pair materialization).
    // gate variants run on the portable h60 hash (exact DuckDB oracle);
    // the xxhash64 production default is pinned by DedupSpec/
    // CatalystExpressionSpec equivalence tests
    Query("minhash_near_dup", (s, d) =>
      Dedup.nearDuplicatePairs(
          Tables.documents(s, d).filter(col("doc_id") < 500), "text", "doc_id",
          threshold = 0.9, numPerm = 64, bands = 8, shingleK = 1,
          hashFn = graft.functions.Hashing.h60)
        .orderBy("id_a", "id_b"), () => PortableOracles.minhashNearDupSql),
    Query("minhash_dedup_keep", (s, d) =>
      Dedup.lshDedupKeep(Tables.documents(s, d), "text", "doc_id",
          numPerm = 64, bands = 8, shingleK = 1,
          hashFn = graft.functions.Hashing.h60)
        .orderBy("doc_id"), () => PortableOracles.minhashDedupKeepSql),
    // linear simhash keep-filter (matrix-completing production path)
    Query("simhash_dedup_keep", (s, d) =>
      Dedup.simhashDedupKeep(Tables.documents(s, d), "text", "doc_id",
          hashFn = graft.functions.Hashing.h60)
        .orderBy("doc_id"), () => PortableOracles.simhashDedupKeepSql),
    Query("simhash_near_dup", (s, d) =>
      Dedup.simhashNearDupPairs(
          Tables.documents(s, d).filter(col("doc_id") < 500), "text", "doc_id",
          maxDist = 7, bands = 8, hashFn = graft.functions.Hashing.h60)
        .orderBy("id_a", "id_b"), () => PortableOracles.simhashNearDupSql),
    // transitive duplicate clusters: alternating large-star/small-star
    // connected components (SoCC'14) over the verified minhash pair graph —
    // the clustering tail the greedy keep-filters approximate; same bounded
    // slice + h60 as the pair audit, so the oracle replays the whole chain
    Query("dedup_clusters", (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
      val pairs = Dedup.nearDuplicatePairs(docs, "text", "doc_id",
        threshold = 0.9, numPerm = 64, bands = 8, shingleK = 1,
        hashFn = graft.functions.Hashing.h60)
      Components.componentLabels(docs, "doc_id", pairs, "id_a", "id_b")
        .orderBy("doc_id")
    }, () => PortableOracles.dedupClustersSql),
    // repeated-substring dedup (Lee et al. 2021 cut semantics): corpus-wide
    // duplicated L-token spans found on the hashed gram stream, covered
    // tokens removed per doc
    Query("substring_dedup", (s, d) => SubstringDedup.repeatedSpansGate(s, d),
      () => SubstringDedup.repeatedSpansSql()),
    // fuzzy dedup with quality-elected representatives (best copy keeps,
    // not min-id) over the dedup_clusters pair graph
    Query("dedup_best_keep", (s, d) => Curation.bestRepKeep(s, d),
      () => PortableOracles.bestRepKeepSql),
    // [EXT] end-to-end curation pipeline (exact dedup → LSH keep-filter →
    // quality/language gates → token stats)
    Query("curation_pipeline", (s, d) =>
      Curation.curate(s, d, hashFn = graft.functions.Hashing.h60),
      () => PortableOracles.curationPipelineSql),
    // leakage-safe split: assignment keyed on the duplicate-CLUSTER label,
    // so no near-dup pair ever straddles train/test (the plain id-hash
    // split leaks ~34% of near-dup pairs across splits)
    Query("split_leakage_safe", (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
      val pairs = Dedup.nearDuplicatePairs(docs, "text", "doc_id",
        threshold = 0.9, numPerm = 64, bands = 8, shingleK = 1,
        hashFn = graft.functions.Hashing.h60)
      Sampling.splitLeakageSafeOf(
          Components.componentLabels(docs, "doc_id", pairs, "id_a", "id_b"))
        .orderBy("doc_id")
    }, () => PortableOracles.splitLeakageSafeSql),
    // [EXT] deterministic sampling / splitting / packing (hash-keyed — no
    // RNG state, task-retry-stable, backfill-reproducible)
    Query("split_assign", Sampling.splitAssign _, () => Sampling.splitAssignSql),
    Query("sample_per_source", (s, d) => Sampling.samplePerSource(s, d),
      () => Sampling.samplePerSourceSql),
    // hot-group-safe aggregator variant — same contract, same oracle
    Query("sample_per_source_agg", (s, d) => Sampling.samplePerSourceAgg(s, d),
      () => Sampling.samplePerSourceSql),
    // token-mass-proportional sample (Efraimidis–Spirakis exponential race)
    Query("sample_weighted", (s, d) => Sampling.sampleWeighted(s, d),
      () => Sampling.sampleWeightedSql),
    // same race, ranked within each source (the mixture-building shape)
    Query("sample_weighted_per_source", (s, d) => Sampling.sampleWeightedPerSource(s, d),
      () => Sampling.sampleWeightedPerSourceSql),
    Query("pack_blocks", (s, d) => Sampling.packBlocks(s, d), () => Sampling.packBlocksSql),
    // end-to-end mixture build: weighted per-source sample -> greedy packing
    Query("mixture_pipeline", (s, d) => Sampling.mixturePipeline(s, d),
      () => Sampling.mixturePipelineSql),
    Query("pack_greedy", (s, d) => Sampling.packGreedy(s, d), () => Sampling.packGreedySql),
    // deterministic global training-order shuffle into balanced shards
    Query("shuffled_export", (s, d) => Sampling.shuffledExportAssign(s, d),
      () => Sampling.shuffledExportAssignSql()),
    // capstone composition: curated survivors -> training-order export
    // (what actually ships to the trainer: curate, then shard)
    Query("curation_export", (s, d) =>
      Sampling.shuffledExportAssignOf(
          Curation.curate(s, d, hashFn = graft.functions.Hashing.h60)
            .select("doc_id"), nShards = 8)
        .orderBy("doc_id"),
      () => s"""WITH cur AS (${PortableOracles.curationPipelineSql})
        |${Sampling.shuffledExportAssignSql(nShards = 8, src = "cur")}""".stripMargin),
    // [EXT] document prep: chunking, PII scrubbing, decontamination
    Query("chunk_overlap", (s, d) => Prep.chunkOverlap(s, d), () => Prep.chunkOverlapSql),
    Query("pii_scrub", Prep.piiScrub _, () => Prep.piiScrubSql),
    Query("decontaminate", (s, d) => Prep.decontaminate(s, d), () => Prep.decontaminateSql),
    // span-level decontamination: cut only the benchmark-overlapping spans
    // (decontaminate's whole-doc drop refined to Lee-et-al cut semantics)
    Query("contaminate_spans", (s, d) => SubstringDedup.contaminationSpansGate(s, d),
      () => SubstringDedup.contaminationSpansSql()),
    // fused model-based filter: hashed classifier + LM perplexity terciles
    // (CCNet head/middle/tail) + repetition, one narrow scoring pass
    Query("model_filter", (s, d) => Curation.modelFilter(s, d), () => Curation.modelFilterSql()),
    // the 100 TB twin: GK approx_percentile tercile boundaries instead of
    // the single-partition ntile window (no global sort anywhere); the
    // oracle replays the engine's own boundaries as literals
    Query("model_filter_scaled", (s, d) => Curation.modelFilterScaledGate(s, d),
      () => Curation.modelFilterScaledSql()),
    // end-to-end retrieval composition: chunk -> dedup -> embed -> top-k
    Query("chunk_embed_topk", (s, d) => Prep.chunkEmbedTopk(s, d), () => Prep.chunkEmbedTopkSql),
    // Z-order (Morton) key for multi-dimensional clustered layout — the
    // write built on it prunes files on EITHER range dimension
    // (LayoutSpec measures the bytes-read A/B); bucketing min/max taken
    // in-query so the oracle replays the identical chain
    Query("zorder_key", Layout.zorderKeyGate _, () => Layout.zorderKeySql),
    // READ through the z-clustered layout (built idempotently under /tmp):
    // a two-dimension range band over the clustered files — both
    // dimensions prune via parquet footer stats (LayoutSpec asserts the
    // executed scan reads fewer bytes than the unclustered copy)
    Query("zorder_pruned_read", (s, d) => Layout.zorderPrunedReadGate(s, d),
      () => Layout.zorderPrunedReadSql, RegistryBacked),
    // [EXT] one-pass data-quality profiler (per-column n/null/distinct/
    // min/max/mean in ONE aggregate + unpivot; exact-distinct gate form —
    // the approx/no-Expand 100 TB form is Profile.profileApprox, spec-pinned)
    Query("profile_columns", Profile.profileOrders _, () => Profile.profileOrdersSql),
    // distribution view: 16-bucket equi-width histograms, zero-filled —
    // one tiny min/max row + one pass whose exchange carries <= cols x 16
    // partial counts per partition (flat at any volume)
    Query("profile_histogram", Profile.histogramDocuments _, () => Profile.histogramDocumentsSql()),
    // the mergeable/streaming form: distinct via KMV theta sketch on the
    // portable h60 (k=256, so doc_id/text OVERFLOW and the θ-estimate path
    // fires at the gate — and the oracle still hash-compares the estimate)
    Query("profile_columns_sketched", Profile.profileDocumentsTheta _,
      () => Profile.profileDocumentsThetaSql),
    // declarative constraint validation (Deequ-style): all row-local
    // checks ride ONE keyless aggregate (a long vector per partition),
    // exact uniqueness a separate long-only Expand aggregate (Profile
    // split precedent), referential integrity one broadcast anti-join
    // count — the oracle SQL is GENERATED from the same check list
    Query("quality_report", Quality.qualityReport _, () => Quality.qualityReportSql),
    // link-graph centrality: fixed-point INTEGER PageRank (exact long
    // arithmetic ⇒ order-free, bitwise-reproducible on any partitioning;
    // per iteration ONE edge⋈rank join + ONE dst aggregate + a 1-row
    // dangling broadcast — all co-keyed on node id)
    Query("doc_pagerank", Centrality.docPageRank _,
      () => Centrality.docPageRankSql(), EagerRebuild),
    // seed-set (personalized) PageRank: teleport + dangling mass return
    // ONLY to the seeds — proximity-to-seeds ranking for topical corpus
    // expansion; same integer arithmetic + checkpoint discipline
    Query("doc_ppr", Centrality.docPprGate _, () => Centrality.docPprSql(), EagerRebuild),
    // tier composition under ONE oracle: A-ES weighted sampling with
    // PageRank mass as the weight (sample what the link graph endorses)
    Query("sample_by_centrality", (s, d) => Sampling.sampleByCentrality(s, d),
      () => Sampling.sampleByCentralitySql(), EagerRebuild),
    // monitoring: per-source PSI drift on the histogram grid (corpus
    // collapses to the sources x 16 count matrix in one exchange) and
    // daily-volume z-score anomalies (O(days) bounded window)
    Query("source_drift", Monitor.sourceDriftDocuments _, () => Monitor.sourceDriftDocumentsSql()),
    Query("events_anomaly", Monitor.dailyAnomaliesEvents _, () => Monitor.dailyAnomaliesSql()),
    // [EXT] text analysis
    Query("text_stats", TextAnalysis.textStats _, () => TextAnalysis.textStatsSql),
    Query("lang_id", TextAnalysis.langId _, () => TextAnalysis.langIdSql),
    Query("quality_score", TextAnalysis.quality _, () => TextAnalysis.qualitySql),
    Query("pair_jaccard", TextAnalysis.pairJaccard _, () => TextAnalysis.pairJaccardSql),
    Query("pair_jaccard_3gram", TextAnalysis.pairJaccard3gram _,
      () => TextAnalysis.pairJaccard3gramSql),
    Query("doc_fingerprint", TextAnalysis.fingerprint _, () => PortableOracles.docFingerprintSql),
    Query("docs_by_source", TextAnalysis.docsBySource _, () => TextAnalysis.docsBySourceSql),
    Query("token_freq", (s, d) => TextAnalysis.tokenFreq(s, d), () => TextAnalysis.tokenFreqSql),
    // capped-vocabulary path is the DEFAULT (bounded driver state at any
    // vocabulary; cap non-binding on this corpus, oracle replays the cap
    // so a testdata regeneration with a larger vocab stays green)
    Query("token_familiarity", (s, d) => TextAnalysis.tokenFamiliarityCapped(s, d),
      () => TextAnalysis.tokenFamiliarityCappedSql()),
    // binding-cap twin: k=16 < |vocab|=31, so the floor path actually
    // fires at the gate and the oracle replays the same top-16 + floor
    Query("token_familiarity_capped", (s, d) =>
      TextAnalysis.tokenFamiliarityCapped(s, d, k = 16, sketchKOpt = 128),
      () => TextAnalysis.tokenFamiliarityCappedSql(k = 16)),
    // token counting under a LEARNED BPE vocabulary: one word-count pass +
    // driver-side merge learning on the bounded table + narrow O(1)-lookup
    // scoring (the oracle replays the learned table as literals; merge
    // learning itself is spec-pinned in BpeSpec)
    Query("bpe_token_counts", Bpe.tokenCounts _, () => Bpe.tokenCountsSql()),
    // the same accounting under an IMPORTED out-of-creation-order merge
    // list (the two-step chain over the corpus's top >=3-char word,
    // Bpe.gateImportList), scored through the canonical
    // priority-iterated applier — the external-vocabulary import path
    // oracle-verified, not just spec-pinned
    Query("bpe_token_counts_imported", Bpe.tokenCountsImported _,
      () => Bpe.tokenCountsImportedSql()),
    Query("repetition_ratio", TextAnalysis.repetitionRatio _,
      () => TextAnalysis.repetitionRatioSql),
    Query("gopher_rules", (s, d) => TextAnalysis.gopherRules(s, d),
      () => TextAnalysis.gopherRulesSql),
    // hashed-feature models (O(K) state at ANY vocabulary — feature
    // hashing, Weinberger 2009): NB-weighted linear classifier (the
    // fastText-filter shape) and CCNet-style bigram-LM perplexity
    Query("classifier_score", (s, d) => HashedModel.classifierScores(s, d),
      () => HashedModel.classifierScoresSql()),
    Query("bigram_perplexity", (s, d) => HashedModel.bigramPerplexity(s, d),
      () => HashedModel.bigramPerplexitySql()),
    // filter-threshold calibration: PR curve at every candidate cutoff —
    // corpus collapses to the ≤10^4-row score GRID before the cumulative
    // window (bounded-window contract; the election helper is spec-pinned)
    Query("classifier_calibration", (s, d) => HashedModel.calibration(s, d),
      () => HashedModel.calibrationSql()),
    // the full deployment loop in one query: train → calibrate → elect the
    // highest-recall cutoff meeting the precision floor → flag keeps; the
    // oracle replays the election as a scalar subquery over the same curve
    Query("model_filter_calibrated", (s, d) => HashedModel.calibratedFilter(s, d),
      () => HashedModel.calibratedFilterSql()),
    // bounded-memory Misra-Gries companion (exact at k=128 > |vocab|=31, so
    // it shares token_freq's exact oracle; lossy regime pinned by spec)
    Query("token_freq_sketch", (s, d) => FreqSketch.tokenFreqSketch(s, d),
      () => TextAnalysis.tokenFreqSql),
    Query("token_freq_by_source", (s, d) => FreqSketch.tokenFreqBySource(s, d),
      () => FreqSketch.tokenFreqBySourceSql),
    // cross-source vocabulary overlap: exact matrix + minhash-sketch twin
    Query("source_overlap", CorpusOverlap.sourceOverlap _, () => CorpusOverlap.sourceOverlapSql),
    Query("source_overlap_sketch", (s, d) => CorpusOverlap.sourceOverlapSketch(s, d),
      () => CorpusOverlap.sourceOverlapSketchSql),
    // the serving form (no exact audit riding the query): h60 base hash
    // makes the ESTIMATE itself oracle-exact
    Query("source_overlap_sketch_serve", (s, d) => CorpusOverlap.sourceOverlapSketchServe(s, d),
      () => CorpusOverlap.sourceOverlapSketchServeSql()),
    // embedding-space diversity per label (SemDeDup's measurement half)
    Query("embedding_dispersion", (s, d) => Similarity.labelDispersion(Tables.embeddings(s, d)),
      () => Similarity.labelDispersionSql),
    // DSIR importance weights against the en-language target distribution
    // (capped-vocabulary default — see token_familiarity note)
    Query("dsir_weights", (s, d) => TextAnalysis.dsirWeightsCapped(s, d),
      () => TextAnalysis.dsirWeightsCappedSql()),
    Query("dsir_weights_capped", (s, d) =>
      TextAnalysis.dsirWeightsCapped(s, d, k = 16, sketchKOpt = 128),
      () => TextAnalysis.dsirWeightsCappedSql(k = 16)),
    // SemDeDup pruning: drop members semantically redundant with their
    // cluster anchor (tau tuned to this synthetic corpus's spread)
    Query("semantic_dedup_keep", (s, d) =>
      Similarity.semanticDedupKeep(Tables.embeddings(s, d), tau = 0.2),
      () => Similarity.semanticDedupKeepSql(0.2)),
    // cluster-balanced (√-rebalanced, α=1/2 temperature) sampling over the
    // trained IVF clusters — the data-mixing selection that flattens head
    // clusters; deterministic salted-h60 race, RNG-free
    Query("cluster_sample", (s, d) => Similarity.clusterSample(s, d),
      () => PortableOracles.clusterSampleSql),
    // bloom-pruned join: probe side pre-filtered by a broadcast fixed-size
    // bloom of build keys, then the exact join — oracle is the plain join
    Query("lineitem_bloom_join", BloomJoin.urgentLineitemSummary _,
      () => BloomJoin.urgentLineitemSummarySql),
    // JSONB-archive read path (F8's inverse): typed extraction from the
    // props JSON column; oracle mirrors the value numerically via regexp
    // so it needs no SQL JSON extension
    Query("events_props_sum", (s, d) =>
      Tables.events(s, d).groupBy(col("event_type"))
        .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          count(lit(1)).as("n"))
        .orderBy("event_type"),
      // outer CAST: DuckDB widens SUM(BIGINT) to HUGEINT, which pandas renders
      // as float — the gate's exact compare then fails against Spark's int64
      () =>
        """SELECT event_type,
          |CAST(SUM(CAST(REGEXP_EXTRACT(props, '[0-9]+') AS BIGINT)) AS BIGINT) AS sum_k,
          |COUNT(*) AS n
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // behavioral analytics over the event archive: greedy ordered funnel +
    // weekly cohort retention (one user-keyed aggregate each before any
    // user-crossing exchange — Behavior scaladoc)
    Query("events_funnel", Behavior.funnelGate _, () => Behavior.funnelSql),
    Query("events_retention", Behavior.retentionGate _, () => Behavior.retentionSql),
    // SCD2 temporal state reconstruction: run-length collapse of each
    // user's event_type sequence into gapless [valid_from, valid_to)
    // intervals, plus the point-in-time as-of read — ONE user-keyed hash
    // exchange total (lag/sum/groupBy/lead all share it — History scaladoc)
    Query("state_history", History.stateHistoryEvents _, () => History.stateHistorySql),
    Query("state_as_of", History.stateAsOfEvents _, () => History.stateAsOfSql),
    // corpus snapshot diff: one full-outer equi-join on doc_id comparing a
    // fixed-width content hash per side; v2 is the deterministic derived
    // "next crawl" (the fixture — snapshotDiff itself is snapshot-agnostic)
    Query("corpus_diff", Evolution.corpusDiff _, () => Evolution.corpusDiffSql),
    // PMI collocation mining over adjacent bigrams (phrase vocabulary)
    Query("pmi_bigrams", TextAnalysis.pmiBigramsGate _, () => TextAnalysis.pmiBigramsSql()),
    // content-defined (rolling-hash boundary) chunking + global chunk
    // occurrence counts — the insertion-resilient dedup chunker
    Query("cdc_chunks", (s, d) => Prep.cdcChunksGate(s, d), () => Prep.cdcChunksSql()),
    // [EXT] similarity search
    Query("cosine_topk", (s, d) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, d), Seq(0L, 1L, 2L, 3L, 4L), 3)
        .orderBy(col("query_id"), col("sim").desc, col("cand_id")),
      () =>
        """SELECT query_id, cand_id, sim FROM (
          |SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
          |(ROUND(LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) + 0.0) AS sim,
          |ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY ROUND(LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) DESC, b.vec_id) AS rn
          |FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
          |WHERE a.vec_id IN (0, 1, 2, 3, 4)) t
          |WHERE rn <= 3 ORDER BY query_id, sim DESC, cand_id""".stripMargin),
    // same contract via the bounded-buffer Aggregator (map-side combinable,
    // no per-group sort) — shares cosine_topk's oracle
    Query("cosine_topk_agg", (s, d) =>
      TopK.bruteForceTopKAgg(Tables.embeddings(s, d), Seq(0L, 1L, 2L, 3L, 4L), 3)
        .orderBy(col("query_id"), col("sim").desc, col("cand_id")),
      () =>
        """SELECT query_id, cand_id, sim FROM (
          |SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
          |(ROUND(LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) + 0.0) AS sim,
          |ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY ROUND(LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) DESC, b.vec_id) AS rn
          |FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
          |WHERE a.vec_id IN (0, 1, 2, 3, 4)) t
          |WHERE rn <= 3 ORDER BY query_id, sim DESC, cand_id""".stripMargin),
    Query("embedding_near_dup", (s, d) =>
      Similarity.embeddingNearDupExact(Tables.embeddings(s, d), maxId = 300L, threshold = 0.4)
        .orderBy("id_a", "id_b"),
      () =>
        """SELECT id_a, id_b, sim FROM (
          |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |(ROUND(LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) + 0.0) AS sim
          |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          |WHERE a.vec_id < 300 AND b.vec_id < 300) t
          |WHERE sim >= 0.4 ORDER BY id_a, id_b""".stripMargin),
    // linear keep-filter (the 100 TB embedding-dedup path — bucket-min
    // election, no pair materialization; pairs audit is the LSH query)
    Query("embedding_dedup_keep", (s, d) =>
      Similarity.embeddingDedupKeep(Tables.embeddings(s, d), dim = 64)
        .orderBy("vec_id"), () => PortableOracles.embeddingDedupKeepSql),
    Query("embedding_near_dup_lsh", (s, d) =>
      Similarity.embeddingNearDupLsh(Tables.embeddings(s, d), dim = 64,
          threshold = 0.35)
        .orderBy("id_a", "id_b"), () => PortableOracles.embeddingNearDupLshSql),
    // [r17] the LSH dedup tier self-measured: predicted pairs vs exact
    // all-pairs truth on the bounded slice — precision is structurally
    // 1.0 (the verify stage), so the row measures band RECALL as exact
    // counts + two single divisions (no float-sum hazard).
    Query("lsh_pair_eval", (s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.pairEval(
        Similarity.embeddingNearDupLsh(e, dim = 64, threshold = 0.35)
          .filter(col("id_a") < 300L && col("id_b") < 300L),
        Similarity.embeddingNearDupExact(e, maxId = 300L, threshold = 0.35))
    }, () => PortableOracles.lshPairEvalSql),
    Query("ann_ivf_topk", (s, d) =>
      Similarity.ivfTopKCached(Tables.embeddings(s, d), d, Seq(0L, 1L, 2L, 3L, 4L), k = 3, nprobe = 3)
        .orderBy(col("query_id"), col("sim").desc, col("cand_id")),
      () => PortableOracles.annIvfTopkSql, RegistryBacked),
    // [r16] tombstone-aware retrieval: a streamed on-disk index with a
    // deterministic delete set (vec_id % 10 = 3) queried through the live
    // view — the anti-join sits BELOW the per-probe top-k, so k refills
    // from live vectors; probe 3 is itself deleted and still queries
    // (a query vector is not a result). Oracle: exact-IVF replica with
    // the same NOT-deleted predicate on the candidate side.
    Query("ann_ivf_topk_live", (s, d) => {
      val e = Tables.embeddings(s, d)
      val cents = Similarity.trainedCentroids(e, d)
      val idxPath = "/tmp/graft-ivf-liveindex/" + d.replaceAll("[^A-Za-z0-9.]", "_")
      Similarity.ensureBuilt(idxPath) {
        streaming.EmbeddingIndexStream.applyBatch(e, 0L, cents, idxPath)
        streaming.EmbeddingIndexStream.tombstone(s,
          e.filter(col("vec_id") % 10 === 3).select("vec_id"), 0L, idxPath)
      }
      streaming.EmbeddingIndexStream.ivfTopKIndexedLive(s, idxPath, cents,
          gateProbes(e), k = 3, nprobe = 3)
        .orderBy(col("query_id"), col("sim").desc, col("cand_id"))
    }, () => PortableOracles.annIvfTopkLiveSql, RegistryBacked),
    // [r17] point-in-time (as-of) retrieval: a streamed two-batch index
    // (batch 0 = even ids, batch 1 = odd) with per-batch tombstones
    // (batch 0 deletes %10==2, batch 1 deletes %10==4), queried AS OF
    // batch 0 — only batch-0 vectors are visible, the batch-0 delete
    // applies, and the batch-1 delete does NOT (ids %10==4 are even and
    // must still be retrievable). The batch bound is a partition filter:
    // the read opens only the visible batch dirs. Oracle: exact-IVF
    // replica with the as-of candidate predicate.
    Query("ann_ivf_topk_asof", (s, d) => {
      val e = Tables.embeddings(s, d)
      val cents = Similarity.trainedCentroids(e, d)
      val idxPath = "/tmp/graft-ivf-asofindex/" + d.replaceAll("[^A-Za-z0-9.]", "_")
      Similarity.ensureBuilt(idxPath) {
        streaming.EmbeddingIndexStream.applyBatch(
          e.filter(col("vec_id") % 2 === 0), 0L, cents, idxPath)
        streaming.EmbeddingIndexStream.applyBatch(
          e.filter(col("vec_id") % 2 === 1), 1L, cents, idxPath)
        streaming.EmbeddingIndexStream.tombstone(s,
          e.filter(col("vec_id") % 10 === 2).select("vec_id"), 0L, idxPath)
        streaming.EmbeddingIndexStream.tombstone(s,
          e.filter(col("vec_id") % 10 === 4).select("vec_id"), 1L, idxPath)
      }
      streaming.EmbeddingIndexStream.ivfTopKIndexedAsOf(s, idxPath, cents,
          gateProbes(e), k = 3, nprobe = 3, asOfBatch = 0L)
        .orderBy(col("query_id"), col("sim").desc, col("cand_id"))
    }, () => PortableOracles.annIvfTopkAsofSql, RegistryBacked),
    // [r17] corpus→index synchronization: v1 = the whole embeddings table
    // (batch 0); v2 removes ids %7==0 and adds re-keyed copies of ids
    // %11==0 (vec_id + 1e6 — new ids, the changed-vector rollout path);
    // syncWithCorpus diffs the snapshots and appends/tombstones under ONE
    // maintenance batch. The live query then serves exactly v2: probe 0
    // (%7==0) is itself deleted and still queries, and its re-keyed clone
    // (id 1000000, identical vector) legitimately appears with sim 1.0.
    // Oracle: IVF replica with the quantizer trained on v1 and the
    // candidate set rebuilt as v2 in SQL.
    Query("ann_ivf_topk_synced", (s, d) => {
      val e = Tables.embeddings(s, d)
      val cents = Similarity.trainedCentroids(e, d)
      val v1 = e.select(col("vec_id"), col("embedding"))
      val v2 = e.filter(col("vec_id") % 7 =!= 0)
        .select(col("vec_id"), col("embedding"))
        .unionByName(e.filter(col("vec_id") % 11 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      val path = "/tmp/graft-ivf-syncindex/" + d.replaceAll("[^A-Za-z0-9.]", "_")
      Similarity.ensureBuilt(path) {
        streaming.EmbeddingIndexStream.applyBatch(v1, 0L, cents, path)
        streaming.EmbeddingIndexStream.syncWithCorpus(s, path, cents, v1, v2, 1L)
      }
      streaming.EmbeddingIndexStream.ivfTopKIndexedLive(s, path, cents,
          gateProbes(e), k = 3, nprobe = 3)
        .orderBy(col("query_id"), col("sim").desc, col("cand_id"))
    }, () => PortableOracles.annIvfTopkSyncedSql, RegistryBacked),
    // [r18] in-place vector UPDATE (same-id re-insert): ids %13==0 are
    // re-embedded (vector reversed) and synced as update = append@1 +
    // ceiling-0 tombstone — a tombstone now hides only generations
    // ingested at or before its ceiling, so the fresh append survives it
    // while a REPLAY of the old ingest batch stays hidden (replay safety
    // kept; the round-17 re-key-or-rebuild contract retired). One row
    // serves both halves of the contract: the LIVE view returns the NEW
    // vectors, the AS-OF batch-0 view still returns the OLD ones (the
    // update and its tombstone are invisible at that point in time).
    // Probes query with their v1 vectors in both views.
    Query("ann_ivf_topk_updated", (s, d) => {
      val e = Tables.embeddings(s, d)
      val cents = Similarity.trainedCentroids(e, d)
      val v1 = e.select(col("vec_id"), col("embedding"))
      val v2 = e.select(col("vec_id"),
        when(col("vec_id") % 13 === 0, reverse(col("embedding")))
          .otherwise(col("embedding")).as("embedding"))
      val path = "/tmp/graft-ivf-updindex/" + d.replaceAll("[^A-Za-z0-9.]", "_")
      Similarity.ensureBuilt(path) {
        streaming.EmbeddingIndexStream.applyBatch(v1, 0L, cents, path)
        streaming.EmbeddingIndexStream.syncWithCorpus(s, path, cents, v1, v2, 1L)
      }
      val live = streaming.EmbeddingIndexStream.ivfTopKIndexedLive(s, path,
          cents, gateProbes(e), k = 3, nprobe = 3)
        .withColumn("view", lit("live"))
      val asof = streaming.EmbeddingIndexStream.ivfTopKIndexedAsOf(s, path,
          cents, gateProbes(e), k = 3, nprobe = 3, asOfBatch = 0L)
        .withColumn("view", lit("asof0"))
      live.unionByName(asof)
        .select("view", "query_id", "cand_id", "sim")
        .orderBy(col("view"), col("query_id"), col("sim").desc, col("cand_id"))
    }, () => PortableOracles.annIvfTopkUpdatedSql, RegistryBacked),
    // [r18] the in-place update COMPOSED with the residual tier — the
    // review-found rerank hazard gate-verified end-to-end: both
    // generations of an updated id live in the exact dir, and the rerank
    // stage must resolve ceilings + last-writer (scopeExact) or it could
    // rescore the pool's new-generation candidate with the superseded
    // vector. Oracle: the exact-IVF replica over the UPDATED candidate
    // set (the rerank restores exact scores by containment).
    Query("ann_ivf_topk_updated_pqr", (s, d) => {
      val e = Tables.embeddings(s, d)
      val cents = Similarity.trainedCentroids(e, d)
      val (anchors, rcb) = Pq.trainedResidualModel(e, cents, d)
      val base = "/tmp/graft-ivf-updpqr/" + d.replaceAll("[^A-Za-z0-9.]", "_")
      val exDir = s"$base/exact"; val pqrDir = s"$base/pqr"
      val newVecs = e.filter(col("vec_id") % 13 === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      Similarity.ensureBuilt(base) {
        streaming.EmbeddingIndexStream.applyBatch(
          e.select(col("vec_id"), col("embedding")), 0L, cents, exDir,
          pqrLoaded = Some((pqrDir, anchors, rcb)))
        streaming.EmbeddingIndexStream.applyBatch(newVecs, 1L, cents, exDir,
          pqrLoaded = Some((pqrDir, anchors, rcb)))
        streaming.EmbeddingIndexStream.tombstoneTiers(s,
          newVecs.select("vec_id"), 1L, Seq(exDir, pqrDir),
          ceiling = Some(0L))
      }
      streaming.EmbeddingIndexStream.ivfTopKPqResidualLive(s, pqrDir, exDir,
          cents, anchors, rcb, gateProbes(e), k = 3, nprobe = 3, poolMult = 40)
        .orderBy(col("query_id"), col("sim").desc, col("cand_id"))
    }, () => PortableOracles.annIvfTopkUpdatedPqrSql, RegistryBacked),
    // [r18] the RECLUSTER lifecycle verb oracle-gated (previously
    // spec-only): stream the corpus in, retrain the quantizer on the live
    // set (two deterministic Lloyd iterations seeded from the serving
    // quantizer — decimal-summed means, empty cells keep their centroid),
    // atomically swap the re-assigned layout, then query through
    // indexQuantizer (the co-located retrained centroids). The oracle
    // replays BOTH Lloyd rounds with the same decimal-exact mean
    // arithmetic and probes the re-assigned layout.
    Query("ann_ivf_topk_reclustered", (s, d) => {
      val e = Tables.embeddings(s, d)
      val cents0 = Similarity.trainedCentroids(e, d)
      val path = "/tmp/graft-ivf-reclindex/" + d.replaceAll("[^A-Za-z0-9.]", "_")
      Similarity.ensureBuilt(path) {
        // clear first: reclusterIndex leaves a co-located quantizer, and a
        // rebuild over last session's dir would seed Lloyd from THAT (a
        // second recluster) instead of the label means the oracle replays
        val f = graft.functions.FsUtils.fs(s, path)
        f.delete(new org.apache.hadoop.fs.Path(path), true)
        streaming.EmbeddingIndexStream.applyBatch(e, 0L, cents0, path)
        streaming.EmbeddingIndexStream.reclusterIndex(s, path, cents0)
        ()
      }
      val cents = streaming.EmbeddingIndexStream.indexQuantizer(s, path, cents0)
      streaming.EmbeddingIndexStream.ivfTopKIndexedLive(s, path, cents,
          gateProbes(e), k = 3, nprobe = 3)
        .orderBy(col("query_id"), col("sim").desc, col("cand_id"))
    }, () => PortableOracles.annIvfTopkReclusteredSql, RegistryBacked),
    // [r17] metadata filter composed with the RESIDUAL tier — the last
    // cell of the filter × {exact, int8/ADC, residual} matrix: the
    // lang='en' allowed set semi-joins the residual-code candidate read
    // below the per-probe top-k, exact rerank restores exact scores.
    // Oracle: the exact filtered-IVF replica (same containment contract
    // as the other scoped rerank rows; PqSpec pins the scoped pools).
    Query("ann_ivf_topk_filtered_pqr", (s, d) => {
      val e = Tables.embeddings(s, d)
      val cents = Similarity.trainedCentroids(e, d)
      val (anchors, rcb) = Pq.trainedResidualModel(e, cents, d)
      val pqrPath = "/tmp/graft-ivf-pqrindex/" + d.replaceAll("[^A-Za-z0-9.]", "_")
      val ePath = "/tmp/graft-ivf-index/" + d.replaceAll("[^A-Za-z0-9.]", "_")
      Similarity.ensureBuilt(pqrPath)(
        Pq.buildIndexPqResidual(e, cents, anchors, rcb, pqrPath))
      Similarity.ensureBuilt(ePath)(Similarity.buildIndex(e, cents, ePath))
      Pq.ivfTopKPqResidualRerank(s, pqrPath, ePath, cents, anchors, rcb,
          gateProbes(e), k = 3, nprobe = 3, poolMult = 40,
          scope = Pq.CandidateScope(allowed = Some(Tables.documents(s, d)
            .filter(col("lang") === "en").select(col("doc_id")))))
        .orderBy(col("query_id"), col("sim").desc, col("cand_id"))
    }, () => PortableOracles.annIvfTopkFilteredSql, RegistryBacked),
    // [r16] metadata-filtered retrieval: same IVF probe, candidates
    // semi-joined to documents.lang = 'en' BEFORE the per-probe top-k (k
    // fills from the filtered pool — score-then-filter would under-fill)
    Query("ann_ivf_topk_filtered", (s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfTopKFiltered(e, Similarity.trainedCentroids(e, d),
          Seq(0L, 1L, 2L, 3L, 4L), k = 3, nprobe = 3,
          allowedIds = Tables.documents(s, d)
            .filter(col("lang") === "en").select(col("doc_id")))
        .orderBy(col("query_id"), col("sim").desc, col("cand_id"))
    }, () => PortableOracles.annIvfTopkFilteredSql, RegistryBacked),
    // same contract against the cluster-partitioned ON-DISK index (built
    // idempotently under /tmp per sf dir): the candidate scan lists and
    // opens only the probed `cluster=` directories — partition pruning is
    // the plan, not a comment (SimilaritySpec asserts PartitionFilters)
    Query("ann_ivf_topk_indexed", (s, d) => {
      val cents = Similarity.trainedCentroids(Tables.embeddings(s, d), d)
      val path = "/tmp/graft-ivf-index/" + d.replaceAll("[^A-Za-z0-9.]", "_")
      Similarity.ensureBuilt(path)(Similarity.buildIndex(Tables.embeddings(s, d), cents, path))
      Similarity.ivfTopKIndexed(s, path, cents, Seq(0L, 1L, 2L, 3L, 4L), k = 3, nprobe = 3)
        .orderBy(col("query_id"), col("sim").desc, col("cand_id"))
    }, () => PortableOracles.annIvfTopkSql, RegistryBacked),
    // int8-quantized index twin: same layout, byte vectors, integer cosine
    // kernel — the oracle replays max-abs quantization and the exact
    // integer arithmetic in SQL (values are small exact integers in
    // doubles, so both engines compute bit-identical scores)
    Query("ann_ivf_topk_quantized", (s, d) => {
      val e = Tables.embeddings(s, d)
      val cents = Similarity.trainedCentroids(e, d)
      val path = "/tmp/graft-ivf-qindex/" + d.replaceAll("[^A-Za-z0-9.]", "_")
      Similarity.ensureBuilt(path)(Similarity.buildIndexQuantized(e, cents, path))
      val probeIds = Seq(0L, 1L, 2L, 3L, 4L)
      val vecs = e.filter(col("vec_id").isin(probeIds: _*))
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
      Similarity.ivfTopKIndexedQuantized(s, path, cents, vecs, k = 3, nprobe = 3)
        .orderBy(col("query_id"), col("sim").desc, col("cand_id"))
    }, () => PortableOracles.annIvfTopkQuantizedSql, RegistryBacked),
    // two-stage retrieval: int8 pool scan (5.9× less hot-storage read) →
    // exact-cosine rerank of the ≤ poolMult·k pool rows — exact scores at
    // quantized read volume; the oracle replays BOTH stages
    Query("ann_ivf_topk_rerank", (s, d) => {
      val e = Tables.embeddings(s, d)
      val cents = Similarity.trainedCentroids(e, d)
      val qPath = "/tmp/graft-ivf-qindex/" + d.replaceAll("[^A-Za-z0-9.]", "_")
      val ePath = "/tmp/graft-ivf-index/" + d.replaceAll("[^A-Za-z0-9.]", "_")
      Similarity.ensureBuilt(qPath)(Similarity.buildIndexQuantized(e, cents, qPath))
      Similarity.ensureBuilt(ePath)(Similarity.buildIndex(e, cents, ePath))
      val probeIds = Seq(0L, 1L, 2L, 3L, 4L)
      val vecs = e.filter(col("vec_id").isin(probeIds: _*))
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
      Similarity.ivfTopKQuantizedRerank(s, qPath, ePath, cents, vecs,
          k = 3, nprobe = 3, poolMult = 4)
        .orderBy(col("query_id"), col("sim").desc, col("cand_id"))
    }, () => PortableOracles.annIvfTopkRerankSql, RegistryBacked),
    // product-quantized two-stage retrieval: 32×-compressed index chooses
    // the pool, exact rerank restores exact scores. The pool is sized so
    // it provably contains the exact IVF top-k on this corpus (PqSpec +
    // tools/PqProbe containment sweep), making the output identical to
    // the exact IVF query — which is what the oracle replays (trained PQ
    // codebooks are 3 Lloyd iterations × 8 subspaces, not SQL-expressible)
    // ONE body for both PQ retrieval gate forms (poolMult/nprobe and the
    // recall contract live in one place; the adc flag is the only diff)
    Query("ann_ivf_topk_pq", (s, d) => pqRerankGate(s, d, adc = false),
      // PQ rerank returns exactly the exact-IVF top-k (pool containment
      // measured per SF) — the oracle is the exact IVF replica.
      // REGENERATION RISK (unlike the int8 tier, whose oracle replays its
      // own two-stage pipeline): this equivalence rests on the measured
      // poolMult=40 pool containing the exact top-k on the CURRENT testdata.
      // If the driver regenerates /root/testdata (the round-9 lesson),
      // PqSpec's "pool contains exact top-k" containment test is the early
      // warning — it fails before the gate does. If it fires, re-measure
      // poolMult with tools/PqProbe and raise it here + in the spec.
      () => PortableOracles.annIvfTopkSql, RegistryBacked),
    // same two-stage retrieval with the pool scored by the LUT-ADC kernel
    // (PqAdcCosine: per-query lookup tables, no decode) — spec-pinned
    // equivalent to decode-then-dot, and the exact rerank restores
    // oracle-expressible scores, so the exact-IVF oracle applies verbatim
    Query("ann_ivf_topk_adc", (s, d) => pqRerankGate(s, d, adc = true),
      () => PortableOracles.annIvfTopkSql, RegistryBacked),
    // [r16] residual (IVFADC) tier: codes quantize unit(v) - anchor(cluster)
    // instead of unit(v) — the same 8 bits/subspace on a much tighter ball
    // (PqSpec pins reconstruction MSE strictly below plain PQ; PqProbe pins
    // the larger containment margin). Same pool-then-exact-rerank shape,
    // same exact-IVF oracle.
    Query("ann_ivf_topk_pqr", (s, d) => pqrRerankGate(s, d),
      () => PortableOracles.annIvfTopkSql, RegistryBacked),
    // [r17] deletes propagated through the QUANTIZED tiers: a streamed
    // exact+residual-PQ index pair with the same deterministic delete set
    // as ann_ivf_topk_live (vec_id % 10 = 3) tombstoned across BOTH tier
    // dirs, queried through the residual pool + exact rerank — the
    // tombstone anti-join sits below the per-probe top-k on the CODE read,
    // so the pool fills from live codes and a deleted vector cannot
    // resurface through the compressed tier (the round-16 lifecycle gap).
    // Oracle: exact-IVF replica with the NOT-deleted candidate predicate.
    Query("ann_ivf_topk_pqr_live", (s, d) => {
      val e = Tables.embeddings(s, d)
      val cents = Similarity.trainedCentroids(e, d)
      val (anchors, rcb) = Pq.trainedResidualModel(e, cents, d)
      val base = "/tmp/graft-ivf-pqrlive/" + d.replaceAll("[^A-Za-z0-9.]", "_")
      val exDir = s"$base/exact"; val pqrDir = s"$base/pqr"
      Similarity.ensureBuilt(base) {
        streaming.EmbeddingIndexStream.applyBatch(e, 0L, cents, exDir,
          pqrLoaded = Some((pqrDir, anchors, rcb)))
        streaming.EmbeddingIndexStream.tombstoneTiers(s,
          e.filter(col("vec_id") % 10 === 3).select("vec_id"), 0L,
          Seq(exDir, pqrDir))
      }
      streaming.EmbeddingIndexStream.ivfTopKPqResidualLive(s, pqrDir, exDir,
          cents, anchors, rcb, gateProbes(e), k = 3, nprobe = 3, poolMult = 40)
        .orderBy(col("query_id"), col("sim").desc, col("cand_id"))
    },
      // the scoped (delete/filter) rerank rows return exactly the scoped
      // exact-IVF top-k (pool containment — same regeneration-risk note as
      // ann_ivf_topk_pq; PqSpec pins containment per scope)
      () => PortableOracles.annIvfTopkLiveSql, RegistryBacked),
    // [r17] metadata filter composed with the QUANTIZED tier: the lang='en'
    // allowed set semi-joins the ADC candidate read below the per-probe
    // top-k (pool fills from the filtered candidates), exact rerank
    // restores exact scores — the production "filtered + compressed"
    // retrieval shape. Oracle: the exact filtered-IVF replica.
    Query("ann_ivf_topk_filtered_adc", (s, d) => {
      val e = Tables.embeddings(s, d)
      val cents = Similarity.trainedCentroids(e, d)
      val cb = Pq.trainedCodebooks(e, d)
      val pqPath = "/tmp/graft-ivf-pqindex/" + d.replaceAll("[^A-Za-z0-9.]", "_")
      val ePath = "/tmp/graft-ivf-index/" + d.replaceAll("[^A-Za-z0-9.]", "_")
      Similarity.ensureBuilt(pqPath)(Pq.buildIndexPq(e, cents, cb, pqPath))
      Similarity.ensureBuilt(ePath)(Similarity.buildIndex(e, cents, ePath))
      Pq.ivfTopKPqRerank(s, pqPath, ePath, cents, cb, gateProbes(e),
          k = 3, nprobe = 3, poolMult = 40, adc = true,
          scope = Pq.CandidateScope(allowed = Some(Tables.documents(s, d)
            .filter(col("lang") === "en").select(col("doc_id")))))
        .orderBy(col("query_id"), col("sim").desc, col("cand_id"))
    }, () => PortableOracles.annIvfTopkFilteredSql, RegistryBacked),
    // [r19] image-feature → ANN composition (VERDICT r18 item 3): PNG
    // payloads genuinely DECODED (javax.imageio), reduced to the 16-dim
    // integer cell-sum feature vector, indexed into a cluster-partitioned
    // IVF layout and retrieved by EXACT squared-L2 (Long arithmetic at
    // every stage — assignment, probes, scoring — zero float hazard). The
    // oracle replays the entire pipeline from the synthesis arithmetic:
    // pixel hash → luma → cell sums → seed centroids → assignment →
    // probes → top-k.
    Query("ann_image_topk", (s, d) => ImageAnn.gate(s, d),
      () => ImageAnn.gateSql(), RegistryBacked),
    // [r20] the image tier's LIFECYCLE row (verdict r19 item 2): the same
    // churn event as the lexical/embedding live rows (doc %10==3 opted
    // out, doc %13==0's image replaced) cascaded into the image index via
    // the SHARED EmbeddingIndexStream machinery (streamed batches with
    // src_batch, one per-row-ceiling tombstone batch, compaction purge),
    // served by the tombstone-aware exact-Long reader. The oracle replays
    // BOTH raster generations from the synthesis arithmetic; it never sees
    // the index, only the corpus the index claims to serve.
    Query("ann_image_topk_live", (s, d) => ImageAnn.gateLive(s, d),
      () => ImageAnn.gateLiveSql(), RegistryBacked),
    // [r20] point-in-time reads on the image tier — the as-of verb the
    // embedding index has had since r17, at array<long> type: one row pins
    // live (v2 rasters, churn applied) AND as-of batch 0 (the original
    // corpus with the original queries) on an uncompacted fixture. With
    // this row every index family (doc-lex, passage-lex, embedding, image)
    // serves build + churn + as-of through the same log discipline.
    Query("ann_image_topk_asof", (s, d) => ImageAnn.gateAsof(s, d),
      () => ImageAnn.gateAsofSql(), RegistryBacked),
    // [r20] the K-GROWTH verb gated end to end: reseedIndex grows the
    // coarse quantizer 8 → 16 seed vectors (the measured alpha-0.41 cure —
    // K ∝ √N keeps per-list candidates flat) and atomically re-clusters;
    // the serve resolves the co-located quantizer and must equal a fresh
    // 16-seed IVF over the live image corpus (the oracle's replay).
    Query("ann_image_topk_reseeded", (s, d) => ImageAnn.gateReseeded(s, d),
      () => ImageAnn.gateReseededSql(), RegistryBacked),
    // [r20] the image tier's CORPUS-SYNC verb: the same churn event
    // delivered as a snapshot diff (old decode vs live decode) through
    // syncImageCorpus — added/removed/changed resolved to one append +
    // one per-row-ceiling tombstone batch. The diff must land bitwise on
    // the hand-built live fixture's state, so the oracle is the live
    // replica verbatim. Completes the sync column of the lifecycle matrix.
    Query("ann_image_topk_synced", (s, d) => ImageAnn.gateSynced(s, d),
      () => ImageAnn.gateLiveSql(), RegistryBacked),
    // BM25 keyword retrieval: lexical top-k — two narrow passes + one
    // broadcast stats row + TakeOrdered; nothing shuffles but the result
    Query("bm25_topk", (s, d) => TextAnalysis.bm25Topk(s, d), () => TextAnalysis.bm25TopkSql),
    // [r17] BM25 served from the MAINTAINED lexical index: per-term df and
    // corpus totals read from the LexStatsStream-folded stats table (built
    // idempotently under /tmp per sf dir), entering the score as literals
    // through the SAME expression tree as bm25_topk — O(terms) stat
    // lookups, no per-query corpus stats aggregate. Oracle: the bm25_topk
    // replica (served ≡ batch bitwise whenever the maintained stats equal
    // the batch aggregate — LexStatsStreamSpec pins the fold).
    Query("bm25_topk_served", (s, d) =>
      streaming.LexStatsStream.bm25Topk(s, lexIndexBuilt(s, d), Tables.documents(s, d)),
      () => TextAnalysis.bm25TopkSql, RegistryBacked),
    // [r18] BM25 served ENTIRELY from the maintained lexical index — stats
    // AND term frequencies come from the index (the query terms' POSTING
    // lists, partition-pruned to their pbucket dirs); the corpus is never
    // scanned or tokenized at query time. This retires the last
    // O(corpus)-per-query serving path: cost is O(postings of the query
    // terms), the EmbeddingIndexStream nprobe-read treatment applied to
    // text. Oracle: the bm25_topk chain restricted to docs matching ≥ 1
    // query term (inverted-index semantics; identical to bm25_topk here —
    // every gate SF has ≥ 20 strictly-positive candidates).
    Query("bm25_topk_indexed", (s, d) =>
      streaming.LexStatsStream.bm25TopkIndexed(s, lexIndexBuilt(s, d)),
      () => TextAnalysis.bm25TopkIndexedSql, RegistryBacked),
    // [r18] PHRASE query over the positional postings: term i's positions
    // shift by −i and intersect per doc (the classical positional-index
    // algorithm) — reads only the phrase terms' buckets, never the text.
    // Oracle: a direct token-level scan (first-principles truth), exact
    // integer match counts.
    Query("phrase_match", (s, d) => streaming.LexStatsStream.phraseMatch(s, lexIndexBuilt(s, d)),
      () => TextAnalysis.phraseMatchSql(), RegistryBacked),
    // [r18] proximity (NEAR/3) query over the positional postings: docs
    // where the two terms occur within 3 tokens of each other, with the
    // minimum observed distance — nested position-pair mins over the two
    // terms' bucket-pruned postings, never the text. Exact integers.
    Query("proximity_match", (s, d) =>
      streaming.LexStatsStream.proximityMatch(s, lexIndexBuilt(s, d)),
      () => TextAnalysis.proximityMatchSql(), RegistryBacked),
    // [r18] search-result SNIPPETS: the indexed BM25 top-5 chooses the
    // ids (postings only), then exactly those 5 rows are read from the
    // row store and the earliest window of 16 tokens maximizing
    // query-term hits is extracted — exact integer window math + a list
    // slice, replayed by the oracle from first principles.
    Query("snippet_extract", (s, d) => {
      streaming.LexStatsStream.snippets(s, lexIndexBuilt(s, d),
        Tables.documents(s, d))
    }, () => TextAnalysis.snippetExtractSql(), RegistryBacked),
    // [r18] faceted search counts: candidate ids from the query terms'
    // postings, one semi-join to the column-pruned (doc_id, lang, source)
    // dim projection, one grouped count — "42 results in lang=en".
    Query("facet_counts", (s, d) => {
      streaming.LexStatsStream.facetCounts(s, lexIndexBuilt(s, d),
        Tables.documents(s, d).select("doc_id", "lang", "source"))
    }, () => TextAnalysis.facetCountsSql(), RegistryBacked),
    // [r19] the lexical DELETE/UPDATE lifecycle (VERDICT r18 item 1): v1 =
    // the whole corpus (batch 0); v2 REMOVES doc_id%10==3 and EDITS
    // doc_id%13==0 (two query terms appended — tf, df AND dl all shift);
    // syncLexCorpus diffs the snapshots under ONE maintenance batch
    // (negative stat addends from the old text + ceiling tombstones +
    // same-batch re-ingest), then BOTH logs COMPACT — the physical purge
    // and the correction fold are inside the gate. The indexed read over
    // the maintained state must equal a one-shot BM25 over the live
    // corpus, which is what the oracle replays over the v2 CTE.
    Query("bm25_topk_indexed_live", (s, d) =>
      streaming.LexStatsStream.bm25TopkIndexed(s, lexLiveIndexBuilt(s, d)),
      () => TextAnalysis.bm25TopkIndexedLiveSql, RegistryBacked),
    // [r20] the bucket-split maintenance verb IN the gate path: the same
    // churned+compacted index re-bucketed 64 → 256 (force path). The hash,
    // the dir layout, the .bucketmeta count, and the pruned read's bucket
    // set all changed; the ranking must be bitwise the live serve — the
    // oracle replays the v2 corpus like bm25_topk_indexed_live.
    Query("bm25_topk_indexed_rebucketed", (s, d) =>
      streaming.LexStatsStream.bm25TopkIndexed(s, lexRebucketIndexBuilt(s, d)),
      () => TextAnalysis.bm25TopkIndexedLiveSql, RegistryBacked),
    // [r19] phrase serving over the LIVE positional postings: a deleted
    // doc's phrase occurrences disappear, an edited doc's postings come
    // from its new generation only (no tf doubling). Oracle: the
    // first-principles token scan over the v2 corpus.
    Query("phrase_match_live", (s, d) =>
      streaming.LexStatsStream.phraseMatch(s, lexLiveIndexBuilt(s, d)),
      () => TextAnalysis.phraseMatchSql(
        docsRel = "v2", prelude = TextAnalysis.lexLiveV2Cte), RegistryBacked),
    // [r19] proximity (NEAR/3) over the live positional postings — same
    // lifecycle, same first-principles v2 oracle.
    Query("proximity_match_live", (s, d) =>
      streaming.LexStatsStream.proximityMatch(s, lexLiveIndexBuilt(s, d)),
      () => TextAnalysis.proximityMatchSql(
        docsRel = "v2", prelude = TextAnalysis.lexLiveV2Cte), RegistryBacked),
    // [r19] snippets over the live set: the live indexed top-5 chooses the
    // ids, the point reads hit the LIVE row store (v2 text — an edited
    // doc's snippet must come from its new text).
    Query("snippet_extract_live", (s, d) => {
      streaming.LexStatsStream.snippets(s, lexLiveIndexBuilt(s, d),
        TextAnalysis.lexLiveV2Of(Tables.documents(s, d)).select("doc_id", "text"))
    },
      () => TextAnalysis.snippetExtractSql(
        docsRel = "v2", prelude = TextAnalysis.lexLiveV2Cte), RegistryBacked),
    // [r19] facet counts over the live candidate set: deleted docs leave
    // their facet buckets, edited docs stay (dims unchanged).
    Query("facet_counts_live", (s, d) => {
      streaming.LexStatsStream.facetCounts(s, lexLiveIndexBuilt(s, d),
        TextAnalysis.lexLiveV2Of(Tables.documents(s, d))
          .select("doc_id", "lang", "source"))
    },
      () => TextAnalysis.facetCountsSql(
        docsRel = "v2", prelude = TextAnalysis.lexLiveV2Cte), RegistryBacked),
    // [r19] point-in-time LEXICAL reads — the as-of verb the vector index
    // grew in r17, on the lexical logs: ONE row pins both halves (the
    // ann_ivf_topk_updated pattern): the LIVE view serves v2 (delete +
    // edit applied) while the AS-OF batch-0 view still serves v1 — stats
    // batches ≤ 0 (the v2 corrections invisible), posting rows with
    // src_batch ≤ 0, tombstones committed ≤ 0 (none). Runs on an
    // UNCOMPACTED fixture: compaction collapses the per-batch addends and
    // purges hidden generations, so as-of history ends at the folded
    // horizon (the vector side's documented caveat, shared).
    Query("bm25_topk_indexed_asof", (s, d) => {
      val dir = lexLiveRawIndexBuilt(s, d)
      val live = streaming.LexStatsStream.bm25TopkIndexed(s, dir)
        .withColumn("view", lit("live"))
      val asof = streaming.LexStatsStream.bm25TopkIndexedAsOf(s, dir, 0L)
        .withColumn("view", lit("asof0"))
      live.unionByName(asof)
        .select("view", "doc_id", "bm25")
        .orderBy(col("view"), col("bm25").desc, col("doc_id"))
    }, () => TextAnalysis.bm25TopkIndexedLiveAsofSql(), RegistryBacked),
    // [r19] PASSAGE retrieval — the RAG serving grain: the corpus is
    // chunked (the chunk_overlap windows), a CHUNK-level lexical index is
    // maintained (pid = doc_id·1000 + chunk_idx), and BM25 serves the
    // top-k passages entirely off its postings — stats, tf, dl all at
    // chunk grain (a long document no longer outscores by mere length;
    // the hit localizes to the window that actually matches). Oracle: the
    // chunk CTE chain feeding the standard BM25 chain.
    Query("bm25_passage_topk", (s, d) => streaming.PassageLex.bm25Topk(s, passageIndexBuilt(s, d)),
      () => Prep.bm25PassageSql(), RegistryBacked),
    // [r20] the passage index carried through the full DELETE/UPDATE
    // lifecycle (verdict r19 item 1 — the chunk grain inherits the same
    // churn bug class the doc grain closed in r19): v1 chunks ingested,
    // the corpus synced to the SAME deterministic v2 fixture the doc-grain
    // live rows use (doc %10==3 removed → every chunk pid retired; doc
    // %13==0 edited → the suffix windows re-chunk in place, earlier
    // windows' pid+text unchanged and never rewritten), both logs
    // compacted so the serve reads purged postings + folded correction
    // stats. Oracle: the chunk CTE chain re-run over the v2 view — the
    // oracle never sees the index, only the corpus it claims to serve.
    Query("bm25_passage_topk_live", (s, d) =>
      streaming.PassageLex.bm25Topk(s, passageLiveIndexBuilt(s, d)),
      () => Prep.bm25PassageSql(
        docsRel = "v2", prelude = TextAnalysis.lexLiveV2Cte), RegistryBacked),
    // [r20] point-in-time PASSAGE reads — the as-of verb at chunk grain,
    // completing the lifecycle symmetry (every verb the doc-grain index
    // has, the RAG serving grain has): ONE row pins both halves on an
    // UNCOMPACTED fixture — the LIVE view serves the v2 chunking (deleted
    // docs' windows gone, edited docs' suffix windows re-scored) while the
    // AS-OF batch-0 view still serves the v1 chunking. The oracle chunks
    // BOTH corpus snapshots and runs two independent BM25 chains.
    Query("bm25_passage_topk_asof", (s, d) => {
      val dir = passageLiveRawIndexBuilt(s, d)
      val live = streaming.PassageLex.bm25Topk(s, dir)
        .withColumn("view", lit("live"))
      val asof = streaming.PassageLex.bm25TopkAsOf(s, dir, 0L)
        .withColumn("view", lit("asof0"))
      live.unionByName(asof)
        .select("view", "doc_id", "chunk_idx", "bm25")
        .orderBy(col("view"), col("bm25").desc, col("doc_id"), col("chunk_idx"))
    }, () => Prep.bm25PassageLiveAsofSql(), RegistryBacked),
    // [r20] the bucket-split verb at PASSAGE grain: rebucketPostings never
    // looks at what a doc_id means, so the chunk index's postings log
    // re-buckets 64 → 256 with the same one-fold + .bucketmeta-in-the-swap
    // discipline — and the served passage ranking must be bitwise invisible
    // to the split (the oracle is the live replica verbatim). Proves the
    // verb is grain-generic, not doc-index-special.
    Query("bm25_passage_topk_rebucketed", (s, d) =>
      streaming.PassageLex.bm25Topk(s, passageRebucketIndexBuilt(s, d)),
      () => Prep.bm25PassageSql(
        docsRel = "v2", prelude = TextAnalysis.lexLiveV2Cte), RegistryBacked),
    // [r20] PHRASE query at passage grain: the positional chunk postings
    // answer "which WINDOW contains the exact phrase" — window-local by
    // construction (a boundary-spanning phrase is the overlap parameter's
    // job); oracle scans the same chunk texts token-level.
    Query("phrase_match_passage", (s, d) =>
      streaming.PassageLex.phraseMatch(s, passageIndexBuilt(s, d)),
      () => Prep.phraseMatchPassageSql(), RegistryBacked),
    // [r20] NEAR/k at passage grain — same grain-blind positional read
    Query("proximity_match_passage", (s, d) =>
      streaming.PassageLex.proximityMatch(s, passageIndexBuilt(s, d)),
      () => Prep.pidDecomposedSql(
        TextAnalysis.proximityMatchSql(docsRel = "chp",
          prelude = Prep.chunkRelPrelude),
        "min_dist", "doc_id, chunk_idx"), RegistryBacked),
    // [r20] more-like-this at passage grain: the seed is a WINDOW (pid 0
    // = doc 0's first window), term election against chunk-grain df/N,
    // ranked over windows with the seed excluded — "find more context
    // like this passage", the RAG feedback verb.
    Query("more_like_this_passage", (s, d) =>
      streaming.PassageLex.moreLikeThis(s, passageIndexBuilt(s, d),
        Tables.documentsById(s, d)),
      () => Prep.pidDecomposedSql(
        TextAnalysis.moreLikeThisSql(docsRel = "chp",
          prelude = Prep.chunkRelPrelude),
        "bm25", "bm25 DESC, doc_id, chunk_idx"), RegistryBacked),
    // [r20] PASSAGE-grain hybrid fusion — the RAG stack's real serving
    // read: BM25 off the maintained chunk index ∪ dense chunk-embedding
    // ranks (each query = its parent doc's first window), exact-integer
    // RRF at pid grain, winners decomposed to (doc_id, chunk_idx). The
    // doc-grain hybrids answer "which document"; this row answers "which
    // WINDOW goes into the prompt".
    Query("hybrid_passage_topk", (s, d) =>
      Retrieval.hybridPassageTopk(s, d, passageIndexBuilt(s, d)),
      () => Prep.hybridPassageTopkSql(), RegistryBacked),
    // [r20] the scale-path twin: the dense leg served off a
    // cluster=-partitioned chunk-embedding IVF (seed-chunk centroids, the
    // embedding tier's buildIndex layout at pid grain) — BOTH fusion legs
    // are now pruned reads (postings buckets × inverted lists); nothing
    // corpus-sized runs at query time. IVF recall is nprobe-bounded, so
    // the ranked lists legitimately differ from the brute-force row; the
    // oracle replays the same restriction.
    Query("hybrid_passage_topk_indexed", (s, d) =>
      Retrieval.hybridPassageTopkIndexed(s, d, passageIndexBuilt(s, d),
        passageDenseIndexBuilt(s, d)),
      () => Prep.hybridPassageTopkSql(denseIvf = true), RegistryBacked),
    // [r20] the LIVE fusion at passage grain: one corpus churn event
    // cascades into BOTH legs — lexical off the churned+compacted chunk
    // index (the bm25_passage_topk_live fixture), dense embedding the v2
    // corpus. The oracle re-runs the whole fusion over the v2 view; the
    // gate proves the RAG serving read is lifecycle-consistent end to end.
    Query("hybrid_passage_topk_live", (s, d) =>
      Retrieval.hybridPassageTopkLive(s, d, passageLiveIndexBuilt(s, d)),
      () => Prep.hybridPassageTopkSql(
        docsRel = "v2", prelude = TextAnalysis.lexLiveV2Cte), RegistryBacked),
    // [r19] index INTROSPECTION — the operational "how big is my index"
    // read every serving deployment monitors: doc/token totals off the
    // corpus row, vocabulary size and posting-row count off the term rows
    // (posting rows = Σ df — derived from the vocabulary-sized stats, no
    // postings scan). Exact integers + one roundz ratio.
    Query("lex_index_stats", (s, d) => {
      val st = streaming.LexStatsStream.currentStats(s, lexIndexBuilt(s, d))
      val corpus = st.filter(col("term") === TextAnalysis.LexCorpusRow)
        .select(col("nd").as("n_docs"), col("dl").as("total_tokens"))
      val vocab = st
        .filter(col("term") =!= TextAnalysis.LexCorpusRow && col("df") > 0)
        .agg(count(lit(1)).as("n_terms"), sum("df").as("posting_rows"))
      corpus.crossJoin(vocab)
        .select(col("n_docs"), col("total_tokens"), col("n_terms"),
          col("posting_rows"),
          graft.functions.ExprUtils.roundz(
            col("total_tokens").cast("double") / col("n_docs").cast("double"), 4)
            .as("avg_dl"))
    },
      () =>
        """WITH td AS (SELECT DISTINCT doc_id, UNNEST(STR_SPLIT(text, ' ')) AS t FROM documents),
          |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
          |      CAST(SUM(LEN(STR_SPLIT(text, ' '))) AS BIGINT) AS total_tokens FROM documents),
          |v AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS n_terms,
          |      CAST(COUNT(*) AS BIGINT) AS posting_rows FROM td)
          |SELECT n_docs, total_tokens, n_terms, posting_rows,
          |  (ROUND(CAST(total_tokens AS DOUBLE) / n_docs, 4) + 0.0) AS avg_dl
          |FROM c, v""".stripMargin, RegistryBacked),
    // [r19] MORE LIKE THIS (relevance feedback): the seed document's top
    // TF-IDF terms (elected with df from the MAINTAINED stats — no corpus
    // df scan) become the query, served off the postings with the seed
    // excluded below the top-k. One seed point read + O(seed terms) stat
    // lookups + the standard O(query-term postings) serve. The oracle
    // elects the same terms from first principles and sums the per-term
    // BM25 components in the same rank order.
    Query("more_like_this", (s, d) =>
      streaming.LexStatsStream.moreLikeThis(s, lexIndexBuilt(s, d),
        Tables.documentsById(s, d)), () => TextAnalysis.moreLikeThisSql(), RegistryBacked),
    // [r20] relevance feedback over the CHURNED index (verdict r19 item
    // 5): term election uses live df/N (a deleted doc's vocabulary no
    // longer boosts idf), the seed point read hits the v2 row store (the
    // seed doc 0 is EDITED in v2, so its tf vector shifts), and the
    // recommendation can never surface a deleted doc — the lifecycle
    // guarantee moreLikeThis lacked when it read the append-only index.
    Query("more_like_this_live", (s, d) =>
      streaming.LexStatsStream.moreLikeThis(s, lexLiveIndexBuilt(s, d),
        TextAnalysis.lexLiveV2Of(Tables.documentsById(s, d))),
      () => TextAnalysis.moreLikeThisSql(
        docsRel = "v2", prelude = TextAnalysis.lexLiveV2Cte), RegistryBacked),
    // [r19] FUZZY term lookup (query understanding): misspelled query terms
    // resolve against the MAINTAINED index vocabulary via the SymSpell
    // deletion-neighborhood candidate join + an exact-Levenshtein verify —
    // never a pairwise vocab×query scan. The fixture covers a deletion, a
    // substitution, an insertion, an exact hit, and a TRANSPOSITION
    // ('scna'→'scan': generated as a candidate through the shared deletion
    // variants, then REJECTED by the verify at distance 2 — both stages
    // load-bearing). Exact strings + integers, zero float hazard.
    Query("fuzzy_term_lookup", (s, d) => Fuzzy.gate(s, lexIndexBuilt(s, d)),
      () => Fuzzy.gateSql(), RegistryBacked),
    // [r20] fuzzy lookup over the CHURNED index (verdict r19 item 5): the
    // vocabulary and df ranks come from the live stats — a term whose df
    // cancelled to zero (every containing doc deleted) can no longer be
    // offered as a correction, and df tie-breaks shift with the live
    // counts. Oracle: the same chain over the v2 vocabulary.
    Query("fuzzy_term_lookup_live", (s, d) => Fuzzy.gate(s, lexLiveIndexBuilt(s, d)),
      () => Fuzzy.gateSql(
        docsRel = "v2", prelude = TextAnalysis.lexLiveV2Cte), RegistryBacked),
    // [r20] FUZZY → CORRECTED RETRIEVAL (verdict r19 item 4): misspelled
    // query terms resolve to their best vocabulary corrections (SymSpell
    // join + exact-Levenshtein verify, (dist, df desc, term) election)
    // and the corrected terms serve the standard indexed BM25 — the
    // query-understanding composition as ONE oracle row, with the
    // election replayed from first principles in SQL and the
    // data-dependent term components summed in rank order.
    Query("bm25_topk_fuzzy", (s, d) => Fuzzy.correctedBm25(s, lexIndexBuilt(s, d)),
      () => Fuzzy.correctedBm25Sql(), RegistryBacked),
    // [r17] hybrid retrieval: per-query BM25 ranked lists (one tf pass over
    // the union of the term sets) ∪ exact-IVF dense top-10 (query ids =
    // probe vector ids), fused with Reciprocal Rank Fusion — the production
    // RAG retrieval shape. The fused score is EXACT scaled-integer
    // arithmetic (rrf_num = Σ lcm(61..70)/(60+rank)), so the gate carries
    // zero cross-engine float hazard; fusion joins ranked LISTS (queries ×
    // depth rows), never the corpus.
    Query("hybrid_topk_rrf", (s, d) => Retrieval.hybridTopkRrf(s, d),
      () => PortableOracles.hybridTopkRrfSql, RegistryBacked),
    // [r18] THREE-retriever hybrid (lexical BM25 ∪ dense-exact IVF ∪
    // dense-QUANTIZED int8 IVF) fused with N-list exact-integer RRF — the
    // production stack shape (sparse + dense + compressed-dense). The
    // per-rank numerators lcm/(c+rank) are Long literals interpolated into
    // both engines (rrfNumerators — no division runs at query time on
    // either side), the fused score a pure Long SUM over the unioned
    // ranked lists.
    Query("hybrid_topk_rrf3", (s, d) => {
      val e = Tables.embeddings(s, d)
      val cents = Similarity.trainedCentroids(e, d)
      val qPath = "/tmp/graft-ivf-qindex/" + d.replaceAll("[^A-Za-z0-9.]", "_")
      Similarity.ensureBuilt(qPath)(Similarity.buildIndexQuantized(e, cents, qPath))
      val probeIds = Retrieval.HybridTermSets.map(_._1)
      val vecs = e.filter(col("vec_id").isin(probeIds: _*))
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
      val lex = Retrieval.bm25RankedPerQuery(Tables.documents(s, d),
        Retrieval.HybridTermSets, Retrieval.HybridL)
      val dense = Similarity.ivfTopKCached(e, d, probeIds,
        k = Retrieval.HybridL, nprobe = 3)
      val quant = Similarity.ivfTopKIndexedQuantized(s, qPath, cents, vecs,
        k = Retrieval.HybridL, nprobe = 3)
      Retrieval.rrfFuseExactN(Seq(lex, dense, quant), Retrieval.HybridK,
          maxRank = Retrieval.HybridL)
        .orderBy("query_id", "rank")
    }, () => PortableOracles.hybridTopkRrf3Sql, RegistryBacked),
    // [r19] proximity as a FUSION retriever (VERDICT r18 item 7): lexical
    // BM25 ∪ dense-exact IVF ∪ PROXIMITY (each query's term pair ranks its
    // co-occurrence docs by min token distance off the maintained
    // positional postings — bucket-pruned reads, never the corpus), fused
    // with the N-list exact-Long RRF. Phrase-adjacent evidence now lifts a
    // doc the other two retrievers each rank mid-list — the "terms near
    // each other beats terms anywhere" ranking signal, as a query.
    Query("hybrid_topk_prox", (s, d) => {
      val lexDir = lexIndexBuilt(s, d)
      val lex = Retrieval.bm25RankedPerQuery(Tables.documents(s, d),
        Retrieval.HybridTermSets, Retrieval.HybridL)
      val prox = Retrieval.proximityRankedPerQuery(
        terms => streaming.LexStatsStream.currentPostingsWithPositions(
          s, lexDir, terms),
        Retrieval.HybridTermSets, Retrieval.HybridL)
      val dense = Similarity.ivfTopKCached(Tables.embeddings(s, d), d,
        Retrieval.HybridTermSets.map(_._1), k = Retrieval.HybridL, nprobe = 3)
      Retrieval.rrfFuseExactN(Seq(lex, dense, prox), Retrieval.HybridK,
          maxRank = Retrieval.HybridL)
        .orderBy("query_id", "rank")
    }, () => PortableOracles.hybridTopkProxSql, RegistryBacked),
    // [r20] LIVE-composed hybrid retrieval (verdict r19 item 3): the
    // lexical leg serves ranked lists off the CHURNED+compacted lexical
    // index (delete + edit applied, indexed read — the corpus nowhere in
    // the path), the dense leg reads the TOMBSTONED live ANN index (the
    // retrieval_eval_live fixture, ceilings composed below the per-probe
    // top-k), and the two fuse through the exact scaled-integer RRF.
    // Proves the whole serving stack is lifecycle-consistent — a deleted
    // doc cannot resurface through EITHER retriever or the fusion.
    Query("hybrid_topk_live", (s, d) => {
      val e = Tables.embeddings(s, d)
      val cents = Similarity.trainedCentroids(e, d)
      val idxPath = "/tmp/graft-ivf-liveindex/" + d.replaceAll("[^A-Za-z0-9.]", "_")
      Similarity.ensureBuilt(idxPath) {
        streaming.EmbeddingIndexStream.applyBatch(e, 0L, cents, idxPath)
        streaming.EmbeddingIndexStream.tombstone(s,
          e.filter(col("vec_id") % 10 === 3).select("vec_id"), 0L, idxPath)
      }
      val lexDir = lexLiveIndexBuilt(s, d)
      // batched lexical leg (round 21 opt): one stats lookup + one
      // postings pass for all three query sets (equivalence spec-pinned)
      val lex = streaming.LexStatsStream.bm25RankedPerQueryIndexed(
        s, lexDir, Retrieval.HybridTermSets, Retrieval.HybridL)
      val probeIds = Retrieval.HybridTermSets.map(_._1)
      val vecs = e.filter(col("vec_id").isin(probeIds: _*))
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
      val dense = streaming.EmbeddingIndexStream.ivfTopKIndexedLive(s,
        idxPath, cents, vecs, k = Retrieval.HybridL, nprobe = 3)
      Retrieval.rrfFuseExactN(Seq(lex, dense), Retrieval.HybridK,
          maxRank = Retrieval.HybridL)
        .orderBy("query_id", "rank")
    }, () => PortableOracles.hybridTopkLiveSql, RegistryBacked),
    // [r17] MMR diversified re-ranking (Carbonell & Goldstein 1998): the
    // IVF top-10 pool greedily re-ranked to k=5 by λ·rel − (1−λ)·max sim
    // to the already-selected set. The greedy loop runs per query inside
    // one cogroup group (bounded by the pool), distributed over queries;
    // candidate-pair sims are built declaratively with the shared round-4
    // kernel. Oracle: the selection unrolled into 5 chained CTE stages.
    Query("mmr_rerank", (s, d) => Retrieval.mmrRerankGate(s, d),
      () => PortableOracles.mmrRerankSql, RegistryBacked),
    // [r17] retrieval-quality evaluation: the IVF retriever scored
    // against brute-force exact ground truth per query — recall@3, MRR,
    // and FIXED-POINT nDCG (integer DCG weights interpolated into both
    // engines; Long sums are summation-order-free where double sums are
    // not). The measurement loop every ANN deployment runs, as a query.
    Query("retrieval_eval", (s, d) => Retrieval.retrievalEvalGate(s, d),
      () => PortableOracles.retrievalEvalSql, RegistryBacked),
    // [r18] the DELETE path's recall self-measured at k=10: approx = the
    // tombstone-aware live read at nprobe 3, truth = the same live read
    // exhaustively probed (nprobe = all clusters ≡ brute force over the
    // live set, spec-pinned) — so the row measures exactly the nprobe
    // loss of the delete-composed tier, through the identical
    // ceiling/last-writer resolution both reads share.
    Query("retrieval_eval_live", (s, d) => {
      val e = Tables.embeddings(s, d)
      val cents = Similarity.trainedCentroids(e, d)
      val idxPath = "/tmp/graft-ivf-liveindex/" + d.replaceAll("[^A-Za-z0-9.]", "_")
      Similarity.ensureBuilt(idxPath) {
        streaming.EmbeddingIndexStream.applyBatch(e, 0L, cents, idxPath)
        streaming.EmbeddingIndexStream.tombstone(s,
          e.filter(col("vec_id") % 10 === 3).select("vec_id"), 0L, idxPath)
      }
      val approx = streaming.EmbeddingIndexStream.ivfTopKIndexedLive(s,
        idxPath, cents, gateProbes(e), k = 10, nprobe = 3)
      val exact = streaming.EmbeddingIndexStream.ivfTopKIndexedLive(s,
        idxPath, cents, gateProbes(e), k = 10, nprobe = cents.size)
      Retrieval.evalTopk(approx, exact, k = 10)
    }, () => PortableOracles.retrievalEvalLiveSql, RegistryBacked),
    // [r17] the int8 tier self-measured: the quantized retriever scored
    // against brute-force exact truth — the STRESS.md recall claims as an
    // oracle-verified queryable metric (quantized scores genuinely differ
    // from exact, so this row measures real quantization loss, unlike the
    // PQ rows whose rerank restores exactness by containment).
    Query("retrieval_eval_quantized", (s, d) => {
      val e = Tables.embeddings(s, d)
      val cents = Similarity.trainedCentroids(e, d)
      val path = "/tmp/graft-ivf-qindex/" + d.replaceAll("[^A-Za-z0-9.]", "_")
      Similarity.ensureBuilt(path)(Similarity.buildIndexQuantized(e, cents, path))
      val approx = Similarity.ivfTopKIndexedQuantized(s, path, cents,
        gateProbes(e), k = 3, nprobe = 3)
      Retrieval.evalTopk(approx,
        Similarity.bruteForceTopK(e, Seq(0L, 1L, 2L, 3L, 4L), 3), k = 3)
    }, () => PortableOracles.retrievalEvalQuantizedSql, RegistryBacked),
    // [r17] HTML text extraction — the first stage of a web-corpus
    // pipeline: strip markup, remove script/style/nav/footer boilerplate
    // (doc-dependent content, so removal is load-bearing), collapse
    // whitespace. One narrow codegen'd regexp chain over the synthesized
    // page (the piiScrub synthesis pattern); the oracle replays synthesis
    // + extraction with the same RE2-compatible patterns.
    Query("html_extract", (s, d) => Prep.htmlExtract(s, d), () => Prep.htmlExtractSql),
    // keyword extraction: per-doc top-5 TF-IDF terms, deterministic ties
    // (rounded score desc, term asc); three linear exchanges, no driver state
    Query("tfidf_topk_terms", (s, d) => TextAnalysis.tfidfTopTermsGate(s, d),
      () => TextAnalysis.tfidfTopTermsSql()),
    // [EXT] multimodal plumbing (meta/resize are narrow → gate-sorted at the
    // base scan, see Tables.documentsById; frames keeps orderBy — it has a
    // join below, so sampling reuses its shuffle instead of re-executing)
    Query("multimodal_meta", (s, d) =>
      Multimodal.extractMeta(Multimodal.mediaFromDocuments(Tables.documentsById(s, d))),
      () =>
        s"""SELECT doc_id,
          |CAST(64 + OCTET_LENGTH(ENCODE(text)) % 577 AS BIGINT) AS width,
          |CAST(32 + ($firstUtf8ByteSql * 3) % 719 AS BIGINT) AS height,
          |CASE OCTET_LENGTH(ENCODE(text)) % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END AS format,
          |CAST(1 + OCTET_LENGTH(ENCODE(text)) % 24 AS BIGINT) AS n_frames
          |FROM documents ORDER BY doc_id""".stripMargin),
    Query("multimodal_frames", (s, d) =>
      Multimodal.sampleFrames(Multimodal.mediaFromDocuments(Tables.documents(s, d)))
        .orderBy("doc_id", "frame_idx"), () => PortableOracles.multimodalFramesSql),
    Query("multimodal_resize", (s, d) =>
      Multimodal.resizeMeta(Multimodal.mediaFromDocuments(Tables.documentsById(s, d))),
      () =>
        s"""WITH m AS (
          |  SELECT doc_id,
          |  CAST(64 + OCTET_LENGTH(ENCODE(text)) % 577 AS BIGINT) AS width,
          |  CAST(32 + ($firstUtf8ByteSql * 3) % 719 AS BIGINT) AS height
          |  FROM documents),
          |s AS (SELECT *, LEAST(1.0, 256.0 / width, 256.0 / height) AS scale FROM m)
          |SELECT doc_id, width, height,
          |CAST(FLOOR(width * scale) AS BIGINT) AS new_width,
          |CAST(FLOOR(height * scale) AS BIGINT) AS new_height
          |FROM s ORDER BY doc_id""".stripMargin),
    // feature-extract stub feeding the ANN operators end-to-end
    Query("multimodal_features_topk", (s, d) =>
      Similarity.bruteForceTopK(
          Multimodal.extractFeatures(Multimodal.mediaFromDocuments(Tables.documents(s, d))),
          Seq(0L, 1L, 2L), 3)
        .orderBy(col("query_id"), col("sim").desc, col("cand_id")),
      () => PortableOracles.multimodalFeaturesTopkSql),
    // [r16] REAL image-kernel tier, oracle-verified: the media table is
    // deterministic synthesized PNGs whose dimensions/pixels are pure
    // integer functions of doc_id (Multimodal.synthesizePng), so DuckDB
    // replays the arithmetic while Spark must genuinely DECODE the PNG
    // bytes (javax.imageio) to match — a wrong decode hash-mismatches.
    // All three are narrow mapPartitions chains over the gate-sorted base.
    Query("multimodal_meta_png", (s, d) =>
      Multimodal.extractMetaImage(
        Multimodal.pngMediaFromDocuments(Tables.documentsById(s, d))
          .select("doc_id", "payload")),
      // [r16] real-kernel tier: the oracle replays the PNG SYNTHESIS
      // arithmetic (dims/pixels are pure integer functions of doc_id —
      // Multimodal.synthesizePng/pngDims); the Spark side must genuinely
      // decode the encoded bytes to produce the same numbers.
      () =>
        """SELECT doc_id,
          |CAST(16 + doc_id % 17 AS BIGINT) AS width,
          |CAST(8 + doc_id % 13 AS BIGINT) AS height,
          |'png' AS format, CAST(1 AS BIGINT) AS n_frames
          |FROM documents ORDER BY doc_id""".stripMargin),
    // decode → bounding-box fit → nearest-neighbor resample → PNG
    // re-encode → RE-DECODE: the output dims come from decoding the
    // resized payload, so the whole encode/decode circle is load-bearing
    Query("multimodal_resize_png", (s, d) =>
      Multimodal.extractMetaImage(
        Multimodal.resizeImage(
            Multimodal.pngMediaFromDocuments(Tables.documentsById(s, d))
              .select("doc_id", "payload"),
            maxW = 12, maxH = 12)
          .select("doc_id", "payload")),
      () =>
        """WITH m AS (
          |  SELECT doc_id, CAST(16 + doc_id % 17 AS BIGINT) AS w,
          |         CAST(8 + doc_id % 13 AS BIGINT) AS h
          |  FROM documents),
          |s AS (SELECT *, LEAST(1.0, 12.0 / w, 12.0 / h) AS scale FROM m)
          |SELECT doc_id,
          |CAST(GREATEST(1, CAST(FLOOR(w * scale) AS BIGINT)) AS BIGINT) AS width,
          |CAST(GREATEST(1, CAST(FLOOR(h * scale) AS BIGINT)) AS BIGINT) AS height,
          |'png' AS format, CAST(1 AS BIGINT) AS n_frames
          |FROM s ORDER BY doc_id""".stripMargin),
    // decoded-pixel per-cell luminance sums — exact Long arithmetic, the
    // integer core of the real feature kernel
    Query("multimodal_cellsums_png", (s, d) =>
      Multimodal.extractCellSums(
        Multimodal.pngMediaFromDocuments(Tables.documentsById(s, d))
          .select("doc_id", "payload")),
      // per-pixel replica of the decoded raster: pixel v(doc,x,y) is the
      // synthesis hash masked to 24-bit RGB; luma and 4x4 cell binning
      // mirror Multimodal.cellSums exactly (all-integer, no float hazard)
      () =>
        """WITH dims AS (
          |  SELECT doc_id, CAST(16 + doc_id % 17 AS BIGINT) AS w,
          |         CAST(8 + doc_id % 13 AS BIGINT) AS h
          |  FROM documents),
          |px AS (
          |  SELECT doc_id, w, h, unnest(range(0, w)) AS x, y
          |  FROM (SELECT doc_id, w, h, unnest(range(0, h)) AS y FROM dims)),
          |pv AS (
          |  SELECT doc_id, w, h, x, y,
          |    (xor(xor(doc_id * 1315423911, x * 2654435761), y * 40503) & 16777215) AS v
          |  FROM px)
          |SELECT doc_id,
          |  ((y * 4 // h) * 4 + (x * 4 // w)) AS cell,
          |  CAST(SUM(((v >> 16) & 255) * 299 + ((v >> 8) & 255) * 587 + (v & 255) * 114) AS BIGINT) AS lum_sum,
          |  COUNT(*) AS n_px
          |FROM pv GROUP BY doc_id, cell ORDER BY doc_id, cell""".stripMargin),
    // [r17] REAL per-frame video/animation tier: deterministic ANIMATED
    // gray GIFs (indexed palette — GIF LZW is lossless over indexed
    // samples, so every pixel round-trips bit-exact), each frame extracted
    // with reader.read(i) and reduced to an exact per-frame luminance sum.
    // DuckDB replays the per-frame synthesis arithmetic; a wrong frame
    // order, palette, or disposal handling hash-mismatches.
    Query("multimodal_frames_gif", (s, d) =>
      Multimodal.extractFrameSums(
        Multimodal.gifMediaFromDocuments(Tables.documentsById(s, d))),
      // [r17] per-frame replica of the decoded animated-GIF rasters: frame
      // f's gray level g(doc,f,x,y) is the synthesis hash masked to 8 bits;
      // gray luma = g·(299+587+114) = g·1000 — all-integer, no float hazard
      () =>
        """WITH dims AS (
          |  SELECT doc_id, CAST(16 + doc_id % 17 AS BIGINT) AS w,
          |         CAST(8 + doc_id % 13 AS BIGINT) AS h,
          |         CAST(2 + doc_id % 4 AS BIGINT) AS nf
          |  FROM documents),
          |fr AS (SELECT doc_id, w, h, unnest(range(0, nf)) AS f FROM dims),
          |yy AS (SELECT doc_id, w, h, f, unnest(range(0, h)) AS y FROM fr),
          |px AS (SELECT doc_id, w, h, f, y, unnest(range(0, w)) AS x FROM yy),
          |pv AS (
          |  SELECT doc_id, f, w, h,
          |    (xor(xor((doc_id * 31 + f) * 1315423911, x * 2654435761), y * 40503) & 255) AS g
          |  FROM px)
          |SELECT doc_id, f AS frame_idx, w AS width, h AS height,
          |  CAST(SUM(g * 1000) AS BIGINT) AS lum_sum
          |FROM pv GROUP BY doc_id, f, w, h ORDER BY doc_id, frame_idx""".stripMargin),
    // [r17] REAL audio tier (javax.sound.sampled): deterministic mono
    // PCM16 WAVs whose rate/length/samples are pure integer functions of
    // doc_id (Multimodal.synthesizeWav/wavParams/wavSample — PCM is
    // lossless, so decode round-trips bit-exact). DuckDB replays the
    // synthesis arithmetic; Spark must genuinely parse the RIFF header and
    // PCM frames to match — a wrong sample width, byte order, or sign
    // convention hash-mismatches. Narrow mapPartitions chains over the
    // gate-sorted base, same as the PNG tier.
    Query("multimodal_meta_wav", (s, d) =>
      Multimodal.extractMetaWav(
        Multimodal.wavMediaFromDocuments(Tables.documentsById(s, d))),
      // [r17] real audio tier: the oracle replays the WAV SYNTHESIS
      // parameters (rate/length are pure functions of doc_id —
      // Multimodal.wavParams); the Spark side must genuinely parse the RIFF
      // header to produce the same numbers.
      () =>
        """SELECT doc_id,
          |CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 11025
          |     WHEN 2 THEN 16000 ELSE 22050 END AS BIGINT) AS sample_rate,
          |CAST(1 AS BIGINT) AS channels, CAST(16 AS BIGINT) AS bits,
          |CAST(120 + doc_id % 101 AS BIGINT) AS n_samples
          |FROM documents ORDER BY doc_id""".stripMargin),
    // per-window integer energy sums over really decoded PCM — the exact
    // Long core of an audio feature kernel (RMS/peak are float views)
    Query("multimodal_windows_wav", (s, d) =>
      Multimodal.extractWavWindowSums(
        Multimodal.wavMediaFromDocuments(Tables.documentsById(s, d))),
      // per-sample replica of the decoded PCM signal: sample s(doc,i) is the
      // synthesis hash masked to 16 bits minus 32768 (signed), window = 64
      // samples — all-integer, no float hazard (mirrors
      // Multimodal.extractWavWindowSums exactly)
      () =>
        """WITH p AS (
          |  SELECT doc_id, CAST(120 + doc_id % 101 AS BIGINT) AS n FROM documents),
          |ix AS (SELECT doc_id, unnest(range(0, n)) AS i FROM p),
          |s AS (
          |  SELECT doc_id, i // 64 AS window_idx,
          |    ((xor(doc_id * 2654435761, i * 1315423911) & 65535) - 32768) AS v
          |  FROM ix)
          |SELECT doc_id, window_idx, COUNT(*) AS n_smp,
          |  CAST(SUM(ABS(v)) AS BIGINT) AS abs_sum,
          |  CAST(SUM(v * v) AS BIGINT) AS sq_sum
          |FROM s GROUP BY doc_id, window_idx ORDER BY doc_id, window_idx""".stripMargin),
    // zero-crossing counts over decoded PCM — exact integer logic, one
    // narrow codec pass; the oracle replays the sign-flip predicate over
    // the synthesized samples via a LAG window
    Query("multimodal_zcr_wav", (s, d) =>
      Multimodal.extractWavZeroCrossings(
        Multimodal.wavMediaFromDocuments(Tables.documentsById(s, d))),
      // zero-crossing replica: the '< 0' predicate flips between adjacent
      // synthesized samples — LAG window per doc, exact integer counts
      () =>
        """WITH p AS (
          |  SELECT doc_id, CAST(120 + doc_id % 101 AS BIGINT) AS n FROM documents),
          |ix AS (SELECT doc_id, unnest(range(0, n)) AS i FROM p),
          |s AS (
          |  SELECT doc_id, i,
          |    ((xor(doc_id * 2654435761, i * 1315423911) & 65535) - 32768) AS v
          |  FROM ix),
          |lg AS (SELECT doc_id, v,
          |         LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
          |       FROM s)
          |SELECT doc_id, COUNT(*) AS n_samples,
          |  CAST(SUM(CASE WHEN pv IS NOT NULL AND ((v < 0) <> (pv < 0))
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_zc
          |FROM lg GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // decode → integer decimation (every 2nd sample) → WAV re-encode →
    // RE-DECODE → window sums: the whole encode/decode circle is
    // load-bearing (the multimodal_resize_png pattern for audio). Oracle
    // replays s(doc, 2i) per resampled index.
    Query("multimodal_resample_wav", (s, d) =>
      Multimodal.extractWavWindowSums(
        Multimodal.resampleWav(
          Multimodal.wavMediaFromDocuments(Tables.documentsById(s, d)),
          factor = 2)),
      // decimation replica: the resampled signal's sample i is the synthesis
      // hash at index 2i, resampled length = ceil(n/2) — Spark must run the
      // full decode→decimate→re-encode→re-decode circle to match
      () =>
        """WITH p AS (
          |  SELECT doc_id, CAST(120 + doc_id % 101 AS BIGINT) AS n FROM documents),
          |rs AS (SELECT doc_id, (n + 1) // 2 AS rn FROM p),
          |ix AS (SELECT doc_id, unnest(range(0, rn)) AS i FROM rs),
          |s AS (
          |  SELECT doc_id, i // 64 AS window_idx,
          |    ((xor(doc_id * 2654435761, (2 * i) * 1315423911) & 65535) - 32768) AS v
          |  FROM ix)
          |SELECT doc_id, window_idx, COUNT(*) AS n_smp,
          |  CAST(SUM(ABS(v)) AS BIGINT) AS abs_sum,
          |  CAST(SUM(v * v) AS BIGINT) AS sq_sum
          |FROM s GROUP BY doc_id, window_idx ORDER BY doc_id, window_idx""".stripMargin)
  )

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap
  /** Evaluates every oracle: call it after the queries have run. */
  def oracleSql: Map[String, String] = all.map(q => q.name -> q.oracle()).toMap
  lazy val eagerBuilt: Set[String] = all.filter(_.measure == EagerRebuild).map(_.name).toSet
  lazy val registryBacked: Set[String] =
    all.filter(_.measure == RegistryBacked).map(_.name).toSet

  /** Shared body of the two PQ-retrieval gate queries: 32×-compressed pool
    * (decode-then-dot, or LUT-ADC when `adc`) sized so it provably contains
    * the exact IVF top-k on this corpus (PqSpec + tools/PqProbe containment
    * sweep), then exact rerank — output identical to the exact IVF query,
    * which is what the shared oracle replays. */
  private def pqRerankGate(s: SparkSession, d: String, adc: Boolean): DataFrame = {
    val e = Tables.embeddings(s, d)
    val cents = Similarity.trainedCentroids(e, d)
    val cb = Pq.trainedCodebooks(e, d)
    val pqPath = "/tmp/graft-ivf-pqindex/" + d.replaceAll("[^A-Za-z0-9.]", "_")
    val ePath = "/tmp/graft-ivf-index/" + d.replaceAll("[^A-Za-z0-9.]", "_")
    Similarity.ensureBuilt(pqPath)(Pq.buildIndexPq(e, cents, cb, pqPath))
    Similarity.ensureBuilt(ePath)(Similarity.buildIndex(e, cents, ePath))
    Pq.ivfTopKPqRerank(s, pqPath, ePath, cents, cb, gateProbes(e),
        k = 3, nprobe = 3, poolMult = 40, adc = adc)
      .orderBy(col("query_id"), col("sim").desc, col("cand_id"))
  }

  /** Build-once (per session, per sf dir) maintained lexical index — both
    * halves (stats + postings) folded from one batch; rebuilt from scratch
    * (delete, then fold) so Bench's `fresh` measurement honestly pays the
    * index build, like the ANN index rows. Shared by the two served BM25
    * gate rows. */
  private def lexIndexBuilt(s: SparkSession, d: String): String = {
    val statsPath = "/tmp/graft-lexindex/" + d.replaceAll("[^A-Za-z0-9.]", "_")
    Similarity.ensureBuilt(statsPath) {
      val f = graft.functions.FsUtils.fs(s, statsPath)
      f.delete(new org.apache.hadoop.fs.Path(statsPath), true)
      streaming.LexStatsStream.applyBatch(s, Tables.documents(s, d), 0L, statsPath)
    }
    statsPath
  }

  /** Build-once CHUNK-level lexical index (passage retrieval): the
    * chunk_overlap windows as index "documents", pid = doc_id·1000 +
    * chunk_idx (overflow-guarded in [[streaming.PassageLex.chunkDocs]]). */
  private def passageIndexBuilt(s: SparkSession, d: String): String = {
    val path = "/tmp/graft-lexpassage/" + d.replaceAll("[^A-Za-z0-9.]", "_")
    Similarity.ensureBuilt(path) {
      val f = graft.functions.FsUtils.fs(s, path)
      f.delete(new org.apache.hadoop.fs.Path(path), true)
      streaming.PassageLex.applyBatch(s, Tables.documentsById(s, d), 0L, path)
    }
    path
  }

  /** ONE passage churn-fixture recipe for all its gate variants (review
    * finding, r20 s2 — three builders repeated the identical preamble, so
    * a future fixture change could silently fork their histories): v1
    * chunks ingested at batch 0, [[streaming.PassageLex.sync]] to the v2
    * fixture at batch 1 (chunk-grain diff, ceiling tombstones, negative
    * stats corrections), then the variant's trailing maintenance. */
  private def passageChurnFixtureBuilt(s: SparkSession, d: String,
      subdir: String, compact: Boolean, rebucket: Boolean): String = {
    val path = s"/tmp/$subdir/" + d.replaceAll("[^A-Za-z0-9.]", "_")
    Similarity.ensureBuilt(path) {
      val f = graft.functions.FsUtils.fs(s, path)
      f.delete(new org.apache.hadoop.fs.Path(path), true)
      val docs = Tables.documents(s, d).select("doc_id", "text")
      streaming.PassageLex.applyBatch(s, docs, 0L, path)
      streaming.PassageLex.sync(s, path, docs,
        TextAnalysis.lexLiveV2Of(docs), 1L)
      if (compact) streaming.LexStatsStream.compactState(s, path)
      if (rebucket) streaming.LexStatsStream.rebucketPostings(s, path,
        4 * TextAnalysis.LexBuckets)
    }
    path
  }

  /** Build-once passage index carried through the DELETE/UPDATE lifecycle
    * (round 20): churn fixture + both logs compacted. Shared by
    * `bm25_passage_topk_live`. */
  private def passageLiveIndexBuilt(s: SparkSession, d: String): String =
    passageChurnFixtureBuilt(s, d, "graft-lexpassagelive",
      compact = true, rebucket = false)

  /** Build-once chunk-embedding IVF index ([[Retrieval
    * .buildPassageDenseIndex]] — cluster=-partitioned inverted lists,
    * vec_id = pid). Shared by `hybrid_passage_topk_indexed`. */
  private def passageDenseIndexBuilt(s: SparkSession, d: String): String = {
    val path = "/tmp/graft-chunkdense/" + d.replaceAll("[^A-Za-z0-9.]", "_")
    Similarity.ensureBuilt(path)(Retrieval.buildPassageDenseIndex(s, d, path))
    path
  }

  /** The UNCOMPACTED twin of [[passageLiveIndexBuilt]] — same v1-ingest +
    * v2-sync history with the per-batch dirs intact, so point-in-time
    * reads can still cut at batch 0 (the lexLiveRawIndexBuilt pattern at
    * chunk grain). Shared by `bm25_passage_topk_asof`. */
  private def passageLiveRawIndexBuilt(s: SparkSession, d: String): String =
    passageChurnFixtureBuilt(s, d, "graft-lexpassageraw",
      compact = false, rebucket = false)

  /** Build-once passage index: full live lifecycle, compaction, then the
    * 64 → 256 bucket split ([[lexRebucketIndexBuilt]] at chunk grain).
    * Shared by `bm25_passage_topk_rebucketed`. */
  private def passageRebucketIndexBuilt(s: SparkSession, d: String): String =
    passageChurnFixtureBuilt(s, d, "graft-lexpassagerebucket",
      compact = true, rebucket = true)

  /** Build-once churned index REBUCKETED after compaction (round 20): the
    * full lexLive lifecycle, then [[streaming.LexStatsStream.rebucketPostings]]
    * splits the postings log 64 → 256 buckets (the force path — the log is
    * already fully compacted). The physical layout, the `.bucketmeta`
    * count, and every subsequent pruned read all change; the SERVED
    * ranking must not — which is what the v2-replica oracle checks. */
  private def lexRebucketIndexBuilt(s: SparkSession, d: String): String = {
    val path = "/tmp/graft-lexrebucket/" + d.replaceAll("[^A-Za-z0-9.]", "_")
    Similarity.ensureBuilt(path) {
      val f = graft.functions.FsUtils.fs(s, path)
      f.delete(new org.apache.hadoop.fs.Path(path), true)
      val docs = Tables.documents(s, d).select("doc_id", "text")
      streaming.LexStatsStream.applyBatch(s, docs, 0L, path)
      streaming.LexStatsStream.syncLexCorpus(s, path, docs,
        TextAnalysis.lexLiveV2Of(docs), 1L)
      streaming.LexStatsStream.compactState(s, path)
      streaming.LexStatsStream.rebucketPostings(s, path,
        4 * TextAnalysis.LexBuckets)
    }
    path
  }

  /** Build-once maintained lexical index carried through the full
    * DELETE/UPDATE lifecycle (round 19): ingest v1, sync to the
    * deterministic v2 fixture ([[TextAnalysis.lexLiveV2Of]] — removes +
    * edits under one maintenance batch), then compact BOTH logs so the
    * gate serves off purged postings and folded correction stats. Shared
    * by the five `*_live` lexical gate rows. */
  private def lexLiveIndexBuilt(s: SparkSession, d: String): String = {
    val path = "/tmp/graft-lexlive/" + d.replaceAll("[^A-Za-z0-9.]", "_")
    Similarity.ensureBuilt(path) {
      val f = graft.functions.FsUtils.fs(s, path)
      f.delete(new org.apache.hadoop.fs.Path(path), true)
      val docs = Tables.documents(s, d).select("doc_id", "text")
      streaming.LexStatsStream.applyBatch(s, docs, 0L, path)
      streaming.LexStatsStream.syncLexCorpus(s, path, docs,
        TextAnalysis.lexLiveV2Of(docs), 1L)
      streaming.LexStatsStream.compactState(s, path)
    }
    path
  }

  /** The UNCOMPACTED twin of [[lexLiveIndexBuilt]] — same v1-ingest +
    * v2-sync history with the per-batch dirs intact, so point-in-time
    * reads can still cut at batch 0 (as-of history ends at the folded
    * horizon). */
  private def lexLiveRawIndexBuilt(s: SparkSession, d: String): String = {
    val path = "/tmp/graft-lexliveraw/" + d.replaceAll("[^A-Za-z0-9.]", "_")
    Similarity.ensureBuilt(path) {
      val f = graft.functions.FsUtils.fs(s, path)
      f.delete(new org.apache.hadoop.fs.Path(path), true)
      val docs = Tables.documents(s, d).select("doc_id", "text")
      streaming.LexStatsStream.applyBatch(s, docs, 0L, path)
      streaming.LexStatsStream.syncLexCorpus(s, path, docs,
        TextAnalysis.lexLiveV2Of(docs), 1L)
    }
    path
  }

  private def gateProbes(e: DataFrame): Seq[(Long, Seq[Double])] = {
    val probeIds = Seq(0L, 1L, 2L, 3L, 4L)
    e.filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
  }

  /** [r16] The residual (IVFADC) tier's gate twin: anchors + residual
    * codebooks from the session model cache, same pool/rerank settings as
    * the plain tier. PqProbe containment (2026-08-15): plain contains
    * from pm=10 at every SF; residual from pm=4 at sf≤0.01 but pm=20 at
    * sf0.1 — the near-RANDOM synthetic corpus is residual's worst case
    * (cluster anchors carry little mass when there is no real cluster
    * structure; on a genuinely clustered corpus the residual margin grows,
    * which is what the strictly-lower reconstruction MSE pin measures).
    * The shared gate pm=40 keeps ≥2× margin for both tiers. Oracle:
    * exact-IVF replica (same regeneration-risk note as ann_ivf_topk_pq).
    */
  private def pqrRerankGate(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val cents = Similarity.trainedCentroids(e, d)
    val (anchors, rcb) = Pq.trainedResidualModel(e, cents, d)
    val pqrPath = "/tmp/graft-ivf-pqrindex/" + d.replaceAll("[^A-Za-z0-9.]", "_")
    val ePath = "/tmp/graft-ivf-index/" + d.replaceAll("[^A-Za-z0-9.]", "_")
    Similarity.ensureBuilt(pqrPath)(
      Pq.buildIndexPqResidual(e, cents, anchors, rcb, pqrPath))
    Similarity.ensureBuilt(ePath)(Similarity.buildIndex(e, cents, ePath))
    Pq.ivfTopKPqResidualRerank(s, pqrPath, ePath, cents, anchors, rcb,
        gateProbes(e), k = 3, nprobe = 3, poolMult = 40)
      .orderBy(col("query_id"), col("sim").desc, col("cand_id"))
  }
}
