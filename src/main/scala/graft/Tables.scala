package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Typed loaders for the driver testdata tables (TESTDATA.md / FIXTURES.md §B).
  *
  * Parquet is self-describing, so no schema inference pass happens; Catalyst
  * pushes filters and prunes columns into these scans automatically (the
  * reference's B-tree index access, `migrations/init.sql:16,31-32`, maps to
  * parquet row-group min/max skipping — SURVEY.md §4).
  *
  * Scale note (100 TB posture): these are plain directory scans. On a real
  * cluster the same loaders work unchanged over partitioned layouts
  * (e.g. `orders/o_orderdate=.../`), where partition pruning kicks in on top.
  */
object Tables {
  /** One resolved scan DataFrame per (session, path): `spark.read.parquet`
    * re-lists the directory and re-reads parquet footers on EVERY call, and
    * a 75-query surface calls these loaders hundreds of times per run —
    * that relation-construction floor is pure driver-side overhead. A
    * catalog table gets exactly this caching from the metastore; these
    * path-based loaders memoize the immutable driver testdata the same way.
    * (DataFrames are immutable — sharing one across queries is safe; keyed
    * by session so a stopped session's relations are never reused.)
    *
    * CONTRACT — immutable inputs only: the cached relation snapshots the
    * file listing at first load, so a directory rewritten mid-session would
    * be served stale through this cache. These loaders are exclusively for
    * the driver's read-only testdata; state/output/sink directories must
    * never be routed through them (none are — streaming state readers use
    * `spark.read.parquet` + `refreshByPath` directly).
    *
    * Eviction: entries of stopped sessions are purged on every access, so a
    * long-running host cycling many sessions doesn't retain dead sessions
    * (and their relation trees) for the process lifetime.
    */
  private val scanCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def p(spark: SparkSession, dir: String, name: String): DataFrame = {
    val it = scanCache.keySet.iterator()
    while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
    scanCache.computeIfAbsent((spark, s"$dir/$name.parquet"),
      { case (s, path) => s.read.parquet(path) })
  }

  def region(spark: SparkSession, dir: String): DataFrame   = p(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = p(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = p(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = p(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = p(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = p(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = p(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = p(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = p(spark, dir, "embeddings")

  /** `documents` pre-sorted by `doc_id` — the gate-sort for NARROW queries.
    *
    * A global `orderBy` ABOVE a pipeline makes the range partitioner run a
    * sampling job over its child; with no shuffle below to reuse, that
    * re-executes the entire pipeline — measured 2× on every narrow gate
    * query at sf0.1 (lang_id 0.97→0.50 s, doc_fingerprint 0.66→0.35 s,
    * ingest_normalize 2.42→1.00 s). Sorting the bare scan instead samples
    * only the scan; filters, projections, generators, and `mapPartitions`
    * all preserve intra-partition order AND partition ordering, so the
    * result order is identical — and the driver gate's row-order hash
    * compare re-proves it for every query built this way. Queries with an
    * exchange below their sort (joins, aggregations, windows) keep the
    * plain `orderBy`: sampling reuses the shuffle files, so there is no
    * double execution to avoid.
    */
  def documentsById(spark: SparkSession, dir: String): DataFrame =
    keySorted(documents(spark, dir), "doc_id")

  /** Total-order gate sort with an EXPLICIT partition count — `orderBy`
    * that AQE cannot serialize (optimization round 20, guide §2).
    *
    * `df.orderBy(key)` plans as a range exchange whose partition count AQE
    * then coalesces BY BYTES (`minPartitionSize`, default 1 MB). The gate
    * tables are a few hundred KB, so every pipeline built above a gate
    * sort — the model-scoring passes, the whole multimodal codec family —
    * was executing its per-row CPU in ONE coalesced task regardless of
    * core count (ProbeStages: `model_filter` 1.28 s / `multimodal_*` 100%
    * of run time in tasks=1 stages on local[32]). AQE's byte heuristic is
    * blind to CPU-dense rows: 2 KB of text can carry a millisecond of
    * md5/codec work.
    *
    * `repartitionByRange(n, key) + sortWithinPartitions(key)` is the SAME
    * physical shape as `orderBy` (range exchange + local sort → identical
    * total order, identical rows) but a user-specified partition count is
    * exempt from AQE coalescing, so downstream order-preserving chains
    * keep n-way parallelism. n is scale-adaptive, not a local constant:
    * max(session default parallelism, the scan's own partition count) —
    * on a real cluster where the scan already has thousands of row-group
    * splits it keeps them (no shrink); locally it restores the parallelism
    * a production multi-row-group layout would have given the scan for
    * free. Row order is pinned by the driver gate's hash compare and by
    * the A/B in this round's OPTIMIZATION_r20.md.
    *
    * PRECONDITION — plain-scan inputs only (ADVICE r20): deriving the
    * partition count reads `df.rdd.getNumPartitions`, which forces
    * physical planning and, under AQE, would eagerly materialize upstream
    * query stages if `df` contained an exchange — at DataFrame-BUILD time,
    * outside any action. Every call site here (and in [[fanOut]]) passes a
    * bare parquet scan, where the conversion is a cheap split enumeration;
    * [[requireScanOnly]] rejects any input above a shuffle.
    */
  def keySorted(df: DataFrame, key: String): DataFrame = {
    requireScanOnly(df, "keySorted")
    val sc = df.sparkSession.sparkContext
    val n = math.max(sc.defaultParallelism, df.rdd.getNumPartitions)
    df.repartitionByRange(n, col(key)).sortWithinPartitions(key)
  }

  /** The precondition of [[keySorted]] and [[fanOut]], checked: fails fast
    * when `df`'s plan contains an aggregate, join, repartition, window or
    * global sort — any operator that plans an exchange, which the helpers'
    * build-time partition count would eagerly materialize. */
  private def requireScanOnly(df: DataFrame, caller: String): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical._
    df.queryExecution.analyzed.collectFirst {
      case _: Aggregate | _: Distinct | _: Deduplicate => "an aggregate"
      case _: Join | _: Intersect | _: Except => "a join"
      case r: Repartition if r.shuffle => "a repartition"
      case _: RepartitionByExpression | _: RebalancePartitions => "a repartition"
      case _: Window => "a window"
      case s: Sort if s.global => "a global sort"
    }.foreach(op => throw new IllegalArgumentException(
      s"Tables.$caller needs a scan-only input; its plan contains $op"))
  }

  /** Scale-adaptive fan-out for CPU-heavy narrow passes whose downstream is
    * order-insensitive (aggregations, joins, or a final total-order sort).
    *
    * The driver testdata is single-row-group parquet, so every scan stage
    * is ONE task and all per-row CPU below the first exchange (gram
    * hashing, MinHash folds, span coverage) is single-threaded at any core
    * count (ProbeStages, r20 opt: `source_overlap_sketch_serve` 2.35 s /
    * `curation_pipeline` 1.84 s of 100% single-task run time on
    * local[32]). A production multi-row-group layout gives the scan this
    * parallelism for free; this restores it locally and is the IDENTITY at
    * scale: the round-robin exchange is inserted only when the input has
    * FEWER partitions than the session's parallelism, so a cluster scan
    * with thousands of splits passes through untouched and never pays a
    * payload shuffle. Deterministic under retry (sortBeforeRepartition is
    * on); callers must re-establish row order downstream (every gate using
    * this ends in a unique-key orderBy — re-proven by the oracle hash
    * compare).
    */
  /** Round 21 (guide §2.2 "fewer, larger partitions"; VERDICT r20 item 1):
    * fan-out width is now DATA-proportional, not thread-count-proportional.
    * The r20 form fanned every gated pass to `defaultParallelism`; at 32
    * threads over a few hundred KB of input that meant 32 tasks whose
    * fixed costs (task scheduling, per-task aggregation pages, GC churn of
    * 32 concurrent hash/sort buffers) exceeded the CPU they parallelized —
    * the driver's own bench ran the whole suite 28% faster at 8 CPUs, and
    * ProbeStages measured contaminate_spans' fanned stages burning 9.8 s
    * of summed CPU 32-way vs 3.1 s 8-way for identical work. One task per
    * `FanOutBytesPerTask` of scan input (compressed bytes, from the
    * relation's own statistics — no job) keeps each task busy for tens of
    * milliseconds of gram/hash CPU, amortizing the fixed costs; the cap at
    * `defaultParallelism` and the ≥-partitions identity check keep the
    * helper a no-op on any cluster-scale scan exactly as before (bytes ≫
    * budget ⇒ target = parallelism ⇒ identity when the scan already has
    * that many splits). Per-query A/Bs at the call sites.
    */
  private[graft] final val FanOutBytesPerTask = 65536L

  /** @param bytesPerTask per-task input budget: the default suits gram/
    *   hash passes feeding aggregation state (64 KB ≈ tens of ms of CPU
    *   per task); call sites whose per-byte CPU is much denser (codec or
    *   model scoring per row) pass a smaller budget — each choice A/B'd
    *   per query at its call site. At cluster scale ANY budget is
    *   identity (bytes ≫ budget ⇒ target = parallelism ⇒ the ≥-partitions
    *   check passes). */
  def fanOut(df: DataFrame,
             bytesPerTask: Long = FanOutBytesPerTask): DataFrame = {
    requireScanOnly(df, "fanOut")
    val p = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = bytes
      .max(BigInt(1)) // stats can be 0 for an empty relation
      .+(BigInt(bytesPerTask - 1))./(BigInt(bytesPerTask))
      .min(BigInt(p)).max(BigInt(1)).toInt
    if (df.rdd.getNumPartitions >= n) df else df.repartition(n)
  }

  /** Schema-ADAPTIVE events loader: the driver regenerates
    * `events.parquet` between rounds and has shipped two physical types for
    * `ts` so far — parquet TIMESTAMP(NANOS) (reads as `LongType` under
    * `spark.sql.legacy.parquet.nanosAsLong=true`; the round-9 regeneration
    * replaced it) and plain `timestamp[us]` with no UTC-adjustment flag
    * (reads as `TimestampNTZType`). Hard-coding either generation turns a
    * data refresh into 8 gate failures (round 9's lesson), so this loader
    * branches on the file's ACTUAL read schema and normalizes every
    * generation to session-TZ `TimestampType`:
    *
    *   - `LongType` (nanos-as-long): truncate to micros — the same
    *     truncation DuckDB applies reading the nanos file, so oracle
    *     comparisons line up exactly. Requires `nanosAsLong=true` at session
    *     BUILD (Bench/Verify/SparkSuite set it; harmless when the file has
    *     no nanos column) — a loader must not mutate session config as a
    *     side effect (it would race concurrent queries mid-session).
    *   - `TimestampNTZType`: cast to `timestamp`. Sessions are pinned UTC
    *     (`spark.sql.session.timeZone`), so NTZ→TZ is wall-clock identical
    *     and DuckDB (which reads the column as naive TIMESTAMP) hashes the
    *     same values.
    *   - `TimestampType`: pass through.
    *
    * All downstream consumers (EventsPipeline, Temporal, the 8 `events_*`
    * gate queries) see one stable contract: `ts TIMESTAMP` in UTC.
    * TablesSpec pins this against the real file so the next regeneration
    * fails `sbt test` loudly instead of erring 8 queries at the gate.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    val raw = p(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(
        s"events.ts has unsupported physical type $other — extend Tables.events for this testdata generation")
    }
  }
}
