package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Analytics

/** Incrementally-materialized overview endpoint (the reference's
  * `GET /api/overview` upgraded from recompute-per-request to a streaming
  * materialized view), maintained for EVERY tenant at once — the reference
  * is multi-tenant (`WHERE tenant_id = $1` on each endpoint), so the MV is
  * keyed by tenant (`o_orderpriority` stands in) and a tenant's endpoint
  * read is one partition-filtered row. An orders file-stream folds each
  * micro-batch into log-structured state; the queryable rows derive from
  * the state in O(#batches·#tenants + #distinct (tenant, customer)) — it
  * never rescans orders.
  *
  * State layout under `stateDir` (both tables use the idempotent
  * `batch=<id>` overwrite commit of [[EmbeddingIndexStream]] — foreachBatch
  * is at-least-once, and a replayed batch rewrites its OWN subdirectory
  * instead of duplicating rows):
  *
  *  - `order_deltas/batch=<id>` — one row per TENANT per batch: (tenant,
  *    n_orders, sum_price, min_status). The overview's count/sum/min fold
  *    over these tiny rows, grouped by tenant.
  *  - `seen_customers/batch=<id>` — the batch's (tenant, custkey) pairs
  *    that were NOT in any earlier batch (cross-batch-new, intra-batch-
  *    distinct), so the exact distinct-customer count per tenant is a
  *    plain grouped COUNT over the log — no distinct recomputation, no
  *    sketch. The anti-join per batch reads the accumulated key log; at
  *    100 TB the log is the distinct-customer dimension (orders-of-
  *    magnitude smaller than the fact stream) and the `batch=` dirs double
  *    as `Layout.compactPartitions` units.
  *
  * Replay safety without a transaction log: a replayed batch N recomputes
  * its new-customer set against the state EXCLUDING its own `batch=N`
  * partition (partition-pruned filter), so it rewrites exactly what the
  * first delivery wrote. Aggregates are derived at read time, so there is
  * no running counter to double-apply — the crash-window inconsistencies a
  * counter would need ordering guarantees for simply cannot occur.
  */
object OverviewStream {

  /** Single-tenant batch twin (gate query `orders_overview_dc`): the
    * overview aggregates plus the exact distinct ordering-customer count —
    * the reference's per-request endpoint shape. */
  def overviewBatch(orders: DataFrame): DataFrame =
    orders.filter(col("o_orderpriority") === Analytics.OrdersTenant)
      .agg(
        count(lit(1)).as("total_orders"),
        round(coalesce(sum("o_totalprice"), lit(0.0)), 2).as("total_revenue"),
        min("o_orderstatus").as("currency"),
        countDistinct(col("o_custkey")).as("distinct_customers"))

  val overviewBatchSql: String =
    s"""SELECT COUNT(*) AS total_orders,
       |ROUND(COALESCE(SUM(o_totalprice), 0), 2) AS total_revenue,
       |MIN(o_orderstatus) AS currency,
       |COUNT(DISTINCT o_custkey) AS distinct_customers
       |FROM orders WHERE o_orderpriority = '${Analytics.OrdersTenant}'""".stripMargin

  /** All-tenant batch twin of the keyed MV (gate query
    * `orders_overview_by_tenant`): what [[overview]] must equal after
    * folding every batch. */
  def overviewByTenant(orders: DataFrame): DataFrame =
    orders.groupBy(col("o_orderpriority").as("tenant"))
      .agg(
        count(lit(1)).as("total_orders"),
        round(coalesce(sum("o_totalprice"), lit(0.0)), 2).as("total_revenue"),
        min("o_orderstatus").as("currency"),
        countDistinct(col("o_custkey")).as("distinct_customers"))
      .orderBy("tenant")

  val overviewByTenantSql: String =
    """SELECT o_orderpriority AS tenant, COUNT(*) AS total_orders,
      |ROUND(COALESCE(SUM(o_totalprice), 0), 2) AS total_revenue,
      |MIN(o_orderstatus) AS currency,
      |COUNT(DISTINCT o_custkey) AS distinct_customers
      |FROM orders GROUP BY o_orderpriority ORDER BY tenant""".stripMargin

  /** Known schemas of the two state logs, `batch` partition column
    * included: a read passes them instead of inferring the schema (one
    * footer-reading job per read), and a log whose every batch dir is
    * file-less (an empty parquet write emits NO part files) reads as empty
    * instead of failing inference. */
  private val SeenCustomersSchema = StructType(Seq(
    StructField("tenant", StringType), StructField("o_custkey", LongType),
    StructField("batch", LongType)))
  private val OrderDeltasSchema = StructType(Seq(
    StructField("tenant", StringType), StructField("n_orders", LongType),
    StructField("sum_price", DoubleType), StructField("min_status", StringType),
    StructField("batch", LongType)))

  /** The accumulated seen-customer log, excluding `excludeBatch` (a replay
    * must not read the partition it is about to overwrite). */
  private def seenCustomers(spark: SparkSession, stateDir: String,
      excludeBatch: Long): DataFrame = {
    val path = s"$stateDir/seen_customers"
    val fs = graft.functions.FsUtils.fs(spark, path)
    // heal an interrupted compactState FIRST: mid-compaction the log is
    // only the hidden tmp dir, which partition discovery cannot see — an
    // unguarded read would return empty and the replaying batch would
    // re-mark every customer as new (permanent distinct overcount)
    if (fs.exists(new org.apache.hadoop.fs.Path(path))) recoverCompact(fs, path)
    StateLog.readKnownOrEmpty(spark, path, SeenCustomersSchema)
      .filter(col("batch") =!= excludeBatch)
      .select(col("tenant"), col("o_custkey"))
  }

  /** Fold one orders micro-batch into the state. Idempotent per batchId.
    *
    * @param stateWriteParts output files per state write. The rows are
    *   O(tenants in batch) / O(new customers in batch) — tiny for this
    *   domain, so one file (one write task) is right. A very wide tenant
    *   or customer universe would serialize that single task: raise this
    *   to spread the write (the read side and compaction are
    *   file-count-agnostic).
    */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      stateDir: String, stateWriteParts: Int = 1): Unit = {
    val b = batch.select(col("o_orderpriority").as("tenant"),
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
    // one row per tenant present in the batch (an empty batch writes a
    // file-less dir — the read side tolerates those)
    b.groupBy(col("tenant"))
      .agg(
        count(lit(1)).as("n_orders"),
        coalesce(sum("o_totalprice"), lit(0.0)).as("sum_price"),
        min("o_orderstatus").as("min_status"))
      .coalesce(stateWriteParts)
      .write.mode("overwrite").parquet(s"$stateDir/order_deltas/batch=$batchId")
    val newCust = b.select(col("tenant"), col("o_custkey")).distinct()
      .join(seenCustomers(spark, stateDir, excludeBatch = batchId),
        Seq("tenant", "o_custkey"), "left_anti")
      // materialize BEFORE the overwrite: on replay the anti-join's plan
      // reads sibling batch= files under the directory being written
      // (pruned, but the write invalidates the shared FileStatusCache)
      .localCheckpoint(true)
    newCust.coalesce(stateWriteParts)
      .write.mode("overwrite").parquet(s"$stateDir/seen_customers/batch=$batchId")
    spark.catalog.refreshByPath(s"$stateDir/seen_customers")
  }

  /** The materialized view: one overview row per tenant, derived from the
    * state logs. Fresh state (no batch folded yet) reads as zero tenants —
    * the same answer the by-tenant twin gives on zero orders. */
  def overview(spark: SparkSession, stateDir: String): DataFrame = {
    // heal an interrupted compaction before reading (no-op otherwise)
    Seq(s"$stateDir/order_deltas", s"$stateDir/seen_customers").foreach { root =>
      val fs = graft.functions.FsUtils.fs(spark, root)
      if (fs.exists(new org.apache.hadoop.fs.Path(root))) recoverCompact(fs, root)
    }
    val deltas = StateLog.readKnownOrEmpty(spark, s"$stateDir/order_deltas", OrderDeltasSchema)
    val totals = deltas.groupBy(col("tenant")).agg(
      sum("n_orders").cast("long").as("total_orders"),
      round(coalesce(sum("sum_price"), lit(0.0)), 2).as("total_revenue"),
      min("min_status").as("currency"))
    val cust = seenCustomers(spark, stateDir, excludeBatch = -1L)
      .groupBy(col("tenant")).agg(count(lit(1)).as("distinct_customers"))
    totals.join(cust, Seq("tenant"), "left")
      .select(col("tenant"), col("total_orders"), col("total_revenue"),
        col("currency"), coalesce(col("distinct_customers"), lit(0L)).as("distinct_customers"))
      .orderBy("tenant")
  }

  // --- sketched distinct-customer state (the beyond-O(domain) path) --------

  /** Per-tenant KMV theta-sketch state for the distinct-customer count —
    * the alternative when even the exact key log is too much state: the
    * exact `seen_customers` log is O(distinct (tenant, customer)) (the
    * right choice for this domain, and what the oracle-checked MV uses);
    * this variant's state is **O(tenants · k) regardless of the customer
    * universe** (k longs per tenant per batch, folding to k per tenant).
    * Cost: ~1/√(k−2) relative error and no exact count — which is why it
    * is a separate opt-in state table, not a silent replacement.
    * Idempotent per batch like every other state table here.
    */
  def applyBatchSketched(spark: SparkSession, batch: DataFrame, batchId: Long,
      stateDir: String, k: Int = 1024, stateWriteParts: Int = 1): Unit =
    batch.select(col("o_orderpriority").as("tenant"),
        xxhash64(col("o_custkey")).as("h"))
      .groupBy("tenant")
      .agg(graft.operators.ThetaSketch.sketch(col("h"), k).as("sk"))
      .select(col("tenant"), col("sk.theta_t").as("theta_t"), col("sk.ks").as("ks"))
      .coalesce(stateWriteParts) // O(tenants · k-longs) rows; raise for a wide tenant universe
      .write.mode("overwrite").parquet(s"$stateDir/cust_sketches/batch=$batchId")

  /** Fold the per-batch sketches to one estimate per tenant. KMV merge IS
    * "k smallest distinct of the union of retained values", so the fold is
    * the same aggregator over the exploded retained sets (values stored in
    * the transformed domain are mapped back to raw hashes first). */
  def distinctCustomersSketched(spark: SparkSession, stateDir: String,
      k: Int = 1024): DataFrame = {
    import graft.operators.ThetaSketch
    spark.read.parquet(s"$stateDir/cust_sketches")
      .select(col("tenant"), explode(col("ks")).as("v"))
      .select(col("tenant"), col("v").bitwiseXOR(lit(Long.MinValue)).as("h"))
      .groupBy("tenant")
      .agg(ThetaSketch.sketch(col("h"), k).as("sk"))
      .select(col("tenant"),
        ThetaSketch.estimate(col("sk")).as("distinct_customers_est"))
  }

  /** Fold committed state into one partition per table — the maintenance
    * pass that stops the `batch=` dir count growing with stream lifetime
    * (cf. [[CurationStream.compactState]] / `Layout.compactPartitions`).
    *
    * The NEWEST batch dir is left untouched: after a crash, foreachBatch
    * can only re-deliver the most recent epoch, and a replay recomputes
    * against state excluding (then rewrites) its OWN partition — folding
    * that partition away would turn the rewrite into data loss. Run with
    * the stream stopped (like any table-maintenance pass).
    *
    * Crash safety: the consolidated rows are fully written to a hidden
    * `.compact-<into>-<upto>.tmp` dir (invisible to partition discovery)
    * BEFORE any source dir is deleted; a crash mid-delete or pre-rename is
    * finished by the recovery scan on the next compact/overview call (the
    * tmp name records which dirs it supersedes).
    */
  def compactState(spark: SparkSession, stateDir: String): Unit = {
    compactLog(spark, s"$stateDir/order_deltas", df =>
      df.groupBy(col("tenant")).agg(
        coalesce(sum("n_orders"), lit(0L)).cast("long").as("n_orders"),
        coalesce(sum("sum_price"), lit(0.0)).as("sum_price"),
        min("min_status").as("min_status")))
    compactLog(spark, s"$stateDir/seen_customers", identity)
  }

  private def compactLog(spark: SparkSession, root: String,
      fold: DataFrame => DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = graft.functions.FsUtils.fs(spark, root)
    if (!fs.exists(new Path(root))) return
    recoverCompact(fs, root)
    val ids = fs.listStatus(new Path(root)).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong).sorted
    if (ids.length <= 1) return
    val upto = ids.max
    val into = ids.min
    val folded =
      try fold(spark.read.parquet(root).filter(col("batch") < upto).drop("batch"))
      catch { // every folded dir is file-less (all-empty batches): drop them
        case e: AnalysisException if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") =>
          ids.filter(_ < upto).foreach(id => fs.delete(new Path(s"$root/batch=$id"), true))
          return
      }
    val tmp = new Path(s"$root/.compact-$into-$upto.tmp")
    folded.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    ids.filter(_ < upto).foreach(id => fs.delete(new Path(s"$root/batch=$id"), true))
    graft.functions.FsUtils.renameOrThrow(fs, tmp, new Path(s"$root/batch=$into"))
    spark.catalog.refreshByPath(root)
  }

  /** Finish an interrupted [[compactState]] pass: the tmp dir is a complete
    * superset of every `batch=<id < upto>` dir, so recovery deletes any of
    * those still present and lands the tmp as `batch=<into>`. */
  private def recoverCompact(fs: org.apache.hadoop.fs.FileSystem, root: String): Unit = {
    import org.apache.hadoop.fs.Path
    fs.listStatus(new Path(root)).map(_.getPath.getName)
      .filter(n => n.startsWith(".compact-") && n.endsWith(".tmp"))
      .foreach { n =>
        val Array(into, upto) =
          n.stripPrefix(".compact-").stripSuffix(".tmp").split("-").map(_.toLong)
        fs.listStatus(new Path(root)).map(_.getPath.getName)
          .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong)
          .filter(_ < upto)
          .foreach(id => fs.delete(new Path(s"$root/batch=$id"), true))
        graft.functions.FsUtils.renameOrThrow(fs,
          new Path(s"$root/$n"), new Path(s"$root/batch=$into"))
      }
  }

  /** File-source wrapper: orders parquet drops → incremental MV. */
  def run(spark: SparkSession, inDir: String, stateDir: String,
      checkpointDir: String, schemaFrom: DataFrame): StreamingQuery =
    spark.readStream
      .schema(schemaFrom.schema)
      .parquet(inDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(spark, batch, batchId, stateDir)
      }
      .start()
}
