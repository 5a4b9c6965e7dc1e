package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.streaming.OverviewStream

/** The incrementally-materialized per-tenant overview MV is proven by batch
  * equivalence: after folding any prefix of batches, the MV rows must equal
  * the by-tenant batch twin computed over the union of those batches (the
  * twin is oracle-checked as `orders_overview_by_tenant`; the single-tenant
  * endpoint shape as `orders_overview_dc`). */
class OverviewStreamSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("overview_mv").toString

  private def orders = Tables.orders(spark, Sf0001)

  private def mvRows(state: String): Seq[Row] =
    OverviewStream.overview(spark, state).collect().toSeq

  private def twinRows(df: DataFrame): Seq[Row] =
    OverviewStream.overviewByTenant(df).collect().toSeq

  test("MV equals the by-tenant twin after every batch of an uneven split") {
    val state = tmp()
    val splits = Seq(
      orders.filter(col("o_orderkey") % 7 < 2),
      orders.filter(col("o_orderkey") % 7 >= 2 && col("o_orderkey") % 7 < 6),
      orders.filter(col("o_orderkey") % 7 === 6))
    var folded = splits.head.limit(0)
    splits.zipWithIndex.foreach { case (b, i) =>
      OverviewStream.applyBatch(spark, b, i.toLong, state)
      folded = folded.unionAll(b)
      assert(mvRows(state) == twinRows(folded), s"after batch $i")
    }
    // the single-tenant endpoint row is one filtered MV row
    val one = OverviewStream.overview(spark, state)
      .filter(col("tenant") === operators.Analytics.OrdersTenant)
      .drop("tenant").collect().head
    assert(one == OverviewStream.overviewBatch(orders).collect().head)
  }

  test("state size is O(domain): log grows O(batch), compaction folds it back") {
    val state = tmp()
    // ten single-slice deliveries of the same orders table
    val slices = (0 until 10).map(i => orders.filter(col("o_orderkey") % 10 === i))
    slices.zipWithIndex.foreach { case (b, i) =>
      OverviewStream.applyBatch(spark, b, i.toLong, state)
    }
    val tenants = orders.select("o_orderpriority").distinct().count()
    val custPairs = orders.select(col("o_orderpriority"), col("o_custkey"))
      .distinct().count()
    // the append-only delta log grows with batches (≤ tenants per batch)...
    val deltaRows = spark.read.parquet(s"$state/order_deltas").count()
    assert(deltaRows <= 10 * tenants && deltaRows > tenants)
    // ...but seen_customers NEVER re-records a customer: its total row count
    // is exactly the distinct (tenant, custkey) domain however the stream
    // was split — the anti-join keeps the log O(domain), not O(deliveries)
    assert(spark.read.parquet(s"$state/seen_customers").count() == custPairs)
    // compaction folds the delta log to O(tenants) + the newest batch
    OverviewStream.compactState(spark, state)
    val compacted = spark.read.parquet(s"$state/order_deltas").count()
    assert(compacted <= 2 * tenants, s"delta log after compaction: $compacted rows")
    assert(mvRows(state) == twinRows(orders), "MV unchanged by compaction")
  }

  test("sketched distinct-customer state: O(tenants·k) rows, exact under k, bound above k") {
    val state = tmp()
    // exact regime: per-tenant distincts at sf0.001 are far below k=1024,
    // so the folded estimate must EQUAL the exact count on any batch split
    val slices = (0 until 4).map(i => orders.filter(col("o_orderkey") % 4 === i))
    slices.zipWithIndex.foreach { case (b, i) =>
      OverviewStream.applyBatchSketched(spark, b, i.toLong, state)
    }
    val tenants = orders.select("o_orderpriority").distinct().count()
    assert(spark.read.parquet(s"$state/cust_sketches").count() <= 4 * tenants)
    val est = OverviewStream.distinctCustomersSketched(spark, state)
      .as[(String, Double)].collect().toMap
    val exact = orders.groupBy(col("o_orderpriority").as("tenant"))
      .agg(countDistinct("o_custkey").cast("double").as("n"))
      .as[(String, Double)].collect().toMap
    assert(est == exact, s"exact-regime fold diverged: $est vs $exact")

    // estimation regime: one tenant, 50k synthetic customers in 5 batches
    // of 10k — bound ≤ 5/√(k−2), state stays ≤ k rows per batch
    val state2 = tmp()
    (0 until 5).foreach { i =>
      val b = spark.range(i * 10000L, (i + 1) * 10000L)
        .select(lit("T").as("o_orderpriority"), col("id").as("o_custkey"))
      OverviewStream.applyBatchSketched(spark, b, i.toLong, state2)
    }
    val e2 = OverviewStream.distinctCustomersSketched(spark, state2)
      .as[(String, Double)].collect().head._2
    val rse = 1.0 / math.sqrt(1024 - 2)
    assert(math.abs(e2 - 50000) / 50000 <= 5 * rse, s"est $e2 vs 50000")
  }

  test("replaying a batch is a no-op (idempotent batch=<id> commits)") {
    val state = tmp()
    val b0 = orders.filter(col("o_orderkey") % 2 === 0)
    val b1 = orders.filter(col("o_orderkey") % 2 === 1)
    OverviewStream.applyBatch(spark, b0, 0L, state)
    OverviewStream.applyBatch(spark, b1, 1L, state)
    val before = mvRows(state)
    OverviewStream.applyBatch(spark, b0, 0L, state) // crash-recovery replay
    assert(mvRows(state) == before)
    // replay did not duplicate any (tenant, customer) pair
    val cust = spark.read.parquet(s"$state/seen_customers")
      .select("tenant", "o_custkey")
    assert(cust.count() == cust.distinct().count())
  }

  test("empty and tenant-free batches fold without error and change nothing") {
    val state = tmp()
    OverviewStream.applyBatch(spark, orders, 0L, state)
    val before = mvRows(state)
    OverviewStream.applyBatch(spark, orders.limit(0), 1L, state)
    OverviewStream.applyBatch(spark,
      orders.filter(col("o_orderpriority") === "no-such-tenant"), 2L, state)
    assert(mvRows(state) == before)
  }

  private val logs = Seq("order_deltas", "seen_customers")

  private def batchDirs(state: String, t: String): Seq[String] =
    new java.io.File(s"$state/$t").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).sorted.toSeq

  test("compaction folds every batch to batch=-1; MV unchanged, replays skipped") {
    val state = tmp()
    val splits = Seq(
      orders.filter(col("o_orderkey") % 5 < 2),
      orders.filter(col("o_orderkey") % 5 === 2),
      orders.filter(col("o_orderkey") % 5 === 3),
      orders.filter(col("o_orderkey") % 5 === 4))
    splits.zipWithIndex.foreach { case (b, i) =>
      OverviewStream.applyBatch(spark, b, i.toLong, state)
    }
    val before = mvRows(state)
    OverviewStream.compactState(spark, state)
    assert(mvRows(state) == before)
    for (t <- logs) assert(batchDirs(state, t) == Seq("batch=-1"), t)
    // a replay of a folded batch, newest or oldest, is skipped by the
    // fold watermark: nothing is rewritten and nothing double-counts
    OverviewStream.applyBatch(spark, splits.last, 3L, state)
    OverviewStream.applyBatch(spark, splits.head, 0L, state)
    assert(mvRows(state) == before)
    for (t <- logs) assert(batchDirs(state, t) == Seq("batch=-1"), t)
  }

  test("a compaction swap crash (log dir deleted, tmp sole copy) heals on read") {
    val state = tmp()
    OverviewStream.applyBatch(spark, orders.filter(col("o_orderkey") % 2 === 0), 0L, state)
    OverviewStream.applyBatch(spark, orders.filter(col("o_orderkey") % 2 === 1), 1L, state)
    val before = mvRows(state)
    OverviewStream.compactState(spark, state)
    // the swap's crash window: the old log is deleted, the folded log is
    // still under its tmp name
    def crash(): Unit =
      for (t <- logs)
        assert(new java.io.File(s"$state/$t").renameTo(new java.io.File(s"$state/$t.tmp")))
    crash()
    assert(mvRows(state) == before)
    // a batch REPLAY arriving in the crash window must heal before its
    // guard and anti-join — otherwise every replayed customer re-counts
    crash()
    OverviewStream.applyBatch(spark, orders.filter(col("o_orderkey") % 2 === 1), 1L, state)
    assert(mvRows(state) == before)
    val cust = spark.read.parquet(s"$state/seen_customers")
      .select("tenant", "o_custkey")
    assert(cust.count() == cust.distinct().count())
  }

  test("a compaction that crashes while writing its fold leaves the state intact") {
    val state = tmp()
    val splits = (0 until 3).map(i => orders.filter(col("o_orderkey") % 3 === i))
    splits.zipWithIndex.foreach { case (b, i) =>
      OverviewStream.applyBatch(spark, b, i.toLong, state)
    }
    val before = mvRows(state)
    intercept[Exception](CrashingCommitProtocol.during(spark, "order_deltas")(
      OverviewStream.compactState(spark, state)))
    assert(mvRows(state) == before, "an uncommitted fold must not replace any batch")
    // a replay in the crash window is skipped, and the next pass completes
    OverviewStream.applyBatch(spark, splits(1), 1L, state)
    assert(mvRows(state) == before)
    OverviewStream.compactState(spark, state)
    assert(mvRows(state) == before)
  }

  test("compacting a log of empty batches keeps the state readable") {
    val state = tmp()
    OverviewStream.applyBatch(spark, orders.limit(0), 0L, state)
    OverviewStream.applyBatch(spark, orders.limit(0), 1L, state)
    OverviewStream.compactState(spark, state)
    assert(OverviewStream.overview(spark, state).collect().isEmpty)
    OverviewStream.applyBatch(spark, orders, 2L, state)
    assert(mvRows(state) == twinRows(orders))
  }

  test("overview on fresh (absent) state returns zero tenants") {
    assert(OverviewStream.overview(spark, tmp() + "/none").collect().isEmpty)
  }

  test("an empty FIRST batch leaves readable (zero-tenant) state") {
    val state = tmp()
    OverviewStream.applyBatch(spark, orders.limit(0), 0L, state)
    // all delta dirs are file-less — overview must read as empty, not crash
    assert(OverviewStream.overview(spark, state).collect().isEmpty)
    OverviewStream.applyBatch(spark, orders, 1L, state)
    assert(mvRows(state) == twinRows(orders))
  }

  test("file-source wrapper maintains the MV end-to-end") {
    val state = tmp(); val in = tmp(); val ckpt = tmp()
    val b0 = orders.filter(col("o_orderkey") % 3 === 0)
    val b1 = orders.filter(col("o_orderkey") % 3 =!= 0)
    b0.write.parquet(s"$in/drop0")
    val q = OverviewStream.run(spark, s"$in/drop*", state, ckpt, orders)
    q.processAllAvailable()
    b1.write.parquet(s"$in/drop1")
    q.processAllAvailable()
    q.stop()
    assert(mvRows(state) == twinRows(orders))
  }
}
