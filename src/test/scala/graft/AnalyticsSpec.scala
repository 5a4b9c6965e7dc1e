package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Multimodal}

/** Cheap invariants at sf0.001 — exact value parity is the DuckDB oracle's
  * job (tools/check.py); these pin shapes and semantics. */
class AnalyticsSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("entry flagship returns rows (t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key names a registered query") {
    val qs = SparkEntry.queries
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet))
  }

  test("a registry with a duplicate query name throws") {
    import SparkEntry.{Query, registry}
    val q = Query("dup", (s, _) => s.range(1).toDF(), () => "SELECT 0 AS id")
    assert(registry(q, q.copy(name = "other")).map(_.name) == Seq("dup", "other"))
    val e = intercept[IllegalArgumentException](
      registry(q, q.copy(oracle = () => "SELECT 1 AS id")))
    assert(e.getMessage.contains("dup"))
  }

  test("every RegistryBacked and EagerRebuild name is a registered query") {
    assert(SparkEntry.registryBacked.nonEmpty && SparkEntry.eagerBuilt.nonEmpty)
    assert(SparkEntry.registryBacked.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.eagerBuilt.subsetOf(SparkEntry.queries.keySet))
  }

  test("overview returns exactly one row with non-negative counts") {
    val r = Analytics.overview(spark, Sf0001).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("total_orders") > 0)
    assert(r(0).getAs[Long]("total_customers") > 0)
  }

  test("top customers (intended) ranks by total_spent desc") {
    val spent = Analytics.topCustomersIntended(spark, Sf0001)
      .select("total_spent").as[Double].collect()
    assert(spent.length == 5)
    assert(spent.sameElements(spent.sorted(Ordering[Double].reverse)))
  }

  test("faithful fan-out credits every customer with all tenant orders") {
    val r = Analytics.topCustomersFaithful(spark, Sf0001)
      .select("order_count").as[Long].collect().toSet
    assert(r.size == 1, s"all rows must share the tenant-wide order count, got $r")
  }

  test("recent orders are sorted desc by (date, key) and limited") {
    val rows = Analytics.recentOrders(spark, Sf0001)
      .select("o_orderdate", "o_orderkey").as[(java.sql.Timestamp, Long)].collect()
    assert(rows.length == 10)
    val sorted = rows.sortBy { case (d, k) => (-d.getTime, -k) }
    assert(rows.toSeq == sorted.toSeq)
  }

  test("ordersByDateRange composes the predicate only when BOTH bounds are present") {
    def rows(from: Option[String], to: Option[String]) =
      Analytics.ordersByDateRange(spark, Sf0001, from, to)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val unbounded = rows(None, None)
    // reference semantics (routes/analytics.js:63-67): a lone bound is ignored
    assert(rows(Some("1997-01-01"), None) == unbounded)
    assert(rows(None, Some("1997-12-31")) == unbounded)
    assert(unbounded ==
      Analytics.ordersByDate(spark, Sf0001)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq)
    val bounded = rows(Some("1997-01-01"), Some("1997-12-31"))
    assert(bounded.nonEmpty && bounded.size < unbounded.size)
    assert(bounded.forall { case (d, _, _) => d >= "1997-01-01" && d <= "1997-12-31" })
    // the bounded result is exactly the unbounded one restricted to the range
    assert(bounded ==
      unbounded.filter { case (d, _, _) => d >= "1997-01-01" && d <= "1997-12-31" })
  }

  test("dedup_metrics_approx gate query reports the HLL inside its bound") {
    val r = SparkEntry.queries("dedup_metrics_approx")(spark, Sf0001).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Boolean]("approx_within_15pct"))
  }

  test("multimodal stub decode is deterministic and schema-stable") {
    val docs = Tables.documents(spark, Sf0001).limit(50)
    val m1 = Multimodal.extractMeta(Multimodal.mediaFromDocuments(docs))
      .orderBy("doc_id").collect().toSeq
    val m2 = Multimodal.extractMeta(Multimodal.mediaFromDocuments(docs))
      .orderBy("doc_id").collect().toSeq
    assert(m1 == m2)
    assert(m1.head.schema.fieldNames.toSeq ==
      Seq("doc_id", "width", "height", "format", "n_frames"))
  }

  test("upsert query: updated keys carry the new price, others unchanged") {
    val orig = Tables.orders(spark, Sf0001)
      .filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"), round(col("o_totalprice") * 1.1, 2).as("exp"))
    val merged = SparkEntry.queries("upsert_orders")(spark, Sf0001)
      .filter(col("o_orderkey") % 100 === 0)
    val joined = merged.join(orig, "o_orderkey")
      .filter(col("o_totalprice") =!= col("exp")).count()
    assert(joined == 0)
  }
}
