package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Layout, Profile, Quality}

/** The governance loop END-TO-END: one profile pass drives BOTH
  * downstream planners — constraint suggestion (profile → suggestChecks →
  * validate, the Deequ loop) and physical-layout advice (profile →
  * adviseZOrder → writeZOrdered → pruned band read). Each stage is
  * spec-pinned on its own elsewhere; this pins the HANDOFFS: the profile's
  * output schema is what both consumers parse, the suggested constraints
  * hold on the data that produced them, and the advised layout actually
  * serves the advised-band read with the same rows as the unclustered
  * table (rows are layout-invariant — the rewrite's correctness claim). */
class GovernanceLoopSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"
  private def orders = Tables.orders(spark, dir)

  test("profile → suggested constraints → validation: the suite passes on its own data") {
    val prof = Profile.profile(orders,
      Seq("o_orderkey" -> Profile.NumCol, "o_custkey" -> Profile.NumCol,
        "o_totalprice" -> Profile.NumCol)).collect().toSeq
    val suggested = Quality.suggestChecks(prof)
    // observed-data constraints must include the key facts...
    assert(suggested.contains(Quality.NotNull("o_orderkey")))
    assert(suggested.contains(Quality.Unique("o_orderkey")))
    assert(suggested.exists { case Quality.InRange("o_totalprice", lo, hi, _) =>
      lo > 0 && hi > lo; case _ => false })
    // ...and the whole suggested suite passes by construction
    val report = Quality.validate(orders, suggested).collect()
    assert(report.nonEmpty && report.forall(_.getBoolean(6)))
  }

  test("profile → layout advice → z-ordered write → pruned band read returns the unclustered rows") {
    val nFiles = 16
    val advice = Layout.adviseZOrderFor(orders,
      Seq("o_orderkey", "o_custkey", "o_totalprice"), nFiles)
    assert(advice.isDefined)
    val a = advice.get
    // the fixture's widest columns win and the prediction is a fraction
    assert(Set(a.colA, a.colB).subsetOf(
      Set("o_orderkey", "o_custkey", "o_totalprice")))
    assert(a.expectedHitFraction > 0.0 && a.expectedHitFraction < 1.0)

    val out = tempDir("graft-govloop-z") + "/orders-z"
    Layout.writeZOrdered(
      orders.withColumn(a.colB, col(a.colB).cast("long")),
      a.colA, a.colB, out, nFiles, a.bits)
    val stats = orders.agg(
      min(col(a.colA)).cast("double"), max(col(a.colA)).cast("double"),
      min(col(a.colB)).cast("double"), max(col(a.colB)).cast("double")).head()
    val (aLo, aHi) = (stats.getDouble(0), stats.getDouble(1))
    val (bLo, bHi) = (stats.getDouble(2), stats.getDouble(3))
    def band(lo: Double, hi: Double, c: String) = {
      val w = hi - lo
      col(c) >= lo + 0.45 * w && col(c) <= lo + 0.55 * w
    }
    val pruned = spark.read.parquet(out)
      .filter(band(aLo, aHi, a.colA) && band(bLo, bHi, a.colB))
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    val reference = orders
      .withColumn(a.colB, col(a.colB).cast("long"))
      .filter(band(aLo, aHi, a.colA) && band(bLo, bHi, a.colB))
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(pruned.nonEmpty && pruned === reference)
  }
}
