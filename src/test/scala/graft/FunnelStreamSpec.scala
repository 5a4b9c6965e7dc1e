package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Behavior
import graft.streaming.FunnelStream

class FunnelStreamSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    tempDir("graft-funnel-stream")

  private def events = Tables.events(spark, Sf0001)

  /** Event-time IN-ORDER batches (the stream's delivery contract): global
    * ts order chopped into n contiguous ranges. */
  private def orderedSplits(df: DataFrame, n: Int): Seq[DataFrame] = {
    val total = df.count()
    val sz = (total + n - 1) / n
    val rn = df.withColumn("__rn",
      row_number().over(Window.orderBy(col("ts"), col("event_id"))))
    (0 until n).map(i =>
      rn.filter(col("__rn") > i * sz && col("__rn") <= (i + 1) * sz).drop("__rn"))
  }

  private def funnel(st: String) =
    FunnelStream.currentFunnel(spark, st).collect().toSeq

  test("in-order fold ≡ one-shot funnel, any batching") {
    val oneShot = Behavior.funnel(events).collect().toSeq
    assert(oneShot.map(_.getLong(2)).head > 0)
    for (nB <- Seq(1, 3, 5)) {
      val st = tmp()
      orderedSplits(events, nB).zipWithIndex.foreach { case (b, i) =>
        assert(FunnelStream.applyBatch(spark, b, i, st))
      }
      assert(funnel(st) == oneShot, s"batching $nB diverged")
    }
  }

  test("same-batch view→click and cross-batch stage completion") {
    def ev(rows: (Long, String, String)*) =
      rows.map { case (u, t, at) => (u, t, Timestamp.valueOf(at)) }
        .toDF("user_id", "event_type", "ts")
    val st = tmp()
    // batch 0: u1 completes view+click together; u2 views only
    assert(FunnelStream.applyBatch(spark, ev(
      (1L, "view", "2024-01-01 10:00:00"),
      (1L, "click", "2024-01-01 11:00:00"),
      (2L, "view", "2024-01-01 12:00:00")), 0, st))
    val f0 = funnel(st).map(_.getLong(2))
    assert(f0 == Seq(2L, 1L, 0L))
    // batch 1 (later event time): u1 purchases, u2 clicks
    assert(FunnelStream.applyBatch(spark, ev(
      (1L, "purchase", "2024-01-02 09:00:00"),
      (2L, "click", "2024-01-02 10:00:00")), 1, st))
    val f1 = funnel(st).map(_.getLong(2))
    assert(f1 == Seq(2L, 2L, 1L))
    // equal-timestamp events do NOT advance a stage (strictly-after)
    assert(FunnelStream.applyBatch(spark, ev(
      (3L, "view", "2024-01-03 10:00:00"),
      (3L, "click", "2024-01-03 10:00:00")), 2, st))
    assert(funnel(st).map(_.getLong(2)) == Seq(3L, 2L, 1L))
  }

  test("k-step fold: 5-step and 2-step streams ≡ one-shot k-step funnel") {
    for (steps <- Seq(
        Seq("signup", "view", "click", "purchase", "error"),
        Seq("view", "purchase"))) {
      val oneShot = Behavior.funnel(events, steps).collect().toSeq
      val st = tmp()
      orderedSplits(events, 3).zipWithIndex.foreach { case (b, i) =>
        assert(FunnelStream.applyBatch(spark, b, i, st, steps))
      }
      assert(FunnelStream.currentFunnel(spark, st, steps).collect().toSeq
        == oneShot, s"k=${steps.size} diverged")
    }
  }

  test("replay guard: batchId ≤ lastApplied is a no-op") {
    val st = tmp()
    val bs = orderedSplits(events, 3)
    bs.zipWithIndex.foreach { case (b, i) =>
      assert(FunnelStream.applyBatch(spark, b, i, st)) }
    val before = funnel(st)
    assert(!FunnelStream.applyBatch(spark, bs(1), 1, st))
    assert(!FunnelStream.applyBatch(spark, bs(0), 0, st))
    assert(funnel(st) == before)
    assert(FunnelStream.lastApplied(spark, st) == 2L)
  }

  test("re-apply after a crash between state and meta swaps is idempotent") {
    val st = tmp()
    val bs = orderedSplits(events, 2)
    assert(FunnelStream.applyBatch(spark, bs(0), 0, st))
    assert(FunnelStream.applyBatch(spark, bs(1), 1, st))
    val before = funnel(st)
    // simulate the crash window: state holds batch 1's fold but meta still
    // says 0 — the redelivered batch must pass the guard and re-merge to
    // the SAME state (null-filling merge, same inputs)
    val fs = graft.functions.FsUtils.fs(spark, st)
    val meta = new org.apache.hadoop.fs.Path(s"$st/meta")
    fs.delete(meta, true)
    Seq(0L).toDF("batch").coalesce(1).write.mode("overwrite").parquet(meta.toString)
    spark.catalog.refreshByPath(meta.toString)
    assert(FunnelStream.applyBatch(spark, bs(1), 1, st))
    assert(funnel(st) == before)
  }

  test("crash inside the state swap heals on next read") {
    val st = tmp()
    val bs = orderedSplits(events, 2)
    assert(FunnelStream.applyBatch(spark, bs(0), 0, st))
    val before = funnel(st)
    val fs = graft.functions.FsUtils.fs(spark, st)
    val dst = new org.apache.hadoop.fs.Path(s"$st/funnel")
    val t = new org.apache.hadoop.fs.Path(s"$st/funnel.tmp")
    val cur = spark.read.parquet(dst.toString).localCheckpoint(true)
    cur.coalesce(1).write.mode("overwrite").parquet(t.toString)
    fs.delete(dst, true)
    assert(funnel(st) == before, "heal preamble did not recover the swap")
  }

  test("file-source stream end-to-end equals batch funnel") {
    val st = tmp(); val in = tmp(); val ck = tmp()
    val q = FunnelStream.runFileStream(spark, in, st, ck, events)
    try {
      orderedSplits(events, 3).foreach { b =>
        b.write.mode("append").parquet(in)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(funnel(st) == Behavior.funnel(events).collect().toSeq)
  }
}
