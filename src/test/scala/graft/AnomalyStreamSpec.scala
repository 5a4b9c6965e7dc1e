package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Monitor
import graft.streaming.AnomalyStream

class AnomalyStreamSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    tempDir("graft-anomaly-stream")

  private def eventsOn(dayCounts: Seq[(String, Int)]): DataFrame =
    dayCounts.flatMap { case (d, n) =>
      (0 until n).map(i =>
        (d.hashCode.toLong * 1000 + i, Timestamp.valueOf(s"$d 10:00:00")))
    }.toDF("event_id", "ts")

  private val days =
    (1 to 20).map(d => (f"2024-05-$d%02d", if (d == 14) 80 else 8 + (d * 5) % 7))
  private def events = eventsOn(days)

  // batches split by event id — a single DAY's events land across several
  // batches, the additive-growth case the scaladoc claims
  private def splits(df: DataFrame, n: Int): Seq[DataFrame] =
    (0 until n).map(i => df.filter(pmod(col("event_id"), lit(n)) === i))

  test("fold ≡ one-shot dailyAnomalies, any batching (days split across batches)") {
    val oneShot = Monitor.dailyAnomalies(events).collect().toSeq
    for (nB <- Seq(1, 3, 5)) {
      val st = tmp()
      splits(events, nB).zipWithIndex.foreach { case (b, i) =>
        assert(AnomalyStream.applyBatch(spark, b, i, st))
      }
      val got = AnomalyStream.currentAnomalies(spark, st).collect().toSeq
      assert(got == oneShot, s"batching $nB diverged")
    }
  }

  test("replay no-op; compaction lossless; folded replays skipped") {
    val st = tmp()
    val bs = splits(events, 4)
    bs.zipWithIndex.foreach { case (b, i) =>
      AnomalyStream.applyBatch(spark, b, i, st) }
    val before = AnomalyStream.currentAnomalies(spark, st).collect().toSeq
    assert(!AnomalyStream.applyBatch(spark, bs(1), 1, st))
    AnomalyStream.compactState(spark, st)
    assert(AnomalyStream.currentAnomalies(spark, st).collect().toSeq == before)
    assert(AnomalyStream.foldedUpto(spark, st) == 3L)
    assert(!AnomalyStream.applyBatch(spark, bs(2), 2, st))
    assert(AnomalyStream.currentAnomalies(spark, st).collect().toSeq == before)
  }

  test("late arrivals revise a day's verdict (additive fold, no first-write-wins)") {
    // quiet baseline; day 10's events arrive in TWO batches: after the
    // first it looks ordinary, after the late batch it is a spike
    // slight variance so the trailing sd is nonzero (sd = 0 ⇒ null z)
    val base = (1 to 9).map(d => (f"2024-06-$d%02d", 9 + d % 3))
    val st = tmp()
    assert(AnomalyStream.applyBatch(spark,
      eventsOn(base :+ ("2024-06-10" -> 11)), 0, st))
    val early = AnomalyStream.currentAnomalies(spark, st).collect()
      .find(_.getString(0) == "2024-06-10").get
    assert(early.getInt(3) == 0, "ordinary partial count must not flag")
    // late batch: 60 more events for day 10 (same day, new event ids)
    assert(AnomalyStream.applyBatch(spark,
      eventsOn(Seq("2024-06-10" -> 60)), 1, st))
    val late = AnomalyStream.currentAnomalies(spark, st).collect()
      .find(_.getString(0) == "2024-06-10").get
    assert(late.getLong(1) == 71L, "late events must ADD to the day count")
    assert(late.getInt(3) == 1, "completed spike must flag")
    // and the revised state still equals the one-shot over the union
    val union = eventsOn(base ++ Seq("2024-06-10" -> 11, "2024-06-10" -> 60))
    assert(AnomalyStream.currentAnomalies(spark, st).collect().toSeq ==
      Monitor.dailyAnomalies(union).collect().toSeq)
  }

  test("file-source stream end-to-end folds to the one-shot anomalies") {
    val st = tmp(); val in = tmp(); val cp = tmp()
    val bs = splits(events, 3)
    val q = AnomalyStream.runFileStream(spark, in, st, cp,
      schemaFrom = events, autoCompactBatches = 2)
    try {
      bs.foreach { b =>
        b.write.mode("append").parquet(in)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(AnomalyStream.currentAnomalies(spark, st).collect().toSeq ==
      Monitor.dailyAnomalies(events).collect().toSeq)
  }
}
