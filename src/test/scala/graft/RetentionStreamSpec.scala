package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Behavior
import graft.streaming.RetentionStream

class RetentionStreamSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    tempDir("graft-ret-stream")

  private def events = Tables.events(spark, Sf0001)

  private def splits(df: DataFrame, n: Int): Seq[DataFrame] =
    (0 until n).map(i => df.filter(pmod(col("event_id"), lit(n)) === i))

  private def matrix(st: String) =
    RetentionStream.currentRetention(spark, st).collect().toSeq

  test("fold ≡ one-shot retention, any batching") {
    val oneShot = Behavior.retention(events).collect().toSeq
    assert(oneShot.nonEmpty)
    for (nB <- Seq(1, 3, 5)) {
      val st = tmp()
      splits(events, nB).zipWithIndex.foreach { case (b, i) =>
        assert(RetentionStream.applyBatch(spark, b, i, st))
      }
      assert(matrix(st) == oneShot, s"batching $nB diverged")
    }
  }

  test("cohort revision: late-arriving earliest week re-ages the cohort") {
    val st = tmp()
    val e = Seq(
      (1L, "2024-01-16 10:00:00"), // week of 2024-01-15 arrives FIRST
      (1L, "2024-01-02 10:00:00")) // true cohort week 2024-01-01 arrives later
      .map { case (u, t) => (u, java.sql.Timestamp.valueOf(t)) }
      .toDF("user_id", "ts")
    assert(RetentionStream.applyBatch(spark, e.limit(1), 0, st))
    val early = matrix(st).map(r => (r.getString(0), r.getLong(1)))
    assert(early == Seq(("2024-01-15", 0L)))
    assert(RetentionStream.applyBatch(spark, e.filter(col("ts") < "2024-01-10"), 1, st))
    val revised = matrix(st).map(r => (r.getString(0), r.getLong(1)))
    assert(revised == Seq(("2024-01-01", 0L), ("2024-01-01", 2L)))
  }

  test("replay no-op; replay-after-compaction harmless; compaction lossless") {
    val st = tmp()
    val bs = splits(events, 4)
    bs.zipWithIndex.foreach { case (b, i) =>
      RetentionStream.applyBatch(spark, b, i, st) }
    val before = matrix(st)
    // dir-exists short-circuit
    assert(!RetentionStream.applyBatch(spark, bs(1), 1, st))
    assert(matrix(st) == before)
    RetentionStream.compactState(spark, st)
    assert(matrix(st) == before)
    // a replay of an ALREADY-FOLDED batch re-lands its dir (compaction
    // removed it) — idempotent set state makes it harmless by construction
    assert(RetentionStream.applyBatch(spark, bs(2), 2, st))
    assert(matrix(st) == before)
    // and a second compaction folds it back to one dir, same matrix
    RetentionStream.compactState(spark, st)
    assert(matrix(st) == before)
  }

  test("crash inside the compaction swap heals on next read") {
    val st = tmp()
    splits(events, 2).zipWithIndex.foreach { case (b, i) =>
      RetentionStream.applyBatch(spark, b, i, st) }
    val before = matrix(st)
    // simulate: compaction wrote uw.tmp, deleted uw, crashed before rename
    val fs = graft.functions.FsUtils.fs(spark, st)
    val uw = new org.apache.hadoop.fs.Path(s"$st/uw")
    val t = new org.apache.hadoop.fs.Path(s"$st/uw.tmp")
    RetentionStream.readState(spark, st) // ensure state exists
    val folded = spark.read.parquet(uw.toString).select("user_id", "wk").distinct()
    folded.coalesce(1).write.mode("overwrite").parquet(s"$t/batch=-1")
    fs.delete(uw, true)
    assert(matrix(st) == before, "heal preamble did not recover the swap")
  }

  test("auto-compaction bounds the dir count") {
    val st = tmp()
    splits(events, 6).zipWithIndex.foreach { case (b, i) =>
      RetentionStream.applyBatch(spark, b, i, st, autoCompactBatches = 3) }
    val fs = graft.functions.FsUtils.fs(spark, st)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$st/uw"))
      .count(_.getPath.getName.startsWith("batch="))
    assert(dirs <= 4, s"auto-compaction did not bound dirs: $dirs")
    assert(matrix(st) == Behavior.retention(events).collect().toSeq)
  }

  test("file-source stream end-to-end equals batch retention") {
    val st = tmp(); val in = tmp(); val ck = tmp()
    val q = RetentionStream.runFileStream(spark, in, st, ck, events)
    try {
      splits(events, 3).foreach { b =>
        b.write.mode("append").parquet(in)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(matrix(st) == Behavior.retention(events).collect().toSeq)
  }
}
