package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.DecontamStream
import graft.operators.Prep

class DecontamStreamSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def tmp(): String = tempDir("decontam")
  private def docs = Tables.documents(spark, Sf0001)

  private def flags(out: String): Set[(Long, Boolean, Long)] =
    DecontamStream.readFlags(spark, out).as[(Long, Boolean, Long)].collect().toSet

  private def batchRun: Set[(Long, Boolean, Long)] =
    Prep.decontaminate(spark, Sf0001).as[(Long, Boolean, Long)].collect().toSet

  test("benchmark-first delivery reproduces the batch decontaminate exactly") {
    val state = tmp(); val out = tmp()
    val isBench = pmod(col("doc_id"), lit(10)) === 0
    DecontamStream.applyBatch(spark, docs.filter(isBench), 0L, state, out)
    DecontamStream.applyBatch(spark,
      docs.filter(!isBench && col("doc_id") % 3 === 1), 1L, state, out)
    DecontamStream.applyBatch(spark,
      docs.filter(!isBench && col("doc_id") % 3 =!= 1), 2L, state, out)
    assert(flags(out) == batchRun)
  }

  test("late benchmark docs only under-flag, never over-flag; replay is a no-op") {
    val state = tmp(); val out = tmp()
    // interleave: half the benchmark arrives AFTER most training docs
    val isBench = pmod(col("doc_id"), lit(10)) === 0
    DecontamStream.applyBatch(spark,
      docs.filter(isBench && col("doc_id") < 250), 0L, state, out)
    DecontamStream.applyBatch(spark, docs.filter(!isBench), 1L, state, out)
    DecontamStream.applyBatch(spark,
      docs.filter(isBench && col("doc_id") >= 250), 2L, state, out)
    val streamed = flags(out)
    val full = batchRun
    val fullByDoc = full.map(f => f._1 -> f).toMap
    assert(streamed.map(_._1) == full.map(_._1)) // same training docs
    streamed.foreach { case (id, flag, n) =>
      val (_, fullFlag, fullN) = fullByDoc(id)
      assert(n <= fullN, s"doc $id over-counted")
      assert(!flag || fullFlag, s"doc $id over-flagged")
    }
    // crash-recovery replay of the middle batch rewrites identical flags
    val before = streamed
    DecontamStream.applyBatch(spark, docs.filter(!isBench), 1L, state, out)
    assert(flags(out) == before)
  }

  test("compactState folds shingle dirs; a post-compaction replay keeps the flag contract") {
    val state = tmp(); val out = tmp()
    val isBench = pmod(col("doc_id"), lit(10)) === 0
    DecontamStream.applyBatch(spark, docs.filter(isBench), 0L, state, out)
    DecontamStream.applyBatch(spark, docs.filter(!isBench), 1L, state, out)
    val before = flags(out)
    DecontamStream.compactState(spark, state)
    val fs = graft.functions.FsUtils.fs(spark, s"$state/bench_shingles")
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$state/bench_shingles"))
      .filter(_.isDirectory).map(_.getPath.getName).toSeq
    assert(dirs == Seq("batch=-1"))
    // replay of the training batch AFTER compaction: its state dir is gone
    // (watermark=false — no foldmeta), so it re-commits its (empty)
    // benchmark shingles and re-flags against the folded distinct union —
    // the same set its first delivery saw, so flags are byte-identical
    DecontamStream.applyBatch(spark, docs.filter(!isBench), 1L, state, out)
    assert(flags(out) == before)
    assert(flags(out) == batchRun) // benchmark fully delivered -> batch equality
    // double compaction (now including batch=-1 itself) is stable
    DecontamStream.compactState(spark, state)
    DecontamStream.applyBatch(spark, docs.filter(!isBench), 1L, state, out)
    assert(flags(out) == before)
  }

  test("readFlags is empty on fresh state and after bench-only delivery") {
    assert(DecontamStream.readFlags(spark, tmp() + "/none").collect().isEmpty)
    val state = tmp(); val out = tmp()
    // benchmark-only batch: training side is empty -> file-less out dir
    DecontamStream.applyBatch(spark,
      docs.filter(Prep.isBenchDoc), 0L, state, out)
    assert(DecontamStream.readFlags(spark, out).collect().isEmpty)
  }

  test("file-source wrapper flags end-to-end") {
    val state = tmp(); val out = tmp(); val in = tmp(); val ckpt = tmp()
    val isBench = pmod(col("doc_id"), lit(10)) === 0
    docs.filter(isBench).write.parquet(s"$in/drop0")
    val q = DecontamStream.run(spark, s"$in/drop*", state, out, ckpt, docs)
    q.processAllAvailable()
    docs.filter(!isBench).write.parquet(s"$in/drop1")
    q.processAllAvailable()
    q.stop()
    assert(flags(out) == batchRun)
  }
}
