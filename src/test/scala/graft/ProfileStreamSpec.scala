package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Profile
import graft.operators.Profile.{NumCol, StrCol}
import graft.streaming.ProfileStream

class ProfileStreamSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val cols = Seq("doc_id" -> NumCol, "lang" -> StrCol,
    "source" -> StrCol, "n_chars" -> NumCol)
  private val K = 64 // doc_id/n_chars overflow at sf0.001 — the θ path fires

  private def tmp(): String =
    tempDir("graft-profile-stream")

  private def docs = Tables.documents(spark, Sf0001)

  private def splits(df: DataFrame, n: Int): Seq[DataFrame] =
    (0 until n).map(i => df.filter(pmod(col("doc_id"), lit(n)) === i))

  test("stream fold ≡ one-shot sketched profile, any batching") {
    val oneShot = Profile.profileTheta(docs, cols, K).collect().toSeq
    for (nB <- Seq(1, 3, 5)) {
      val st = tmp()
      splits(docs, nB).zipWithIndex.foreach { case (b, i) =>
        assert(ProfileStream.applyBatch(spark, b, i, st, cols, k = K))
      }
      val got = ProfileStream.currentProfile(spark, st, K).collect().toSeq
      assert(got == oneShot, s"batching $nB diverged")
    }
  }

  test("replay is a no-op; profile unchanged") {
    val st = tmp()
    val bs = splits(docs, 2)
    assert(ProfileStream.applyBatch(spark, bs(0), 0, st, cols, k = K))
    assert(ProfileStream.applyBatch(spark, bs(1), 1, st, cols, k = K))
    val before = ProfileStream.currentProfile(spark, st, K).collect().toSeq
    assert(!ProfileStream.applyBatch(spark, bs(0), 0, st, cols, k = K))
    assert(ProfileStream.currentProfile(spark, st, K).collect().toSeq == before)
  }

  test("compaction preserves the profile exactly; folded replays are skipped") {
    val st = tmp()
    val bs = splits(docs, 4)
    bs.zipWithIndex.foreach { case (b, i) =>
      ProfileStream.applyBatch(spark, b, i, st, cols, k = K) }
    val before = ProfileStream.currentProfile(spark, st, K).collect().toSeq
    ProfileStream.compactState(spark, st, K)
    assert(ProfileStream.currentProfile(spark, st, K).collect().toSeq == before)
    assert(ProfileStream.foldedUpto(spark, st) == 3L)
    // a replay of a folded batch must be skipped even though its dir is gone
    assert(!ProfileStream.applyBatch(spark, bs(1), 1, st, cols, k = K))
    assert(ProfileStream.currentProfile(spark, st, K).collect().toSeq == before)
    // new batches keep folding after compaction
    val extra = Seq((9001L, "xx", "s9", 7L)).toDF("doc_id", "lang", "source", "n_chars")
    assert(ProfileStream.applyBatch(spark, extra, 4, st, cols, k = K))
    val after = ProfileStream.currentProfile(spark, st, K).collect()
    assert(after.find(_.getString(0) == "doc_id").get.getLong(1) == 501L)
  }

  test("null columns fold correctly through the stream") {
    val rows = Seq(
      (1L, Some("en"), Some("a"), Some(10L)),
      (2L, None, Some("b"), None),
      (3L, None, None, Some(30L)))
      .toDF("doc_id", "lang", "source", "n_chars")
    val st = tmp()
    ProfileStream.applyBatch(spark, rows.filter(col("doc_id") < 3), 0, st, cols, k = K)
    ProfileStream.applyBatch(spark, rows.filter(col("doc_id") >= 3), 1, st, cols, k = K)
    val got = ProfileStream.currentProfile(spark, st, K).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("lang").getLong(2) == 2 && got("lang").getDouble(3) == 1.0)
    assert(got("n_chars").getLong(2) == 1 && got("n_chars").getDouble(3) == 2.0)
    assert(got("n_chars").getDouble(4) == 10.0 && got("n_chars").getDouble(5) == 30.0)
    assert(got("n_chars").getDouble(6) == 20.0) // mean over non-null
    val oneShot = Profile.profileTheta(rows, cols, K).collect()
      .map(r => r.getString(0) -> r).toMap
    cols.map(_._1).foreach(c => assert(got(c) == oneShot(c)))
  }

  test("production xxhash64 (64-bit domain) folds identically to its one-shot") {
    val st = tmp()
    splits(docs, 3).zipWithIndex.foreach { case (b, i) =>
      ProfileStream.applyBatch(spark, b, i, st, cols, k = K, hash = Profile.Xx64) }
    val got = ProfileStream.currentProfile(spark, st, K, Profile.Xx64).collect().toSeq
    assert(got == Profile.profileTheta(docs, cols, K, Profile.Xx64).collect().toSeq)
  }

  test("interrupted temp-swap heals on the next state access") {
    val st = tmp()
    splits(docs, 2).zipWithIndex.foreach { case (b, i) =>
      ProfileStream.applyBatch(spark, b, i, st, cols, k = K) }
    val before = ProfileStream.currentProfile(spark, st, K).collect().toSeq
    // simulate the crash window: dst deleted, only .tmp survives
    val fs = graft.functions.FsUtils.fs(spark, st)
    val stats = new org.apache.hadoop.fs.Path(s"$st/stats")
    val tmpP = new org.apache.hadoop.fs.Path(s"$st/stats.tmp")
    assert(fs.rename(stats, tmpP))
    assert(ProfileStream.currentProfile(spark, st, K).collect().toSeq == before)
  }

  test("auto-compaction bounds the state dir count") {
    val st = tmp()
    splits(docs, 8).zipWithIndex.foreach { case (b, i) =>
      ProfileStream.applyBatch(spark, b, i, st, cols, k = K, autoCompactBatches = 3) }
    val fs = graft.functions.FsUtils.fs(spark, st)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$st/stats"))
      .count(_.getPath.getName.startsWith("batch="))
    assert(dirs <= 4, s"state dirs not bounded: $dirs")
    assert(ProfileStream.currentProfile(spark, st, K).collect().toSeq ==
      Profile.profileTheta(docs, cols, K).collect().toSeq)
  }

  test("file-source end-to-end: drops → state + as-of snapshots") {
    val in = tmp(); val st = tmp(); val out = tmp(); val ck = tmp()
    val bs = splits(docs, 2)
    bs(0).write.mode("append").parquet(in)
    val q = ProfileStream.runFileStream(spark, in, st, out, ck, docs, cols, k = K)
    try {
      q.processAllAvailable()
      bs(1).write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()
    assert(ProfileStream.currentProfile(spark, st, K).collect().toSeq ==
      Profile.profileTheta(docs, cols, K).collect().toSeq)
    // snapshots exist per batch and the last equals the current profile
    val snaps = spark.read.parquet(out)
    assert(snaps.select("batch").distinct().count() == 2)
    val last = snaps.filter(col("batch") === 1).drop("batch")
      .orderBy("col_name").collect().toSeq
    assert(last == ProfileStream.currentProfile(spark, st, K).collect().toSeq)
  }
}
