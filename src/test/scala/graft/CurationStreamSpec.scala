package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Curation
import graft.streaming.CurationStream

/** Incremental curation is proven by batch-equivalence: with id-ordered
  * arrival (backfill/replay), the accumulated streamed output must equal
  * the one-shot batch pipeline over the same corpus. */
class CurationStreamSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val h60 = graft.functions.Hashing.h60 _
  // the jobs of one warm fold as measured, plus one of slack: a fold that
  // grows by more than one job (an eager checkpoint, count or schema
  // inference reintroduced per batch) fails the budget spec
  private val CurationBudget = 10

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "lang_pred", "quality", "char_len", "ws_tokens", "re_tokens")
      .as[(Long, String, Double, Long, Long, Long)].collect().toSet

  test("id-ordered incremental batches reproduce the batch pipeline exactly") {
    val tmp = tempDir("graft-cstream")
    val docs = Tables.documents(spark, Sf0001)
    val batchResult = rows(Curation.curate(spark, Sf0001, hashFn = h60))

    val cuts = Seq(0L, 150L, 300L, Long.MaxValue)
    val streamed = cuts.sliding(2).zipWithIndex.flatMap { case (Seq(lo, hi), i) =>
      val r = rows(CurationStream.curateBatch(spark,
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi), s"$tmp/state",
        batchId = i, hashFn = h60))
      // folding the append-only state logs must not change any election
      if (i == 1) CurationStream.compactState(spark, s"$tmp/state")
      r
    }.toSet
    assert(streamed == batchResult,
      s"streamed ${streamed.size} rows != batch ${batchResult.size}")
  }

  test("re-delivered batch is a no-op (exactly-once via state)") {
    val tmp = tempDir("graft-cstream2")
    val docs = Tables.documents(spark, Sf0001)
    val b1 = docs.filter(col("doc_id") < 200)
    val first = rows(CurationStream.curateBatch(spark, b1, s"$tmp/state",
      batchId = 0, hashFn = h60))
    assert(first.nonEmpty)
    val redelivered = rows(CurationStream.curateBatch(spark, b1, s"$tmp/state",
      batchId = 1, hashFn = h60))
    assert(redelivered.isEmpty, "re-delivery must add nothing")
  }

  test("auto-compaction triggers on the file threshold and moves nothing") {
    val tmp = tempDir("graft-cstream-auto")
    val docs = Tables.documents(spark, Sf0001)
    val batchResult = rows(Curation.curate(spark, Sf0001, hashFn = h60))
    val fs = graft.functions.FsUtils.fs(spark, tmp)
    def bucketFiles: Int = {
      val p = new org.apache.hadoop.fs.Path(s"$tmp/state/buckets")
      if (!fs.exists(p)) 0
      else {
        val it = fs.listFiles(p, true); var n = 0
        while (it.hasNext) { if (!it.next().getPath.getName.startsWith("_")) n += 1 }
        n
      }
    }
    // threshold 1 byte: EVERY batch crosses it → compaction runs inline after
    // each append, so the log's file count stays at one fold's worth
    // instead of growing per batch — and the output still equals the batch
    // pipeline (id-ordered arrival, same contract as the manual test)
    val cuts = Seq(0L, 150L, 300L, Long.MaxValue)
    var maxFiles = 0
    val streamed = cuts.sliding(2).zipWithIndex.flatMap { case (Seq(lo, hi), i) =>
      val r = rows(CurationStream.curateBatch(spark,
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi), s"$tmp/state",
        batchId = i, hashFn = h60, autoCompactBytes = 1L))
      maxFiles = math.max(maxFiles, bucketFiles)
      r
    }.toSet
    assert(streamed == batchResult,
      s"auto-compacted stream ${streamed.size} rows != batch ${batchResult.size}")
    // bounded: never more than one compacted fold's file count (4 test
    // shuffle partitions, plus a success marker filtered out above)
    assert(maxFiles <= 8, s"band log grew to $maxFiles files despite auto-compaction")
  }

  test("out-of-order arrival may over-keep but never drops a batch-kept doc") {
    val tmp = tempDir("graft-cstream4")
    val docs = Tables.documents(spark, Sf0001)
    val batchResult = rows(Curation.curate(spark, Sf0001, hashFn = h60))
    // reversed batch order: high ids first
    val streamed =
      rows(CurationStream.curateBatch(spark,
        docs.filter(col("doc_id") >= 250), s"$tmp/state", batchId = 0, hashFn = h60)) ++
      rows(CurationStream.curateBatch(spark,
        docs.filter(col("doc_id") < 250), s"$tmp/state", batchId = 1, hashFn = h60))
    // the contract: superset of the batch keep set (over-keep allowed,
    // drop never), and each streamed row's doc was at least exact-unique
    // and gate-passing (same row content whenever ids overlap)
    assert(batchResult.subsetOf(streamed),
      s"stream dropped ${(batchResult -- streamed).size} batch-kept docs")
  }

  test("file-source streaming wrapper accumulates the batch-equivalent output") {
    val tmp = tempDir("graft-cstream3")
    val docs = Tables.documents(spark, Sf0001)
    val batchResult = rows(Curation.curate(spark, Sf0001, hashFn = h60))
    docs.filter(col("doc_id") < 250).coalesce(1)
      .write.parquet(s"$tmp/in/b1")
    val q = CurationStream.runFileStream(spark, s"$tmp/in/*", s"$tmp/state",
      s"$tmp/out", s"$tmp/ckpt", docs, hashFn = h60)
    try {
      q.processAllAvailable()
      docs.filter(col("doc_id") >= 250).coalesce(1)
        .write.parquet(s"$tmp/in/b2")
      q.processAllAvailable()
    } finally q.stop()
    assert(rows(spark.read.parquet(s"$tmp/out")) == batchResult)
  }

  // --- hand-built corpora: the batch pipeline reads its corpus from a dir -

  private def tmpDir(tag: String) =
    tempDir(s"graft-cstream-$tag")

  private val base = Tables.documents(spark, Sf0001).filter(col("doc_id") < 300)

  /** `corpus` folded in id order over `cuts` (output under `dir/out`), and
    * the batch pipeline over the same corpus. */
  private def streamAndBatch(corpus: org.apache.spark.sql.DataFrame, cuts: Seq[Long],
                             dir: String) = {
    corpus.write.mode("overwrite").parquet(s"$dir/data/documents.parquet")
    val docs = spark.read.parquet(s"$dir/data/documents.parquet")
    cuts.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
      CurationStream.curateBatch(spark, docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
        s"$dir/state", batchId = i, outDir = Some(s"$dir/out"), hashFn = h60)
    }
    (rows(spark.read.parquet(s"$dir/out")),
      rows(Curation.curate(spark, s"$dir/data", hashFn = h60)))
  }

  /** A gate-passing document of `base` with id in [lo, hi). */
  private def keptIn(lo: Long, hi: Long): Long =
    rows(CurationStream.curateBatch(spark, base, tmpDir("probe") + "/state",
      batchId = 0, hashFn = h60)).map(_._1).filter(id => id >= lo && id < hi).min

  private def copyOf(id: Long, newId: Long) =
    base.filter(col("doc_id") === id).withColumn("doc_id", lit(newId))

  test("an exact-duplicate pair inside one batch keeps the min id, like the batch pipeline") {
    val x = keptIn(150, 300)
    val (streamed, batch) = streamAndBatch(base.unionByName(copyOf(x, 1000L)),
      Seq(0L, 150L, Long.MaxValue), tmpDir("dup-in-batch"))
    assert(streamed == batch)
    assert(streamed.exists(_._1 == x) && !streamed.exists(_._1 == 1000L))
  }

  test("a copy of a document from an earlier batch is dropped, like the batch pipeline") {
    val x = keptIn(0, 150)
    val (streamed, batch) = streamAndBatch(base.unionByName(copyOf(x, 1000L)),
      Seq(0L, 150L, Long.MaxValue), tmpDir("dup-across"))
    assert(streamed == batch)
    assert(streamed.exists(_._1 == x) && !streamed.exists(_._1 == 1000L))
  }

  test("a null-text row is never emitted") {
    val nullDoc = copyOf(keptIn(150, 300), 1000L).withColumn("text", lit(null).cast("string"))
    val (streamed, batch) = streamAndBatch(base.unionByName(nullDoc),
      Seq(0L, 150L, Long.MaxValue), tmpDir("null-text"))
    assert(streamed == batch)
    assert(!streamed.exists(_._1 == 1000L))
  }

  test("replay after the output commit but before the state appends equals an uninterrupted run") {
    val cuts = Seq(0L, 100L, 200L, 300L)
    val batches = cuts.sliding(2).map { case Seq(lo, hi) =>
      base.filter(col("doc_id") >= lo && col("doc_id") < hi) }.toSeq
    def fold(dir: String, i: Int) = CurationStream.curateBatch(spark, batches(i),
      s"$dir/state", batchId = i, outDir = Some(s"$dir/out"), hashFn = h60)
    def stateRows(dir: String, t: String) =
      spark.read.parquet(s"$dir/state/$t").collect().map(_.toString).toSet
    val clean = tmpDir("replay-clean")
    batches.indices.foreach(fold(clean, _))

    val crashed = tmpDir("replay-crash")
    fold(crashed, 0)
    // batch 1 commits its output, then "crashes": its state appends are
    // rolled back by restoring the state as it was before the batch
    val fs = graft.functions.FsUtils.fs(spark, crashed)
    val state = new org.apache.hadoop.fs.Path(s"$crashed/state")
    val saved = new org.apache.hadoop.fs.Path(s"$crashed/state-before-1")
    org.apache.hadoop.fs.FileUtil.copy(fs, state, fs, saved, false, spark.sparkContext.hadoopConfiguration)
    val firstTry = rows(fold(crashed, 1))
    fs.delete(state, true)
    assert(fs.rename(saved, state))
    spark.catalog.refreshByPath(state.toString)
    assert(rows(fold(crashed, 1)) == firstTry, "the replay recomputes the same rows")
    fold(crashed, 2)

    assert(rows(spark.read.parquet(s"$crashed/out")) == rows(spark.read.parquet(s"$clean/out")))
    for (t <- Seq("hashes", "buckets")) assert(stateRows(crashed, t) == stateRows(clean, t), t)
  }

  test("the returned frame has the batch pipeline's schema, doc_id type included") {
    val streamed = CurationStream.curateBatch(spark, base, tmpDir("schema") + "/state",
      batchId = 0, hashFn = h60)
    assert(streamed.schema == Curation.curate(spark, Sf0001, hashFn = h60).schema)
  }

  test("job budget: a warm second batch") {
    val dir = tmpDir("budget")
    CurationStream.curateBatch(spark, base.filter(col("doc_id") < 150), s"$dir/state",
      batchId = 0, outDir = Some(s"$dir/out"), hashFn = h60)
    val jobs = jobsOf(CurationStream.curateBatch(spark, base.filter(col("doc_id") >= 150),
      s"$dir/state", batchId = 1, outDir = Some(s"$dir/out"), hashFn = h60))
    assert(jobs <= CurationBudget, s"$jobs jobs > budget $CurationBudget")
  }
}
