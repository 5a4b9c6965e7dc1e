package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis
import graft.streaming.{LexStatsStream, PassageLex}

/** Passage-grain index lifecycle coverage (round 20): the corpus-level
  * verbs cascade into the chunk index correctly — sync diffs at window
  * grain, ids-only delete resolves live pids, serve over a churned index
  * equals a one-shot rebuild over the live corpus bitwise, and the pid
  * encoding fails loud on overflow instead of aliasing.
  */
class PassageLexSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def tmp(): String = tempDir("passagelex")
  private def docs = Tables.documents(spark, Sf0001).select("doc_id", "text")

  private def served(state: String) =
    PassageLex.bm25Topk(spark, state)
      .as[(Long, Long, Double)].collect().toSeq

  private def freshOver(corpus: org.apache.spark.sql.DataFrame) = {
    val p = tmp()
    PassageLex.applyBatch(spark, corpus, 0L, p)
    served(p)
  }

  test("sync cascades a corpus churn into the chunk index: served top-k " +
       "equals a one-shot rebuild over v2, post-compaction") {
    val state = tmp()
    PassageLex.applyBatch(spark, docs, 0L, state)
    PassageLex.sync(spark, state, docs, TextAnalysis.lexLiveV2Of(docs), 1L)
    LexStatsStream.compactState(spark, state)
    assert(served(state) == freshOver(TextAnalysis.lexLiveV2Of(docs)))
  }

  test("unchanged-prefix contract: a sync writes NO posting rows for " +
       "windows whose pid+text survived the re-chunk") {
    // the edit appends a suffix, so every changed doc's EARLY windows are
    // identical in v1 and v2 — the sync's append set must touch only the
    // re-chunked tail (pid churn bounded by the edit, not the doc length)
    val state = tmp()
    PassageLex.applyBatch(spark, docs, 0L, state)
    PassageLex.sync(spark, state, docs, TextAnalysis.lexLiveV2Of(docs), 1L)
    val appended = spark.read
      .parquet(s"$state/lexpost/batch=1")
      .select("doc_id").distinct()
      .as[Long].collect().toSet
    val v1 = PassageLex.chunkDocs(docs)
      .withColumnRenamed("text", "t1")
    val v2 = PassageLex.chunkDocs(TextAnalysis.lexLiveV2Of(docs))
    val unchanged = v2.join(v1, Seq("doc_id"))
      .filter(col("text") === col("t1"))
      .select("doc_id").as[Long].collect().toSet
    assert(appended.nonEmpty && (appended & unchanged).isEmpty)
  }

  test("ids-only deleteDocs retires every live chunk pid of the parents, " +
       "idempotently, with exact stats") {
    val state = tmp()
    PassageLex.applyBatch(spark, docs, 0L, state)
    val doomed = docs.filter($"doc_id" % 7 === 2).select("doc_id")
    PassageLex.deleteDocs(spark, state, doomed, 1L)
    val remaining = docs.filter($"doc_id" % 7 =!= 2)
    val expect = freshOver(remaining)
    assert(served(state) == expect)
    // replay of the same maintenance batch id converges (no double
    // subtraction: the stats-log guard + newly-hidden window)
    PassageLex.deleteDocs(spark, state, doomed, 1L)
    assert(served(state) == expect)
    // stats are exact, not just rank-preserving: the maintained sum equals
    // the one-shot aggregate over the live chunks
    val got = LexStatsStream.currentStats(spark, state)
      .filter($"df" =!= 0L || $"dl" =!= 0L || $"nd" =!= 0L)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val want = TextAnalysis.lexStatsOf(PassageLex.chunkDocs(remaining))
      .groupBy("term")
      .agg(sum("df").as("df"), sum("dl").as("dl"), sum("nd").as("nd"))
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == want)
  }

  test("as-of reads at chunk grain: live serves the v2 chunking while the " +
       "batch-0 cut still serves v1; refusal below the folded horizon") {
    val state = tmp()
    PassageLex.applyBatch(spark, docs, 0L, state)
    PassageLex.sync(spark, state, docs, TextAnalysis.lexLiveV2Of(docs), 1L)
    // live = v2 one-shot; as-of 0 = v1 one-shot — both bitwise
    assert(served(state) == freshOver(TextAnalysis.lexLiveV2Of(docs)))
    val asof0 = PassageLex.bm25TopkAsOf(spark, state, 0L)
      .as[(Long, Long, Double)].collect().toSeq
    assert(asof0 == freshOver(docs))
    // compaction folds batch 0+1 away: the point-in-time view below the
    // horizon is no longer reconstructible and the read must REFUSE
    LexStatsStream.compactState(spark, state)
    val e = intercept[IllegalArgumentException] {
      PassageLex.bm25TopkAsOf(spark, state, 0L).collect()
    }
    assert(e.getMessage.contains("folded horizon"))
  }

  test("rebucket at chunk grain: the 64->256 split leaves the served " +
       "passage ranking bitwise unchanged and subsequent reads resolve " +
       "the new bucket count") {
    val state = tmp()
    PassageLex.applyBatch(spark, docs, 0L, state)
    PassageLex.sync(spark, state, docs, TextAnalysis.lexLiveV2Of(docs), 1L)
    LexStatsStream.compactState(spark, state)
    val before = served(state)
    LexStatsStream.rebucketPostings(spark, state, 4 * TextAnalysis.LexBuckets)
    assert(LexStatsStream.postingBuckets(spark, state)
      == 4 * TextAnalysis.LexBuckets)
    assert(served(state) == before)
  }

  test("passage phrase: window-grain matches equal a token-level scan of " +
       "the chunk texts; a boundary-spanning phrase stays invisible at " +
       "this grain by construction") {
    val state = tmp()
    PassageLex.applyBatch(spark, docs, 0L, state)
    val got = PassageLex.phraseMatch(spark, state)
      .as[(Long, Long, Long)].collect().toSeq
    // first-principles truth: scan each chunk's token stream
    val phrase = TextAnalysis.PhraseTerms
    val expect = graft.operators.Prep.chunkTextsOf(docs)
      .select(col("doc_id"), col("chunk_idx"), split(col("text"), " ", -1).as("toks"))
      .as[(Long, Long, Seq[String])].collect()
      .map { case (d, c, toks) =>
        val n = toks.sliding(phrase.size)
          .count(w => w.size == phrase.size && w == phrase)
        (d, c, n.toLong)
      }
      .filter(_._3 > 0).sortBy(r => (r._1, r._2)).toSeq
    assert(got == expect && got.nonEmpty)
  }

  test("passage proximity + more-like-this: window-grain NEAR/k matches " +
       "the token scan; the seed window never recommends itself") {
    val state = tmp()
    PassageLex.applyBatch(spark, docs, 0L, state)
    val got = PassageLex.proximityMatch(spark, state)
      .as[(Long, Long, Long)].collect().toSeq
    val (ta, tb) = (TextAnalysis.PhraseTerms(0), TextAnalysis.PhraseTerms(1))
    val expect = graft.operators.Prep.chunkTextsOf(docs)
      .select(col("doc_id"), col("chunk_idx"), split(col("text"), " ", -1).as("toks"))
      .as[(Long, Long, Seq[String])].collect()
      .flatMap { case (d, c, toks) =>
        val pa = toks.zipWithIndex.collect { case (t, i) if t == ta => i }
        val pb = toks.zipWithIndex.collect { case (t, i) if t == tb => i }
        if (pa.isEmpty || pb.isEmpty) None
        else {
          val m = (for (a <- pa; b <- pb) yield math.abs(a - b)).min
          if (m <= TextAnalysis.ProximityDist) Some((d, c, m.toLong)) else None
        }
      }.sortBy(r => (r._1, r._2)).toSeq
    assert(got == expect && got.nonEmpty)
    val mlt = PassageLex.moreLikeThis(spark, state, docs)
      .as[(Long, Long, Double)].collect().toSeq
    assert(mlt.nonEmpty && !mlt.exists(r => r._1 == 0L && r._2 == 0L),
      "the seed window (pid 0) must be excluded from its own recommendations")
  }

  test("pid overflow fails loud instead of aliasing into the next doc") {
    val longDoc = Seq((5L, Seq.fill(24200)("tok").mkString(" ")))
      .toDF("doc_id", "text")
    val e = intercept[Throwable] {
      // materialize the pid column itself — a bare count() would let
      // column pruning drop the guarded projection entirely
      PassageLex.chunkDocs(longDoc).agg(max("doc_id")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("passage pid overflow")))
  }
}
