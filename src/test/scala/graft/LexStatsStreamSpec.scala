package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis
import graft.streaming.LexStatsStream

/** Maintained lexical-index coverage: the additive df/dl/nd fold is
  * bit-identical to the one-shot batch aggregate under any batching, BM25
  * served from the maintained stats equals the batch bm25Topk bitwise, and
  * the StateLog replay/compaction guards hold.
  */
class LexStatsStreamSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("lexstats").toString
  private def docs = Tables.documents(spark, Sf0001)

  private def statsRows(df: org.apache.spark.sql.DataFrame) =
    df.as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq

  private def batchStats = statsRows(
    TextAnalysis.lexStatsOf(docs)
      .groupBy("term").agg(sum("df").as("df"), sum("dl").as("dl"), sum("nd").as("nd")))

  private def foldAll(state: String, mod: Int = 3, compactAfter: Int = -1): Unit =
    for (b <- 0 until mod) {
      LexStatsStream.applyBatch(spark, docs.filter($"doc_id" % mod === b),
        b.toLong, state)
      if (b == compactAfter) LexStatsStream.compactState(spark, state)
    }

  test("folded stats over the union equal the one-shot aggregate, any batching") {
    for (mod <- Seq(1, 4)) {
      val state = tmp()
      foldAll(state, mod = mod)
      assert(statsRows(LexStatsStream.currentStats(spark, state)) == batchStats,
        s"mod=$mod")
    }
  }

  test("served BM25 from streamed stats is bitwise-identical to the batch form") {
    val state = tmp()
    foldAll(state)
    val served = LexStatsStream.bm25Topk(spark, state, docs)
      .as[(Long, Double)].collect().toSeq
    val batch = TextAnalysis.bm25Topk(spark, Sf0001)
      .as[(Long, Double)].collect().toSeq
    assert(served == batch)
  }

  test("served BM25 handles a term absent from the corpus (df=0 path)") {
    val state = tmp()
    foldAll(state)
    val out = LexStatsStream.bm25Topk(spark, state, docs,
      terms = Seq("dup", "zzz_no_such_token"), k = 5)
      .as[(Long, Double)].collect()
    assert(out.length == 5)
    // a missing term contributes 0 tf everywhere; scores stay finite
    assert(out.forall { case (_, s) => !s.isNaN && !s.isInfinite })
  }

  test("replay of a folded batch is skipped; counts never double") {
    val state = tmp()
    foldAll(state)
    val applied = LexStatsStream.applyBatch(spark,
      docs.filter($"doc_id" % 3 === 1), 1L, state)
    assert(!applied, "replay must short-circuit on the committed batch dir")
    assert(statsRows(LexStatsStream.currentStats(spark, state)) == batchStats)
  }

  test("replay AFTER compaction is skipped via the fold watermark; stats survive") {
    val state = tmp()
    foldAll(state)
    LexStatsStream.compactState(spark, state)
    assert(LexStatsStream.foldedUpto(spark, state) == 2L)
    val applied = LexStatsStream.applyBatch(spark,
      docs.filter($"doc_id" % 3 === 0), 0L, state)
    assert(!applied, "folded batch must be skipped via the watermark")
    assert(statsRows(LexStatsStream.currentStats(spark, state)) == batchStats)
    // and serving still reads the same answer off the folded state
    assert(LexStatsStream.bm25Topk(spark, state, docs)
      .as[(Long, Double)].collect().toSeq ==
      TextAnalysis.bm25Topk(spark, Sf0001).as[(Long, Double)].collect().toSeq)
  }

  test("file-source end-to-end: dropped parquet batches fold to the one-shot stats") {
    val in = tmp(); val state = tmp(); val ckpt = tmp()
    val q = LexStatsStream.runFileStream(spark, in, state, ckpt,
      schemaFrom = docs, autoCompactBatches = 2)
    try {
      for (b <- 0 to 2) {
        docs.filter($"doc_id" % 3 === b).coalesce(1)
          .write.mode("append").parquet(in)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(statsRows(LexStatsStream.currentStats(spark, state)) == batchStats)
    assert(LexStatsStream.bm25Topk(spark, state, docs)
      .as[(Long, Double)].collect().toSeq ==
      TextAnalysis.bm25Topk(spark, Sf0001).as[(Long, Double)].collect().toSeq)
  }

  test("mid-stream compaction composes with later batches") {
    val state = tmp()
    foldAll(state, mod = 3, compactAfter = 1)
    assert(statsRows(LexStatsStream.currentStats(spark, state)) == batchStats)
  }

  // --- posting lists (round 18) --------------------------------------------

  private def postingRows(df: org.apache.spark.sql.DataFrame) =
    df.select("term", "doc_id", "tf", "dl")
      .as[(String, Long, Long, Long)].collect().sorted.toSeq

  private def batchPostings(terms: Seq[String]) = postingRows(
    TextAnalysis.lexPostingsOf(docs).filter($"term".isin(terms: _*)))

  test("folded postings over the union equal the one-shot build, any batching") {
    val terms = TextAnalysis.Bm25Terms
    for (mod <- Seq(1, 4)) {
      val state = tmp()
      foldAll(state, mod = mod)
      assert(postingRows(LexStatsStream.currentPostings(spark, state, terms))
        == batchPostings(terms), s"mod=$mod")
    }
  }

  test("indexed BM25 (postings, no corpus access) is bitwise-identical to the batch form") {
    val state = tmp()
    foldAll(state)
    val indexed = LexStatsStream.bm25TopkIndexed(spark, state)
      .as[(Long, Double)].collect().toSeq
    val batch = TextAnalysis.bm25Topk(spark, Sf0001)
      .as[(Long, Double)].collect().toSeq
    assert(indexed == batch)
  }

  test("indexed BM25 survives compaction and replay; postings never double") {
    val state = tmp()
    foldAll(state, compactAfter = 1)
    LexStatsStream.compactState(spark, state)
    val replayed = LexStatsStream.applyBatch(spark,
      docs.filter($"doc_id" % 3 === 0), 0L, state)
    assert(!replayed, "folded batch must be skipped via the per-log watermarks")
    assert(postingRows(LexStatsStream.currentPostings(spark, state,
      TextAnalysis.Bm25Terms)) == batchPostings(TextAnalysis.Bm25Terms))
    assert(LexStatsStream.bm25TopkIndexed(spark, state)
      .as[(Long, Double)].collect().toSeq ==
      TextAnalysis.bm25Topk(spark, Sf0001).as[(Long, Double)].collect().toSeq)
  }

  test("indexed BM25 with a term absent from the corpus (empty posting list)") {
    val state = tmp()
    foldAll(state)
    val terms = Seq("dup", "zzz_no_such_token")
    val out = LexStatsStream.bm25TopkIndexed(spark, state, terms, k = 5)
      .as[(Long, Double)].collect()
    val served = LexStatsStream.bm25Topk(spark, state, docs, terms, k = 5)
      .as[(Long, Double)].collect()
    // candidates ('dup'-matching docs) outnumber k at this SF, so the
    // indexed read equals the corpus-scan form despite the dead term
    assert(out.toSeq == served.toSeq)
    assert(out.forall { case (_, s) => !s.isNaN && !s.isInfinite })
  }

  test("phrase match over positional postings equals a direct text scan") {
    val state = tmp()
    foldAll(state)
    for (phrase <- Seq(Seq("data", "query"), Seq("the", "data", "query"))) {
      val indexed = LexStatsStream.phraseMatch(spark, state, phrase)
        .as[(Long, Long)].collect().toSeq
      // first-principles truth: scan the text, count adjacent runs
      val direct = docs.select($"doc_id", split($"text", " ", -1).as("toks"))
        .as[(Long, Seq[String])].collect()
        .map { case (id, toks) =>
          id -> toks.indices.count(i =>
            i + phrase.size <= toks.size &&
            phrase.indices.forall(j => toks(i + j) == phrase(j))).toLong
        }
        .filter(_._2 > 0).sortBy(_._1).toSeq
      assert(indexed == direct, s"phrase=$phrase")
      assert(phrase.size > 2 || indexed.nonEmpty, s"gate phrase must match at sf0.001")
    }
  }

  test("snippets: earliest max-hit window, hand-checked on a constructed doc") {
    // hits at 0, 9, 10, 25 with window 8: window [4,12) covers {9,10} = 2
    // hits, but [3,11) and [2,10)... the EARLIEST start achieving max 2 is
    // start 2 (covers 9) — no wait: positions 9 and 10 both < start+8 needs
    // start >= 3 (9,10 in [3,11)); earliest is 3. Hand-check end-to-end.
    val doc = (("q w w w w w w w w q q w w w w w w w w w w w w w w q w w w w"), 1L)
    val df = Seq((doc._2, doc._1)).toDF("doc_id", "text")
    val out = TextAnalysis.snippetWindows(df, Seq("q"), window = 8)
      .as[(Long, Long, Long, String)].collect().head
    assert(out._2 == 3L && out._3 == 2L, s"got $out")
    assert(out._4 == "w w w w w w q q")
    assert(out._4.split(" ").length == 8)
  }

  test("snippets off the index equal snippets over the batch top-k rows") {
    val state = tmp()
    foldAll(state)
    val indexed = LexStatsStream.snippets(spark, state, docs)
      .as[(Long, Long, Long, String)].collect().toSeq
    val topIds = TextAnalysis.bm25Topk(spark, Sf0001, k = 5)
      .select("doc_id")
    val direct = TextAnalysis.snippetWindows(
        docs.join(topIds, Seq("doc_id"), "left_semi").select("doc_id", "text"),
        TextAnalysis.Bm25Terms)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(indexed == direct && indexed.size == 5)
    // every snippet is at most window tokens and contains ≥ 1 query term
    indexed.foreach { case (_, _, hits, sn) =>
      assert(sn.split(" ").length <= TextAnalysis.SnippetWindow)
      assert(hits >= 1 && TextAnalysis.Bm25Terms.exists(sn.split(" ").contains(_)))
    }
  }

  test("snippet row reads are PushedFilters point lookups, not a corpus join") {
    val state = tmp()
    foldAll(state)
    val plan = LexStatsStream.snippets(spark, state, docs)
      .queryExecution.executedPlan.toString
    // the ≤ k collected ids must reach the row-store scan as an In
    // predicate (row-group pruning on a sorted layout) — the scaladoc's
    // "point lookup" claim as a plan assertion
    assert(plan.contains("PushedFilters") && plan.contains("In(doc_id"),
      s"expected an In(doc_id, ...) pushed filter in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "snippet row reads must not shuffle-join the corpus")
  }

  test("facet counts off the postings equal a direct candidate scan") {
    val state = tmp()
    foldAll(state)
    val indexed = LexStatsStream.facetCounts(spark, state,
        docs.select("doc_id", "lang", "source"))
      .as[(String, String, Long)].collect().toSeq
    val terms = TextAnalysis.Bm25Terms
    val direct = docs
      .filter(terms.map(t =>
        array_contains(split($"text", " ", -1), t)).reduce(_ || _))
      .groupBy("lang", "source").agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "source")
      .as[(String, String, Long)].collect().toSeq
    assert(indexed == direct && indexed.nonEmpty)
  }

  test("proximity (NEAR/k) equals a direct text scan; phrase implies proximity") {
    val state = tmp()
    foldAll(state)
    val (ta, tb) = (TextAnalysis.PhraseTerms(0), TextAnalysis.PhraseTerms(1))
    val indexed = LexStatsStream.proximityMatch(spark, state)
      .as[(Long, Long)].collect().toMap
    val direct = docs.select($"doc_id", split($"text", " ", -1).as("toks"))
      .as[(Long, Seq[String])].collect()
      .flatMap { case (id, toks) =>
        val pa = toks.indices.filter(toks(_) == ta)
        val pb = toks.indices.filter(toks(_) == tb)
        if (pa.isEmpty || pb.isEmpty) None
        else {
          val d = (for (a <- pa; b <- pb) yield math.abs(a - b)).min.toLong
          if (d <= TextAnalysis.ProximityDist) Some(id -> d) else None
        }
      }.toMap
    assert(indexed == direct && indexed.nonEmpty)
    // every phrase match (adjacent, ordered) is a proximity match at dist 1
    val phraseIds = LexStatsStream.phraseMatch(spark, state)
      .select("doc_id").as[Long].collect().toSet
    assert(phraseIds.forall(id => indexed.get(id).contains(1L)))
  }

  test("phrase with a term absent from the corpus matches nothing") {
    val state = tmp()
    foldAll(state)
    assert(LexStatsStream.phraseMatch(spark, state,
      Seq("data", "zzz_no_such_token")).isEmpty)
  }

  test("posting reads partition-prune to the query terms' buckets") {
    val state = tmp()
    foldAll(state)
    val plan = LexStatsStream.currentPostings(spark, state, Seq("dup"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("pbucket"),
      s"expected pbucket partition filters in:\n$plan")
  }

  // --- delete/update lifecycle (round 19) -----------------------------------

  private def statsOf(d: org.apache.spark.sql.DataFrame) = statsRows(
    TextAnalysis.lexStatsOf(d)
      .groupBy("term").agg(sum("df").as("df"), sum("dl").as("dl"), sum("nd").as("nd")))

  private def nonzeroStats(state: String) = statsRows(
    LexStatsStream.currentStats(spark, state)
      .filter($"df" =!= 0L || $"dl" =!= 0L || $"nd" =!= 0L))

  test("deleteDocs: stats equal the one-shot aggregate over the live corpus; " +
       "postings exclude the docs; BM25 serves the live answer") {
    val state = tmp()
    foldAll(state)
    val delIds = docs.filter($"doc_id" % 10 === 3).select("doc_id")
    LexStatsStream.deleteDocs(spark, delIds, 3L, state)
    val live = docs.filter($"doc_id" % 10 =!= 3)
    // stats: negative addends cancel exactly (zero rows filtered for the
    // comparison — they fold away at compaction)
    assert(nonzeroStats(state) == statsOf(live))
    // postings: no deleted doc id survives the ceiling exclusion
    val served = LexStatsStream.currentPostings(spark, state, TextAnalysis.Bm25Terms)
    assert(served.filter($"doc_id" % 10 === 3).isEmpty)
    assert(postingRows(served) == postingRows(
      TextAnalysis.lexPostingsOf(live)
        .filter($"term".isin(TextAnalysis.Bm25Terms: _*))))
    // the whole serving ladder is live
    assert(LexStatsStream.bm25TopkIndexed(spark, state)
      .as[(Long, Double)].collect().toSeq ==
      TextAnalysis.bm25TopkOf(live).as[(Long, Double)].collect().toSeq)
  }

  test("deleteDocs is idempotent per batch id and a re-delete never " +
       "double-subtracts") {
    val state = tmp()
    foldAll(state)
    val delIds = docs.filter($"doc_id" % 10 === 3).select("doc_id")
    LexStatsStream.deleteDocs(spark, delIds, 3L, state)
    val after = nonzeroStats(state)
    // replay of the same maintenance batch: stats guard short-circuits
    LexStatsStream.deleteDocs(spark, delIds, 3L, state)
    assert(nonzeroStats(state) == after)
    // a LATER delete of already-hidden docs subtracts nothing (the
    // newly-hidden window is empty under the existing ceilings)
    LexStatsStream.deleteDocs(spark, delIds, 4L, state)
    assert(nonzeroStats(state) == after)
  }

  test("syncLexCorpus update: every serving surface equals a one-shot build " +
       "over v2, before and after compaction") {
    val state = tmp()
    LexStatsStream.applyBatch(spark, docs.select("doc_id", "text"), 0L, state)
    val v2 = TextAnalysis.lexLiveV2Of(docs)
    LexStatsStream.syncLexCorpus(spark, state,
      docs.select("doc_id", "text"), v2.select("doc_id", "text"), 1L)
    def checkAll(): Unit = {
      assert(nonzeroStats(state) == statsOf(v2))
      assert(LexStatsStream.bm25TopkIndexed(spark, state)
        .as[(Long, Double)].collect().toSeq ==
        TextAnalysis.bm25TopkOf(v2.select("doc_id", "text"))
          .as[(Long, Double)].collect().toSeq)
      // an edited doc serves its NEW generation only — no tf doubling: the
      // %13 docs gained one 'dup' occurrence, visible in their posting tf
      val dupTf = LexStatsStream.currentPostings(spark, state, Seq("dup"))
        .select("doc_id", "tf").as[(Long, Long)].collect().toMap
      val expected = TextAnalysis.lexPostingsOf(v2)
        .filter($"term" === "dup")
        .select("doc_id", "tf").as[(Long, Long)].collect().toMap
      assert(dupTf == expected)
      assert(LexStatsStream.phraseMatch(spark, state)
        .as[(Long, Long)].collect().toSeq ==
        TextAnalysis.phraseMatchOf(TextAnalysis.lexPostingsOf(v2),
          TextAnalysis.PhraseTerms).as[(Long, Long)].collect().toSeq)
      assert(LexStatsStream.facetCounts(spark, state,
          v2.select("doc_id", "lang", "source"))
        .as[(String, String, Long)].collect().toSeq ==
        TextAnalysis.facetCountsOf(
          TextAnalysis.lexPostingsOf(v2)
            .filter($"term".isin(TextAnalysis.Bm25Terms: _*))
            .select("doc_id").distinct(),
          v2.select("doc_id", "lang", "source"), Seq("lang", "source"))
          .as[(String, String, Long)].collect().toSeq)
    }
    checkAll()
    // replay of the whole maintenance batch converges
    LexStatsStream.syncLexCorpus(spark, state,
      docs.select("doc_id", "text"), v2.select("doc_id", "text"), 1L)
    checkAll()
    // compaction purges hidden generations + folds the corrections; the
    // folded stats carry no zero rows at all
    LexStatsStream.compactState(spark, state)
    assert(statsRows(LexStatsStream.currentStats(spark, state)) == statsOf(v2))
    checkAll()
    // post-purge maintenance window: tombstones retire, reads unchanged
    LexStatsStream.clearDocTombstones(spark, state)
    checkAll()
  }

  test("more-like-this: the index-stats TF-IDF election matches the " +
       "independent tfidf operator; the seed never self-retrieves") {
    val state = tmp()
    foldAll(state)
    val out = LexStatsStream.moreLikeThis(spark, state, docs)
      .as[(Long, Double)].collect().toSeq
    assert(out.size == 20 && !out.exists(_._1 == 0L))
    // cross-validation: elect the seed's terms through the INDEPENDENT
    // tfidf operator (window-df derivation) and serve them the same way —
    // the two df sources must agree whenever the index equals the corpus
    val elected = TextAnalysis.tfidfTopTerms(docs, "text", "doc_id", 3)
      .filter($"doc_id" === 0).orderBy("rank")
      .select("term").as[String].collect().toSeq
    val direct = TextAnalysis.bm25TopkIndexed(
        LexStatsStream.currentPostings(spark, state, elected)
          .filter($"doc_id" =!= 0L),
        LexStatsStream.currentStats(spark, state), elected)
      .as[(Long, Double)].collect().toSeq
    assert(out == direct)
  }

  test("servedStats keeps a query term spelled like the corpus sentinel") {
    val sentinel = TextAnalysis.LexCorpusRow
    // two batches' corpus rows plus a pathological token row that sums
    // into the sentinel's group
    val stats = Seq((sentinel, 0L, 60L, 6L), (sentinel, 0L, 40L, 4L),
        (sentinel, 3L, 0L, 0L), ("a", 2L, 0L, 0L), ("b", 5L, 0L, 0L))
      .toDF("term", "df", "dl", "nd")
    val (nDocs, avgdl, dfMap) =
      TextAnalysis.servedStats(stats, Seq("a", sentinel))
    assert(nDocs == 10.0 && avgdl == 10.0)
    assert(dfMap == Map("a" -> 2L, sentinel -> 3L))
    assert(TextAnalysis.servedStats(stats, Seq("a", "b"))._3 ==
      Map("a" -> 2L, "b" -> 5L))
  }

  test("sync crash window: after the tombstones alone a changed doc " +
       "UNDER-serves (never double-counts); the replay heals to v2") {
    val state = tmp()
    val v1 = docs.select("doc_id", "text")
    val v2 = TextAnalysis.lexLiveV2Of(docs).select("doc_id", "text")
    LexStatsStream.applyBatch(spark, v1, 0L, state)
    // simulate a crash right after sync batch 1's FIRST commit (the
    // tombstones — the round-19 commit order): removed at ceiling 1,
    // changed at ceiling 0, nothing else landed
    val removed = v1.filter($"doc_id" % 10 === 3)
      .select($"doc_id", lit(1L).as("ceiling"))
    val changed = v1.filter($"doc_id" % 10 =!= 3 && $"doc_id" % 13 === 0)
      .select($"doc_id", lit(0L).as("ceiling"))
    LexStatsStream.tombstoneDocRows(spark, removed.unionByName(changed), 1L, state)
    // the window's contract: changed + removed docs are ABSENT from every
    // posting read — no doc serves two generations, no stale generation
    val mid = LexStatsStream.currentPostings(spark, state, TextAnalysis.Bm25Terms)
    assert(mid.filter($"doc_id" % 10 === 3).isEmpty)
    assert(mid.filter($"doc_id" % 13 === 0).isEmpty)
    assert(mid.groupBy("term", "doc_id").count().filter($"count" > 1).isEmpty)
    // the replay (same batch id) converges to exactly v2
    LexStatsStream.syncLexCorpus(spark, state, v1, v2, 1L)
    assert(LexStatsStream.bm25TopkIndexed(spark, state)
      .as[(Long, Double)].collect().toSeq ==
      TextAnalysis.bm25TopkOf(v2).as[(Long, Double)].collect().toSeq)
    assert(nonzeroStats(state) == statsOf(TextAnalysis.lexLiveV2Of(docs)))
  }

  test("as-of reads: the batch-0 view serves v1, later views serve v2, " +
       "and a later delete is invisible to earlier views") {
    val state = tmp()
    val v1 = docs.select("doc_id", "text")
    val v2 = TextAnalysis.lexLiveV2Of(docs).select("doc_id", "text")
    LexStatsStream.applyBatch(spark, v1, 0L, state)
    LexStatsStream.syncLexCorpus(spark, state, v1, v2, 1L)
    def bm25At(b: Long) = LexStatsStream.bm25TopkIndexedAsOf(spark, state, b)
      .as[(Long, Double)].collect().toSeq
    def oneShot(d: org.apache.spark.sql.DataFrame) =
      TextAnalysis.bm25TopkOf(d).as[(Long, Double)].collect().toSeq
    assert(bm25At(0L) == oneShot(v1), "as-of 0 must serve v1")
    assert(bm25At(1L) == oneShot(v2), "as-of 1 must serve v2")
    // phrase at the point in time: the v1 positional truth
    assert(LexStatsStream.phraseMatchAsOf(spark, state, 0L)
      .as[(Long, Long)].collect().toSeq ==
      TextAnalysis.phraseMatchOf(TextAnalysis.lexPostingsOf(v1),
        TextAnalysis.PhraseTerms).as[(Long, Long)].collect().toSeq)
    // a LATER delete (batch 2) must not leak into the batch-1 view
    LexStatsStream.deleteDocs(spark,
      v2.filter($"doc_id" % 7 === 1).select("doc_id"), 2L, state)
    assert(bm25At(1L) == oneShot(v2), "as-of 1 unchanged by the later delete")
    assert(LexStatsStream.bm25TopkIndexed(spark, state)
      .as[(Long, Double)].collect().toSeq ==
      oneShot(v2.filter($"doc_id" % 7 =!= 1)), "live serves the post-delete set")
  }

  test("a replayed ingest batch after an update stays hidden (ceiling " +
       "semantics on the postings log)") {
    val state = tmp()
    LexStatsStream.applyBatch(spark, docs.select("doc_id", "text"), 0L, state)
    val v2 = TextAnalysis.lexLiveV2Of(docs).select("doc_id", "text")
    LexStatsStream.syncLexCorpus(spark, state, docs.select("doc_id", "text"), v2, 1L)
    // a replay of ingest batch 0 re-commits nothing (dir survives), and its
    // rows are ≤ the update ceilings — the live read is unchanged
    val before = LexStatsStream.bm25TopkIndexed(spark, state)
      .as[(Long, Double)].collect().toSeq
    LexStatsStream.applyBatch(spark, docs.select("doc_id", "text"), 0L, state)
    assert(LexStatsStream.bm25TopkIndexed(spark, state)
      .as[(Long, Double)].collect().toSeq == before)
  }

  test("an as-of read below the folded horizon refuses instead of " +
       "silently serving the compacted floor") {
    val state = tmp()
    LexStatsStream.applyBatch(spark, docs.select("doc_id", "text")
      .filter($"doc_id" % 2 === 0), 0L, state)
    LexStatsStream.applyBatch(spark, docs.select("doc_id", "text")
      .filter($"doc_id" % 2 === 1), 1L, state)
    // pre-fold: both cuts reconstructible
    assert(LexStatsStream.bm25TopkIndexedAsOf(spark, state, 0L).count() > 0)
    LexStatsStream.compactState(spark, state)
    // post-fold: the horizon moved to 1 — batch-0 history is gone
    val e = intercept[IllegalArgumentException] {
      LexStatsStream.bm25TopkIndexedAsOf(spark, state, 0L)
    }
    assert(e.getMessage.contains("folded horizon"))
    // AT the horizon (= current folded state) still serves
    assert(LexStatsStream.bm25TopkIndexedAsOf(spark, state, 1L)
      .as[(Long, Double)].collect().toSeq ==
      LexStatsStream.bm25TopkIndexed(spark, state)
        .as[(Long, Double)].collect().toSeq)
  }

  test("more-like-this over an empty index fails with the empty-index " +
       "message, not an NPE") {
    val e = intercept[IllegalArgumentException] {
      LexStatsStream.moreLikeThis(spark, tmp(), docs)
    }
    assert(e.getMessage.contains("empty lexical index"))
  }

  test("a mixed pre/post-r19 postings layout fails loud at delete time " +
       "instead of committing an understated stats correction") {
    val state = tmp()
    LexStatsStream.applyBatch(spark, docs.select("doc_id", "text")
      .filter($"doc_id" % 2 === 0), 0L, state)
    // hand-craft an OLD-layout batch dir: posting rows WITHOUT the per-row
    // src_batch provenance (what a pre-r19 writer committed)
    TextAnalysis.lexPostingsOf(docs.select("doc_id", "text")
        .filter($"doc_id" % 2 === 1))
      .write.partitionBy("pbucket")
      .parquet(s"$state/lexpost/batch=1")
    val e = intercept[Throwable] {
      LexStatsStream.deleteDocs(spark,
        docs.filter($"doc_id" % 2 === 1).select("doc_id"), 2L, state)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("mixed pre/post-r19")))
  }

  test("rebucketPostings: serve is bitwise-unchanged, the count rides the " +
       "swap, survives compaction, and new ingests follow it") {
    val state = tmp()
    LexStatsStream.applyBatch(spark, docs.select("doc_id", "text")
      .filter($"doc_id" % 2 === 0), 0L, state)
    LexStatsStream.applyBatch(spark, docs.select("doc_id", "text")
      .filter($"doc_id" % 4 === 1), 1L, state)
    val before = LexStatsStream.bm25TopkIndexed(spark, state)
      .as[(Long, Double)].collect().toSeq
    val phraseBefore = LexStatsStream.phraseMatch(spark, state)
      .as[(Long, Long)].collect().toSeq
    LexStatsStream.rebucketPostings(spark, state, 256)
    assert(LexStatsStream.postingBuckets(spark, state) == 256)
    assert(LexStatsStream.bm25TopkIndexed(spark, state)
      .as[(Long, Double)].collect().toSeq == before)
    assert(LexStatsStream.phraseMatch(spark, state)
      .as[(Long, Long)].collect().toSeq == phraseBefore)
    // the layout physically moved: buckets ≥ 64 exist, all < 256
    val pb = spark.read.parquet(s"$state/lexpost")
      .select("pbucket").distinct().as[Int].collect()
    assert(pb.exists(_ >= TextAnalysis.LexBuckets) && pb.forall(_ < 256))
    // a post-rebucket ingest buckets by the NEW count and serves
    LexStatsStream.applyBatch(spark, docs.select("doc_id", "text")
      .filter($"doc_id" % 4 === 3), 2L, state)
    val all = LexStatsStream.bm25TopkIndexed(spark, state)
      .as[(Long, Double)].collect().toSeq
    assert(all == TextAnalysis.bm25TopkOf(docs.select("doc_id", "text"))
      .as[(Long, Double)].collect().toSeq)
    // compaction carries the meta through its whole-dir swap
    LexStatsStream.compactState(spark, state)
    assert(LexStatsStream.postingBuckets(spark, state) == 256)
    assert(LexStatsStream.bm25TopkIndexed(spark, state)
      .as[(Long, Double)].collect().toSeq == all)
  }

  test("rebucket composes with the delete lifecycle and with an " +
       "already-fully-compacted log (force path)") {
    val state = tmp()
    LexStatsStream.applyBatch(spark, docs.select("doc_id", "text"), 0L, state)
    LexStatsStream.deleteDocs(spark,
      docs.filter($"doc_id" % 7 === 2).select("doc_id"), 1L, state)
    val live = TextAnalysis.bm25TopkOf(
        docs.select("doc_id", "text").filter($"doc_id" % 7 =!= 2))
      .as[(Long, Double)].collect().toSeq
    LexStatsStream.rebucketPostings(spark, state, 128)
    assert(LexStatsStream.bm25TopkIndexed(spark, state)
      .as[(Long, Double)].collect().toSeq == live,
      "hidden generations purge through the rebucket fold")
    // now the log is batch=-1-only; a SECOND rebucket must still rewrite
    LexStatsStream.rebucketPostings(spark, state, 32)
    assert(LexStatsStream.postingBuckets(spark, state) == 32)
    assert(LexStatsStream.bm25TopkIndexed(spark, state)
      .as[(Long, Double)].collect().toSeq == live)
  }

  test("driver-side termBucket matches the executor-side crc32 layout") {
    val terms = TextAnalysis.lexPostingsOf(docs)
      .select("term", "pbucket").distinct()
      .as[(String, Int)].collect()
    assert(terms.nonEmpty)
    terms.foreach { case (t, b) =>
      assert(TextAnalysis.termBucket(t) == b, s"term '$t'")
    }
  }
}
