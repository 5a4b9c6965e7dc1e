package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Retrieval, Similarity, TextAnalysis}

/** Hybrid retrieval (RRF fusion) coverage: the exact scaled-integer score's
  * arithmetic and its order-isomorphism to standard double RRF, the
  * both-lists-beat-one-list fusion property, the multi-query BM25 pass
  * against the single-query implementation, and partition determinism.
  */
class RetrievalSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def lex = Retrieval.bm25RankedPerQuery(
    Tables.documents(spark, Sf0001), Retrieval.HybridTermSets, Retrieval.HybridL)
  private def dense = Similarity.ivfTopKCached(
    Tables.embeddings(spark, Sf0001), Sf0001,
    Retrieval.HybridTermSets.map(_._1), k = Retrieval.HybridL, nprobe = 3)

  test("rrfLcm(60,10) is divisible by every denominator 61..70") {
    val lcm = Retrieval.rrfLcm(60, 10)
    for (d <- 61 to 70) assert(lcm % d == 0L, s"lcm not divisible by $d")
    // and small enough that a two-list sum cannot overflow
    assert(lcm < Long.MaxValue / 70)
  }

  test("exact scaled-integer fusion ranks identically to double RRF") {
    val exact = Retrieval.rrfFuseExact(lex, dense, k = Retrieval.HybridK,
        maxRank = Retrieval.HybridL)
      .select("query_id", "doc_id", "rank").as[(Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._3))
    val dbl = Retrieval.rrfFuse(lex, dense, k = Retrieval.HybridK)
      .select("query_id", "doc_id", "rank").as[(Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._3))
    assert(exact.nonEmpty && exact.toSeq == dbl.toSeq,
      "scaled-integer and double RRF must produce the same ranking")
  }

  test("fused scores are exactly Σ lcm/(c+rank) over the input ranks") {
    val lcm = Retrieval.rrfLcm(Retrieval.RrfC, Retrieval.HybridL)
    val lranks = lex.as[(Long, Long, Long)].collect()
      .map { case (q, d, r) => (q, d) -> r }.toMap
    val dranks = dense.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("sim").desc, col("cand_id"))))
      .select($"query_id", $"cand_id", $"rank".cast("long"))
      .as[(Long, Long, Long)].collect()
      .map { case (q, d, r) => (q, d) -> r }.toMap
    val fused = Retrieval.rrfFuseExact(lex, dense, k = Retrieval.HybridK,
        maxRank = Retrieval.HybridL)
      .as[(Long, Long, Long, Long)].collect()
    assert(fused.nonEmpty)
    for ((q, d, num, _) <- fused) {
      val expected =
        lranks.get((q, d)).map(r => lcm / (Retrieval.RrfC + r)).getOrElse(0L) +
        dranks.get((q, d)).map(r => lcm / (Retrieval.RrfC + r)).getOrElse(0L)
      assert(num == expected, s"query $q doc $d: rrf_num $num != $expected")
    }
    // a doc present in BOTH lists outranks any doc holding only one list's
    // equal-or-worse rank — the reason RRF is the default fusion
    val both = fused.filter { case (q, d, _, _) =>
      lranks.contains((q, d)) && dranks.contains((q, d)) }
    for ((q, d, num, _) <- both) {
      val single = lcm / (Retrieval.RrfC +
        math.min(lranks((q, d)), dranks((q, d))))
      assert(num > single, s"query $q doc $d: both-lists score must exceed $single")
    }
  }

  test("a doc in both lists outranks every single-list doc (constructed overlap)") {
    // the gate corpus's lexical/dense top-10s happen not to intersect
    // (random text vs random vectors), so the fusion property is pinned on
    // constructed lists: doc 30 holds lexical rank 3 AND dense rank 1
    val lexL = Seq((1L, 10L, 1L), (1L, 20L, 2L), (1L, 30L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val denL = Seq((1L, 30L, 1L), (1L, 40L, 2L))
      .toDF("query_id", "doc_id", "rank")
    val out = Retrieval.rrfFuseExact(lexL, denL, k = 4, maxRank = 3)
      .orderBy("rank").as[(Long, Long, Long, Long)].collect()
    assert(out.head._2 == 30L, s"doc 30 (both lists) must fuse to rank 1, got ${out.head._2}")
    val lcm = Retrieval.rrfLcm(Retrieval.RrfC, 3)
    assert(out.head._3 == lcm / 63 + lcm / 61)
    // 20 (lex rank 2) and 40 (dense rank 2) tie exactly at lcm/62 → doc_id
    assert(out.map(_._2).toSeq == Seq(30L, 10L, 20L, 40L))
  }

  test("rrfNumerators are the exact integer quotients lcm/(c+r)") {
    val lcm = Retrieval.rrfLcm(60, 10)
    val nums = Retrieval.rrfNumerators(60, 10)
    assert(nums == (1 to 10).map(r => lcm / (60 + r)))
    // exactness: every numerator times its denominator recovers the lcm
    (1 to 10).foreach(r => assert(nums(r - 1) * (60 + r) == lcm))
  }

  test("N-list fusion: 3 constructed lists, hand-computed exact sums") {
    // doc 30 holds a rank in ALL THREE lists; 10 in two; 20/40/50 in one
    val l1 = Seq((1L, 10L, 1L), (1L, 20L, 2L), (1L, 30L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val l2 = Seq((1L, 30L, 1L), (1L, 40L, 2L), (1L, 10L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val l3 = Seq((1L, 30L, 2L), (1L, 50L, 1L))
      .toDF("query_id", "doc_id", "rank")
    val out = Retrieval.rrfFuseExactN(Seq(l1, l2, l3), k = 5, maxRank = 3)
      .orderBy("rank").as[(Long, Long, Long, Long)].collect()
    val n = Retrieval.rrfNumerators(Retrieval.RrfC, 3)
    def num(r: Long) = n(r.toInt - 1)
    assert(out.map(r => r._2 -> r._3).toSeq == Seq(
      30L -> (num(3) + num(1) + num(2)),
      10L -> (num(1) + num(3)),
      50L -> num(1),
      20L -> num(2),
      40L -> num(2)).sortBy { case (d, s) => (-s, d) })
    // ranks deeper than maxRank are cut BEFORE fusing (the eval-bound rule)
    val deep = Seq((1L, 99L, 4L)).toDF("query_id", "doc_id", "rank")
    val cut = Retrieval.rrfFuseExactN(Seq(l1, deep), k = 5, maxRank = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(!cut.contains(99L), "a rank beyond maxRank must not fuse")
  }

  test("two-list rrfFuseExact delegates to the N-list form unchanged") {
    val a = Retrieval.rrfFuseExact(lex, dense, k = Retrieval.HybridK,
        maxRank = Retrieval.HybridL)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val b = Retrieval.rrfFuseExactN(Seq(lex, dense), k = Retrieval.HybridK,
        maxRank = Retrieval.HybridL)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(a.nonEmpty && a == b)
  }

  test("evalTopk bounds over-deep inputs to rank <= k (recall cannot exceed 1)") {
    // a retriever list deeper than k previously indexed past the weight
    // table (null wt) and inflated recall's numerator
    val approx = (1 to 8).map(r => (1L, r.toLong * 10, 9 - r))
      .toDF("query_id", "cand_id", "sim") // sim desc → ranks 1..8
    val truth = (1 to 8).map(r => (1L, r.toLong * 10, 9 - r))
      .toDF("query_id", "cand_id", "sim")
    val out = Retrieval.evalTopk(approx, truth, k = 3)
      .select("n_hits", "recall", "ndcg").as[(Long, Double, Double)].collect()
    assert(out.length == 1)
    assert(out.head == ((3L, 1.0, 1.0)),
      s"perfect retriever at depth 8, k=3 must score exactly 1.0: ${out.head}")
  }

  test("multi-query BM25 matches the single-query implementation per query") {
    // run the shared-pass multi-query ranker with ONE query set and compare
    // against bm25Topk's ordering (restricted to positive scores)
    val solo = Retrieval.bm25RankedPerQuery(
        Tables.documents(spark, Sf0001),
        Seq(7L -> TextAnalysis.Bm25Terms), l = 10)
      .orderBy("rank").as[(Long, Long, Long)].collect()
    val reference = TextAnalysis.bm25Topk(spark, Sf0001, k = 10)
      .filter($"bm25" > 0).as[(Long, Double)].collect()
    assert(solo.map(_._2).toSeq == reference.map(_._1).toSeq,
      "one-query multi-ranker must reproduce bm25Topk's ranking")
    assert(solo.forall(_._1 == 7L))
  }

  test("MMR demotes a near-duplicate of the first pick (hand-computed greedy)") {
    // v2 duplicates v1 exactly; pure relevance ranks 1,2,3 — MMR must rank
    // 1,3,2: after picking v1, v2's penalty 0.5·sim(v2,v1)=0.5 sinks it
    // below v3 (0.5·0.89−0.5·1.0 = −0.055 < 0.5·0.5−0 = 0.25)
    val pool = Seq((7L, 1L, 0.9), (7L, 2L, 0.89), (7L, 3L, 0.5))
      .toDF("query_id", "cand_id", "rel")
    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)), (3L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val out = Retrieval.mmrRerank(pool, vecs, k = 3)
      .orderBy("rank").as[(Long, Long, Double, Long)].collect()
    assert(out.map(_._2).toSeq == Seq(1L, 3L, 2L))
    assert(out.map(_._3).toSeq == Seq(0.45, 0.25, -0.055))
  }

  test("MMR at λ=1 reduces to pure relevance ranking") {
    val pool = Seq((7L, 1L, 0.9), (7L, 2L, 0.89), (7L, 3L, 0.5))
      .toDF("query_id", "cand_id", "rel")
    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)), (3L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val out = Retrieval.mmrRerank(pool, vecs, k = 3, lambda = 1.0)
      .orderBy("rank").as[(Long, Long, Double, Long)].collect()
    assert(out.map(_._2).toSeq == Seq(1L, 2L, 3L))
  }

  test("MMR gate composition: full k per query, ids from the pool, partition-stable") {
    val e = Tables.embeddings(spark, Sf0001)
    val pool = Similarity.ivfTopKCached(e, Sf0001,
        Retrieval.HybridTermSets.map(_._1), k = Retrieval.HybridL, nprobe = 3)
      .select($"query_id", $"cand_id", $"sim".as("rel"))
    val poolIds = pool.as[(Long, Long, Double)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val out = Retrieval.mmrRerank(pool, e).as[(Long, Long, Double, Long)].collect()
    val perQuery = out.groupBy(_._1)
    assert(perQuery.keySet == Retrieval.HybridTermSets.map(_._1).toSet)
    for ((q, rows) <- perQuery) {
      assert(rows.length == Retrieval.MmrK)
      assert(rows.map(_._4).sorted.toSeq == (1L to Retrieval.MmrK).toSeq)
      assert(rows.map(_._2).distinct.length == rows.length, "no duplicate picks")
      assert(rows.map(_._2).toSet.subsetOf(poolIds(q)), "picks must come from the pool")
    }
    val repart = Retrieval.mmrRerank(pool.repartition(5), e.repartition(3))
      .as[(Long, Long, Double, Long)].collect()
    assert(out.sortBy(r => (r._1, r._4)).toSeq == repart.sortBy(r => (r._1, r._4)).toSeq)
  }

  test("retrieval eval: hand-computed recall/MRR/nDCG on constructed lists") {
    // query 1: approx (10,20,30), truth (10,30,40) → hits at ranks 1,3
    //   recall 2/3, mrr 1, ndcg (w1+w3)/(w1+w2+w3)
    // query 2: approx (50,60,70), truth (80,90,99) → zero hits
    val approx = Seq((1L, 10L, 1L), (1L, 20L, 2L), (1L, 30L, 3L),
      (2L, 50L, 1L), (2L, 60L, 2L), (2L, 70L, 3L))
      .toDF("query_id", "cand_id", "rank")
    val truth = Seq((1L, 10L, 1L), (1L, 30L, 2L), (1L, 40L, 3L),
      (2L, 80L, 1L), (2L, 90L, 2L), (2L, 99L, 3L))
      .toDF("query_id", "cand_id", "rank")
    val out = Retrieval.evalTopk(approx, truth, k = 3)
      .as[(Long, Long, Double, Double, Double)].collect().sortBy(_._1)
    val w = Retrieval.dcgWeightsFp(3)
    val expNdcg = math.round(((w(0) + w(2)).toDouble / w.sum.toDouble) * 1e4) / 1e4
    assert(out(0) == ((1L, 2L, 0.6667, 1.0, expNdcg)), s"got ${out(0)}")
    assert(out(1) == ((2L, 0L, 0.0, 0.0, 0.0)))
  }

  test("retrieval eval: a perfect retriever scores 1.0 everywhere") {
    val e = Tables.embeddings(spark, Sf0001)
    val exact = Similarity.bruteForceTopK(e, Seq(0L, 1L, 2L), 3)
    val out = Retrieval.evalTopk(exact, exact, k = 3)
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(out.length == 3)
    assert(out.forall { case (_, h, r, m, n) =>
      h == 3L && r == 1.0 && m == 1.0 && n == 1.0 })
  }

  test("fusion is partition-stable and caps at k per query") {
    val out = Retrieval.hybridTopkRrf(spark, Sf0001)
      .as[(Long, Long, Long, Long)].collect()
    val perQuery = out.groupBy(_._1)
    assert(perQuery.keySet == Retrieval.HybridTermSets.map(_._1).toSet)
    for ((q, rows) <- perQuery) {
      assert(rows.length == Retrieval.HybridK, s"query $q: ${rows.length} rows")
      assert(rows.map(_._4).sorted.toSeq == (1L to Retrieval.HybridK).toSeq)
      // fused scores are non-increasing with rank
      val byRank = rows.sortBy(_._4).map(_._3)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
    val repart = Retrieval.rrfFuseExact(
        lex.repartition(5), dense.repartition(3),
        k = Retrieval.HybridK, maxRank = Retrieval.HybridL)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.sortBy(r => (r._1, r._4)).toSeq ==
      repart.sortBy(r => (r._1, r._4)).toSeq)
  }

  test("passage hybrid: fused output = hand-fused RRF over the two " +
       "independently served pid-grain legs") {
    import graft.streaming.{LexStatsStream, PassageLex}
    val state = tempDir("passagehy")
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text")
    PassageLex.applyBatch(spark, docs, 0L, state)
    val out = Retrieval.hybridPassageTopk(spark, Sf0001, state)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // the legs, through their own (separately spec'd) entry points
    def ranksOf(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
      df.select("query_id", "doc_id", "rank")
        .as[(Long, Long, Long)].collect()
        .map { case (q, pid, r) => (q, pid) -> r }.toMap
    val lexR = ranksOf(Retrieval.bm25RankedPerQueryIndexed(
      (ts, l) => LexStatsStream.bm25TopkIndexed(spark, state, ts, l),
      Retrieval.HybridTermSets, Retrieval.HybridL))
    val denseR = ranksOf(Retrieval.passageDenseRanked(spark, Sf0001))
    // hand fusion: Σ lcm/(c+rank) over whichever legs rank the pid
    val nums = Retrieval.rrfNumerators(Retrieval.RrfC, Retrieval.HybridL)
    val expected = (lexR.keySet ++ denseR.keySet).groupBy(_._1).toSeq
      .flatMap { case (q, keys) =>
        keys.toSeq.map { k =>
          val s = lexR.get(k).map(r => nums(r.toInt - 1)).getOrElse(0L) +
            denseR.get(k).map(r => nums(r.toInt - 1)).getOrElse(0L)
          (q, k._2, s)
        }.sortBy { case (_, pid, s) => (-s, pid) }
          .take(Retrieval.HybridK).zipWithIndex
          .map { case ((_, pid, s), i) =>
            (q, pid / 1000L, pid % 1000L, s, i + 1L) }
      }.sortBy(r => (r._1, r._5))
    assert(out == expected)
    assert(out.map(_._1).toSet == Retrieval.HybridTermSets.map(_._1).toSet)
  }

  test("batched indexed lexical leg (one stats lookup + one postings pass) " +
       "= per-query composed leg, list for list") {
    import graft.streaming.{LexStatsStream, PassageLex}
    val state = tempDir("lexbatch")
    PassageLex.applyBatch(spark,
      Tables.documents(spark, Sf0001).select("doc_id", "text"), 0L, state)
    val batched = LexStatsStream.bm25RankedPerQueryIndexed(
        spark, state, Retrieval.HybridTermSets, Retrieval.HybridL)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3)).toSeq
    val perQuery = Retrieval.bm25RankedPerQueryIndexed(
        (ts, l) => LexStatsStream.bm25TopkIndexed(spark, state, ts, l),
        Retrieval.HybridTermSets, Retrieval.HybridL)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(batched == perQuery)
    assert(batched.nonEmpty)
  }

  test("indexed passage dense leg = brute-force leg RESTRICTED to the " +
       "probed inverted lists; candidate read partition-prunes") {
    val idx = tempDir("passagedense")
    Retrieval.buildPassageDenseIndex(spark, Sf0001, idx)
    val cents = Retrieval.passageDenseCentroids(spark, Sf0001)
    // probing every list recovers the brute-force ranking exactly
    val all = Retrieval.passageDenseRankedIndexed(spark, Sf0001, idx,
        nprobe = cents.size)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3)).toSeq
    val brute = Retrieval.passageDenseRanked(spark, Sf0001)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(all == brute)
    // nprobe=3 serves ONLY pids assigned to the query's probed lists
    // (the restriction contract — exact content is the oracle gate's job)
    val pruned = Retrieval.passageDenseRankedIndexed(spark, Sf0001, idx)
      .as[(Long, Long, Long)].collect().toSeq
    val clusterOf = spark.read.parquet(idx).select("vec_id", "cluster")
      .as[(Long, Int)].collect().toMap
    val qv = graft.streaming.PassageLex.chunkDocs(
        Tables.documents(spark, Sf0001).select("doc_id", "text"))
      .filter(col("doc_id").isin(
        Retrieval.HybridTermSets.map(_._1 * 1000L): _*))
      .select(col("doc_id"),
        graft.operators.Prep.chunkEmbedExpr(
          graft.functions.Hashing.h60(col("text"))).as("v"))
      .as[(Long, Seq[Double])].collect().toMap
    for ((q, rows) <- pruned.groupBy(_._1)) {
      val probed = graft.operators.Similarity.nearestClustersLocal(
        qv(q * 1000L), cents, 3).toSet
      assert(rows.forall(r => probed.contains(clusterOf(r._2))),
        s"query $q served a pid outside its probed lists")
    }
    val plan = Retrieval.passageDenseRankedIndexed(spark, Sf0001, idx)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"expected cluster partition filters in:\n$plan")
  }
}
