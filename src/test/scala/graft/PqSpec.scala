package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Pq, Similarity}

class PqSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def embs = Tables.embeddings(spark, Sf0001)
  private lazy val cents = Similarity.trainedCentroids(embs, Sf0001)
  private lazy val cb = Pq.trainedCodebooks(embs, "pqspec")
  private def tmp(): String = tempDir("pq")

  private lazy val probeIds = Seq(0L, 1L, 2L, 3L, 4L)
  private lazy val probes = embs.filter(col("vec_id").isin(probeIds: _*))
    .select(col("vec_id"), col("embedding").cast("array<double>"))
    .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq

  test("codebook training is deterministic and correctly shaped") {
    val a = Pq.trainCodebooks(embs, iters = 2)
    val b = Pq.trainCodebooks(embs.repartition(7), iters = 2)
    assert(a.sub == 8 && a.m == 8 && a.dim == 64)
    assert(a.books.zip(b.books).forall { case (x, y) => x.sameElements(y) },
      "codebooks differ across partitionings — training is not deterministic")
  }

  test("encode→decode roundtrip reconstructs each subspace's nearest codeword") {
    val pq = tmp()
    Pq.buildIndexPq(embs, cents, cb, pq)
    val decoded = spark.read.parquet(pq)
      .select(col("vec_id"), Pq.decodePacked(col("code"), cb).as("dv"))
      .as[(Long, Seq[Double])].collect().toMap
    // driver-side recompute for a few vectors: normalize, then per
    // subspace pick the L2-nearest codeword (smaller index on ties)
    val sample = embs.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    for ((id, v) <- sample) {
      val n = math.sqrt(v.map(x => x * x).sum)
      val vn = v.map(_ / n)
      val expect = (0 until cb.m).flatMap { s =>
        val sv = vn.slice(s * cb.sub, (s + 1) * cb.sub)
        cb.books(s).grouped(cb.sub).zipWithIndex.map { case (cw, i) =>
          (cw.zip(sv).map { case (c, x) => (c - x) * (c - x) }.sum, i, cw)
        }.minBy(t => (t._1, t._2))._3.toSeq
      }
      assert(decoded(id) == expect, s"vec $id decoded ≠ nearest codewords")
    }
  }

  test("32x compression: PQ index bytes well under the exact index's") {
    val pq = tmp(); val ex = tmp()
    Pq.buildIndexPq(embs, cents, cb, pq)
    Similarity.buildIndex(embs, cents, ex)
    def bytes(p: String): Long = {
      val fs = graft.functions.FsUtils.fs(spark, p)
      fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength
    }
    val (b, e) = (bytes(pq), bytes(ex))
    assert(b * 4 < e, s"PQ index $b B not ≪ exact $e B")
  }

  test("raw PQ ranking recalls most of the exact top-10; rerank returns exact scores") {
    val pq = tmp(); val ex = tmp()
    Pq.buildIndexPq(embs, cents, cb, pq)
    Similarity.buildIndex(embs, cents, ex)
    val nprobe = cents.length // exhaustive: isolate quantization error
    val exact = Similarity.ivfTopK(embs, cents, probeIds, k = 10, nprobe = nprobe)
      .select("query_id", "cand_id")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val raw = Pq.ivfTopKPqRaw(spark, pq, cents, cb, probes, k = 10, nprobe = nprobe)
      .select("query_id", "cand_id")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val recall = probeIds.map(q => (raw(q) & exact(q)).size).sum /
      (10.0 * probeIds.size)
    assert(recall >= 0.7, s"raw PQ recall@10 $recall below floor")
    // rerank with an exhaustive pool reproduces exact IVF top-k EXACTLY
    val reranked = Pq.ivfTopKPqRerank(spark, pq, ex, cents, cb, probes,
        k = 3, nprobe = nprobe, poolMult = 40)
      .orderBy("query_id", "cand_id").collect().toSeq
    val exact3 = Similarity.ivfTopK(embs, cents, probeIds, k = 3, nprobe = nprobe)
      .orderBy("query_id", "cand_id").collect().toSeq
    assert(reranked == exact3)
  }

  test("LUT-ADC scoring ≡ decode-then-cosine: same candidates, same rounded scores") {
    val pq = tmp()
    Pq.buildIndexPq(embs, cents, cb, pq)
    val nprobe = cents.length // exhaustive: every candidate pair scored
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("query_id", "cand_id")
      .as[(Long, Long, Double)].collect().toSeq
    val dec = rows(Pq.ivfTopKPqRaw(spark, pq, cents, cb, probes, k = 10, nprobe = nprobe))
    val adc = rows(Pq.ivfTopKPqRawAdc(spark, pq, cents, cb, probes, k = 10, nprobe = nprobe))
    // round(_,4) absorbs the per-subspace regrouping's last-ulp drift:
    // identical (query, cand, score) triples, identical ranking
    assert(adc == dec)
    // and the driver-side recompute agrees with the ADC identity:
    // sum(lut) / sqrt(sum(nlut)) == cosine(unit(q), decoded) to ~1e-12
    val q = probes.head
    val decoded = spark.read.parquet(pq).filter(col("vec_id") === 7L)
      .select(Pq.decodePacked(col("code"), cb).as("dv"))
      .as[Seq[Double]].head()
    val n = math.sqrt(q._2.map(x => x * x).sum)
    val qn = q._2.map(_ / n)
    val num = qn.zip(decoded).map { case (a, b) => a * b }.sum
    val den = math.sqrt(decoded.map(x => x * x).sum)
    val viaCos = num / den
    val lutScore = {
      // replicate the expression's walk over the packed code
      val code = spark.read.parquet(pq).filter(col("vec_id") === 7L)
        .select("code").as[Long].head()
      val offs = cb.books.map(_.length / cb.sub).scanLeft(0)(_ + _).init
      val nlut = cb.books.flatMap(_.grouped(cb.sub).map(_.map(x => x * x).sum))
      val lut = (0 until cb.m).flatMap { s =>
        cb.books(s).grouped(cb.sub).map(cw =>
          cw.zipWithIndex.map { case (c, d) => c * qn(s * cb.sub + d) }.sum)
      }
      val (nu, nn) = (0 until cb.m).foldLeft((0.0, 0.0)) { case ((a, b), s) =>
        val j = ((code >>> (8 * s)) & 255L).toInt
        (a + lut(offs(s) + j), b + nlut(offs(s) + j))
      }
      nu / math.sqrt(nn)
    }
    assert(math.abs(viaCos - lutScore) < 1e-9)
  }

  test("two-stage rerank via ADC pool ≡ via decode pool") {
    val pq = tmp(); val ex = tmp()
    Pq.buildIndexPq(embs, cents, cb, pq)
    Similarity.buildIndex(embs, cents, ex)
    val nprobe = cents.length
    def rows(adc: Boolean) = Pq.ivfTopKPqRerank(spark, pq, ex, cents, cb, probes,
        k = 3, nprobe = nprobe, poolMult = 40, adc = adc)
      .orderBy("query_id", "cand_id").collect().toSeq
    assert(rows(adc = true) == rows(adc = false))
  }

  test("incremental appends: two-batch appended PQ index ≡ one-shot build") {
    val whole = tmp(); val inc = tmp()
    Pq.buildIndexPq(embs, cents, cb, whole)
    Pq.appendAssignedPq(embs.filter(col("vec_id") % 2 === 0), cents, cb, inc)
    Pq.appendAssignedPq(embs.filter(col("vec_id") % 2 === 1), cents, cb, inc)
    val a = spark.read.parquet(whole).orderBy("vec_id")
      .select("vec_id", "code", "cluster").as[(Long, Long, Int)].collect().toSeq
    val b = spark.read.parquet(inc).orderBy("vec_id")
      .select("vec_id", "code", "cluster").as[(Long, Long, Int)].collect().toSeq
    assert(a == b)
  }

  test("codebooks round-trip through save/load; streamed PQ + residual-PQ ≡ one-shot") {
    val base = tmp()
    Pq.saveCodebooks(spark, cb, s"$base/books")
    val loaded = Pq.loadCodebooks(spark, s"$base/books")
    assert(loaded.sub == cb.sub &&
      loaded.books.zip(cb.books).forall { case (x, y) => x.sameElements(y) })
    Similarity.saveCentroids(spark, cents, s"$base/cents")
    val (anchors, rcb) = Pq.trainedResidualModel(embs, cents, "pqspec-res")
    Pq.saveAnchors(spark, anchors, s"$base/anchors")
    Pq.saveCodebooks(spark, rcb, s"$base/rbooks")
    embs.filter(col("vec_id") % 2 === 0).write.parquet(s"$base/in/d0")
    val q = graft.streaming.EmbeddingIndexStream.run(spark, s"$base/in/d*",
      s"$base/exact", s"$base/ckpt", embs, s"$base/cents",
      pq = Some((s"$base/pq", s"$base/books")),
      pqr = Some((s"$base/pqr", s"$base/anchors", s"$base/rbooks")))
    q.processAllAvailable()
    embs.filter(col("vec_id") % 2 === 1).write.parquet(s"$base/in/d1")
    q.processAllAvailable()
    q.stop()
    def rows(p: String) = spark.read.parquet(p).orderBy("vec_id")
      .select("vec_id", "code", "cluster").as[(Long, Long, Int)].collect().toSeq
    val oneShot = tmp()
    Pq.buildIndexPq(embs, cents, cb, oneShot)
    assert(rows(oneShot) == rows(s"$base/pq"))
    val oneShotR = tmp()
    Pq.buildIndexPqResidual(embs, cents, anchors, rcb, oneShotR)
    assert(rows(oneShotR) == rows(s"$base/pqr"),
      "streamed residual-PQ codes differ from the one-shot build")
  }

  test("residual model: deterministic anchors/codebooks; strictly tighter reconstruction") {
    val a1 = Pq.clusterAnchors(embs, cents)
    val a2 = Pq.clusterAnchors(embs.repartition(7), cents)
    assert(a1 == a2, "anchor table differs across partitionings")
    val cb1 = Pq.trainCodebooksResidual(embs, cents, a1, iters = 2)
    val cb2 = Pq.trainCodebooksResidual(embs.repartition(7), cents, a1, iters = 2)
    assert(cb1.books.zip(cb2.books).forall { case (x, y) => x.sameElements(y) },
      "residual codebooks differ across partitionings")
    // reconstruction: mean squared error of the decoded approximation vs
    // the true unit vector — residual quantization must beat plain PQ on a
    // clustered corpus (it spends its 8 bits/subspace on a tighter ball)
    val (anchors, rcb) = Pq.trainedResidualModel(embs, cents, "pqspec-res")
    val pq = tmp(); val pqr = tmp()
    Pq.buildIndexPq(embs, cents, cb, pq)
    Pq.buildIndexPqResidual(embs, cents, anchors, rcb, pqr)
    val vn = embs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .filter(expr("aggregate(zip_with(v, v, (a, b) -> a * b), 0d, (acc, x) -> acc + x) > 0"))
      .select(col("vec_id"), expr(
        "transform(v, x -> x / sqrt(aggregate(zip_with(v, v, (a, b) -> a * b), 0d, (acc, x) -> acc + x)))")
        .as("vn"))
    def mse(cands: org.apache.spark.sql.DataFrame): Double = cands
      .join(vn, Seq("vec_id"))
      .select(expr(
        "aggregate(zip_with(cv, vn, (a, b) -> (a - b) * (a - b)), 0d, (acc, x) -> acc + x)")
        .as("e"))
      .agg(avg("e")).head().getDouble(0)
    val plainErr = mse(spark.read.parquet(pq)
      .select(col("vec_id"), Pq.decodePacked(col("code"), cb).as("cv")))
    val adf = {
      import spark.implicits._
      anchors.toDF("cluster", "anchor")
    }
    val resErr = mse(spark.read.parquet(pqr).join(broadcast(adf), Seq("cluster"))
      .select(col("vec_id"),
        zip_with(col("anchor"), Pq.decodePacked(col("code"), rcb),
          (a, d) => a + d).as("cv")))
    assert(resErr < plainErr,
      s"residual reconstruction MSE $resErr not below plain $plainErr")
  }

  test("residual rerank at gate settings ≡ exact IVF; incremental appends ≡ one-shot") {
    val (anchors, rcb) = Pq.trainedResidualModel(embs, cents, "pqspec-res")
    val pqr = tmp(); val ex = tmp()
    Pq.buildIndexPqResidual(embs, cents, anchors, rcb, pqr)
    Similarity.buildIndex(embs, cents, ex)
    val got = Pq.ivfTopKPqResidualRerank(spark, pqr, ex, cents, anchors, rcb,
        probes, k = 3, nprobe = 3, poolMult = 40)
      .orderBy("query_id", "cand_id").collect().toSeq
    val exact = Similarity.ivfTopK(embs, cents, probeIds, k = 3, nprobe = 3)
      .orderBy("query_id", "cand_id").collect().toSeq
    assert(got == exact,
      "residual-PQ pool at gate settings misses exact top-k")
    // two-batch append produces byte-identical codes to the one-shot build
    val inc = tmp()
    Pq.appendAssignedPqResidual(embs.filter(col("vec_id") % 2 === 0),
      cents, anchors, rcb, inc)
    Pq.appendAssignedPqResidual(embs.filter(col("vec_id") % 2 === 1),
      cents, anchors, rcb, inc)
    def rows(p: String) = spark.read.parquet(p).orderBy("vec_id")
      .select("vec_id", "code", "cluster").as[(Long, Long, Int)].collect().toSeq
    assert(rows(pqr) == rows(inc))
    // anchors round-trip through save/load
    val base = tmp()
    Pq.saveAnchors(spark, anchors, s"$base/anchors")
    assert(Pq.loadAnchors(spark, s"$base/anchors") == anchors)
  }

  test("scoped ADC pool: filtered rerank ≡ exact filtered IVF (k fills from the filtered pool)") {
    // the production "filtered + compressed" retrieval shape: the allowed
    // set semi-joins the ADC candidate read BELOW the per-probe top-k.
    // Equality with the exact filtered-IVF query IS the fill pin — the
    // naive score-then-filter order would under-fill k and mismatch.
    val pq = tmp(); val ex = tmp()
    Pq.buildIndexPq(embs, cents, cb, pq)
    Similarity.buildIndex(embs, cents, ex)
    val allowed = Tables.documents(spark, Sf0001)
      .filter(col("lang") === "en").select(col("doc_id"))
    val got = Pq.ivfTopKPqRerank(spark, pq, ex, cents, cb, probes,
        k = 3, nprobe = 3, poolMult = 40, adc = true,
        scope = Pq.CandidateScope(allowed = Some(allowed)))
      .orderBy("query_id", "cand_id").collect().toSeq
    val exact = Similarity.ivfTopKFiltered(embs, cents, probeIds,
        k = 3, nprobe = 3, allowedIds = allowed)
      .orderBy("query_id", "cand_id").collect().toSeq
    assert(got == exact,
      "filtered ADC pool at gate settings misses the exact filtered top-k")
    assert(got.nonEmpty)
  }

  test("scoped RESIDUAL pool: filtered pqr rerank ≡ exact filtered IVF") {
    // the filter × residual matrix cell (round 17): same fill-from-
    // filtered-pool pin as the ADC form, through the residual codes
    val pqr = tmp(); val ex = tmp()
    val (anchors, rcb) = Pq.trainedResidualModel(embs, cents, "pqspec-filtered")
    Pq.buildIndexPqResidual(embs, cents, anchors, rcb, pqr)
    Similarity.buildIndex(embs, cents, ex)
    val allowed = Tables.documents(spark, Sf0001)
      .filter(col("lang") === "en").select(col("doc_id"))
    val got = Pq.ivfTopKPqResidualRerank(spark, pqr, ex, cents, anchors, rcb,
        probes, k = 3, nprobe = 3, poolMult = 40,
        scope = Pq.CandidateScope(allowed = Some(allowed)))
      .orderBy("query_id", "cand_id").collect().toSeq
    val exact = Similarity.ivfTopKFiltered(embs, cents, probeIds,
        k = 3, nprobe = 3, allowedIds = allowed)
      .orderBy("query_id", "cand_id").collect().toSeq
    assert(got == exact,
      "filtered residual pool at gate settings misses the exact filtered top-k")
    assert(got.nonEmpty)
  }

  test("anchorless cluster: encode falls back to plain-PQ semantics, nothing dropped") {
    // a cluster with no nonzero-norm member at anchor-training time has no
    // anchor row; vectors streamed into it later must still index (r16
    // advice: the inner anchor join silently dropped them — a permanent
    // recall gap, since anchors are never retrained online). Simulate by
    // deleting one cluster's anchor row from the trained model.
    val (anchors, rcb) = Pq.trainedResidualModel(embs, cents, "pqspec-res")
    val dropped = anchors.head._1
    val pruned = anchors.filterNot(_._1 == dropped)
    val idx = tmp(); val full = tmp()
    Pq.buildIndexPqResidual(embs, cents, pruned, rcb, idx)
    Pq.buildIndexPqResidual(embs, cents, anchors, rcb, full)
    def byId(p: String) = spark.read.parquet(p)
      .select("vec_id", "code", "cluster").as[(Long, Long, Int)]
      .collect().sortBy(_._1).toSeq
    val got = byId(idx); val ref = byId(full)
    assert(got.map(_._1) == ref.map(_._1),
      "anchorless cluster silently dropped vectors from the residual index")
    // the anchorless cluster's codes are EXACTLY the plain-PQ codes of the
    // same vectors under the residual codebooks (zero anchor ⇒ residual =
    // unit(v)); all other clusters' codes are untouched
    val plain = tmp()
    Pq.buildIndexPq(embs, cents, rcb, plain)
    val plainCodes = spark.read.parquet(plain)
      .select("vec_id", "code").as[(Long, Long)].collect().toMap
    got.foreach { case (id, code, cl) =>
      if (cl == dropped)
        assert(code == plainCodes(id), s"vec $id: anchorless code != plain-PQ code")
    }
    got.zip(ref).foreach { case ((id, code, cl), (_, refCode, _)) =>
      if (cl != dropped)
        assert(code == refCode, s"vec $id: anchored cluster's code changed")
    }
    // and the anchorless cluster's members remain retrievable end to end
    // (reconstruct side left-joins too): probe everything, assert at least
    // one dropped-cluster member surfaces with a finite score
    val hits = Pq.ivfTopKPqResidualRaw(spark, idx, cents, pruned, rcb,
        probes, k = embs.count().toInt, nprobe = cents.size)
      .select("cand_id").as[Long].collect().toSet
    val members = got.filter(_._3 == dropped).map(_._1).toSet
    assert(members.exists(hits.contains),
      "no anchorless-cluster member retrievable through the residual query")
  }

  test("gate settings: PQ pool contains the exact top-k (rerank ≡ exact IVF)") {
    // poolMult 40 measured as the containment point on THIS corpus
    // (tools/PqProbe: 5/5 probes at every SF; pm=4 fails at sf0.01+) — the
    // synthetic near-random vectors are PQ's worst case, so the pool must
    // be generous; a corpus with real cluster structure needs far less.
    val pq = tmp(); val ex = tmp()
    Pq.buildIndexPq(embs, cents, cb, pq)
    Similarity.buildIndex(embs, cents, ex)
    val got = Pq.ivfTopKPqRerank(spark, pq, ex, cents, cb, probes,
        k = 3, nprobe = 3, poolMult = 40)
      .orderBy("query_id", "cand_id").collect().toSeq
    val exact = Similarity.ivfTopK(embs, cents, probeIds, k = 3, nprobe = 3)
      .orderBy("query_id", "cand_id").collect().toSeq
    assert(got == exact,
      "PQ pool at gate settings misses exact top-k — raise poolMult/nprobe")
  }
}
