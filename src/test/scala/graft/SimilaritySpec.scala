package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("cosine: self=1, orthogonal=0, opposite=-1") {
    val r = spark.range(1).select(
      VectorFunctions.cosine(array(lit(1.0), lit(0.0)), array(lit(1.0), lit(0.0))).as("self"),
      VectorFunctions.cosine(array(lit(1.0), lit(0.0)), array(lit(0.0), lit(1.0))).as("orth"),
      VectorFunctions.cosine(array(lit(1.0), lit(0.0)), array(lit(-1.0), lit(0.0))).as("opp"))
      .as[(Double, Double, Double)].head()
    assert(math.abs(r._1 - 1.0) < 1e-12)
    assert(math.abs(r._2) < 1e-12)
    assert(math.abs(r._3 + 1.0) < 1e-12)
  }

  test("bruteForceTopK returns k best neighbours, excludes self") {
    // 4 vectors: 0 and 1 nearly parallel, 2 orthogonal, 3 opposite to 0
    val e = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.99f, 0.01f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(e, Seq(0L), 2)
      .orderBy(desc("sim")).select("cand_id").as[Long].collect()
    assert(top.toSeq == Seq(1L, 2L))
  }

  test("filtered IVF: every result passes the filter; k fills from the filtered pool") {
    val e = Tables.embeddings(spark, Sf0001)
    val cents = Similarity.centroidSeq(e)
    val probes = Seq(0L, 1L, 2L, 3L, 4L)
    val allowed = Tables.documents(spark, Sf0001)
      .filter(col("lang") === "en").select(col("doc_id"))
    val allowedSet = allowed.as[Long].collect().toSet
    val got = Similarity.ivfTopKFiltered(e, cents, probes, k = 3, nprobe = 10,
        allowedIds = allowed)
      .as[(Long, Long, Double)].collect()
    assert(got.forall { case (_, c, _) => allowedSet(c) },
      "a result escaped the metadata filter")
    assert(got.length == probes.size * 3, "k under-filled despite a 40% pool")
    // nprobe=all ≡ brute force restricted to the allowed set: the semi-join
    // must run BEFORE the per-probe top-k (score-then-filter under-fills
    // and can also admit wrong survivors into the k)
    val bfAll = Similarity.bruteForceTopK(e, probes, k = 500)
      .as[(Long, Long, Double)].collect()
      .filter { case (_, c, _) => allowedSet(c) }
      .groupBy(_._1).view
      .mapValues(_.sortBy { case (_, c, s) => (-s, c) }.take(3).map(t => (t._2, t._3)).toSet)
      .toMap
    val byProbe = got.groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    for (p <- probes)
      assert(byProbe(p) == bfAll(p), s"probe $p: filtered IVF ≠ filtered brute force")
    // and the filter genuinely bites: at least one unfiltered top-3 entry
    // is outside the allowed set (otherwise this test proves nothing)
    val unfiltered = Similarity.ivfTopK(e, cents, probes, 3, nprobe = 10)
      .as[(Long, Long, Double)].collect()
    assert(unfiltered.exists { case (_, c, _) => !allowedSet(c) },
      "fixture too weak: unfiltered top-3 is entirely inside the filter")
  }

  test("IVF with nprobe=all clusters matches brute force exactly") {
    val e = Tables.embeddings(spark, Sf0001)
    val probes = Seq(0L, 1L, 2L)
    val bf = Similarity.bruteForceTopK(e, probes, 3)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val cents = Similarity.centroidSeq(e)
    val ivf = Similarity.ivfTopK(e, cents, probes, 3, nprobe = 10) // all 10 clusters
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    assert(ivf == bf)
  }

  test("incrementally-appended assignment table answers IVF queries like one-shot") {
    val e = Tables.embeddings(spark, Sf0001)
    val cents = Similarity.centroidSeq(e)
    val dir = tempDir("graft-ivf-inc")
    val path = s"$dir/assigned"
    // index built in two ingest batches
    Similarity.appendAssigned(e.filter(col("vec_id") < 250), cents, path)
    Similarity.appendAssigned(e.filter(col("vec_id") >= 250), cents, path)
    val probes = Seq(0L, 1L, 2L)
    val inc = Similarity.ivfTopKAssigned(spark.read.parquet(path), cents, probes, 3, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val oneShot = Similarity.ivfTopK(e, cents, probes, 3, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc == oneShot)
  }

  test("cluster-partitioned index: candidate scan partition-prunes to the probed lists") {
    val e = Tables.embeddings(spark, Sf0001)
    val cents = Similarity.centroidSeq(e)
    val path = tempDir("graft-ivf-part") + "/idx"
    Similarity.buildIndex(e, cents, path)
    val probes = Seq(0L, 1L, 2L)
    val indexed = Similarity.ivfTopKIndexed(spark, path, cents, probes, 3, nprobe = 3)
    // same answers as the in-memory assigned path
    val viaAssigned = Similarity.ivfTopKAssigned(
        Similarity.assign(e, cents), cents, probes, 3, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(indexed.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      == viaAssigned)
    // and the candidate scan is partition-pruned: its FileScan carries a
    // PartitionFilters entry on cluster (the static IN list), so only the
    // probed cluster= directories are listed/opened
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cluster"),
      s"no cluster partition filter in plan:\n${plan.take(2000)}")
  }

  test("client-carried query vectors answer identically to the id-lookup form") {
    val e = Tables.embeddings(spark, Sf0001)
    val cents = Similarity.centroidSeq(e)
    val path = tempDir("graft-ivf-vec") + "/idx"
    Similarity.buildIndex(e, cents, path)
    val probeIds = Seq(0L, 1L, 2L)
    val vecs = e.filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val byId = Similarity.ivfTopKIndexed(spark, path, cents, probeIds, 3, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val byVec = Similarity.ivfTopKIndexedVectors(spark, path, cents, vecs, 3, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(byVec == byId, "vector-carried probes must answer exactly like id lookup")
    // the driver-side cluster pick equals the codegen expression's pick
    val exprPick = Similarity.assign(
        e.filter(col("vec_id").isin(probeIds: _*)), cents)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    vecs.foreach { case (id, v) =>
      assert(Similarity.nearestClustersLocal(v, cents, 1).head == exprPick(id))
    }
  }

  test("quantized index: 3x+ smaller, same list membership, recall@10 >= 0.9") {
    val e = Tables.embeddings(spark, Sf0001)
    val cents = Similarity.centroidSeq(e)
    val tmp = tempDir("graft-ivf-q")
    Similarity.buildIndex(e, cents, s"$tmp/exact")
    Similarity.buildIndexQuantized(e, cents, s"$tmp/quant")
    def size(p: String): Long = {
      val fs = graft.functions.FsUtils.fs(spark, p)
      fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength
    }
    assert(size(s"$tmp/exact") > 3 * size(s"$tmp/quant"),
      s"quantized index not 3x smaller: ${size(s"$tmp/exact")} vs ${size(s"$tmp/quant")}")
    // identical inverted-list membership (assignment ran on full precision)
    val memE = spark.read.parquet(s"$tmp/exact").select("vec_id", "cluster")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val memQ = spark.read.parquet(s"$tmp/quant").select("vec_id", "cluster")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(memE == memQ)
    // recall@10 of the int8 ranking vs the exact ranking, same probes
    val probeIds = (0L until 20L).toSeq
    val vecs = e.filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val exact = Similarity.ivfTopKIndexedVectors(spark, s"$tmp/exact", cents, vecs, 10, nprobe = 3)
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val quant = Similarity.ivfTopKIndexedQuantized(spark, s"$tmp/quant", cents, vecs, 10, nprobe = 3)
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recalls = exact.map { case (q, ids) =>
      quant.get(q).map(qs => (qs & ids).size.toDouble / ids.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall@10 $mean < 0.9 (per-probe: ${recalls.toList.sorted})")
    // and the quantized candidate scan partition-prunes like the exact one
    val qdf = Similarity.ivfTopKIndexedQuantized(spark, s"$tmp/quant", cents, vecs, 10, nprobe = 3)
    qdf.collect()
    val plan = qdf.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cluster"),
      s"no cluster partition filter in quantized plan:\n${plan.take(2000)}")
  }

  test("two-stage rerank: exhaustive pool equals the exact indexed query; 4k pool holds recall") {
    val e = Tables.embeddings(spark, Sf0001)
    val cents = Similarity.centroidSeq(e)
    val tmp = tempDir("graft-ivf-rr")
    Similarity.buildIndex(e, cents, s"$tmp/exact")
    Similarity.buildIndexQuantized(e, cents, s"$tmp/quant")
    val probeIds = (0L until 20L).toSeq
    val vecs = e.filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = rows(Similarity.ivfTopKIndexedVectors(
      spark, s"$tmp/exact", cents, vecs, 10, nprobe = 3))
    // a pool wide enough to hold every candidate in the probed lists makes
    // stage 2 rescore exactly what the exact query scores — identical rows,
    // sims included (same rounding, same cand_id tie-breaks)
    val exhaustive = rows(Similarity.ivfTopKQuantizedRerank(
      spark, s"$tmp/quant", s"$tmp/exact", cents, vecs, 10, nprobe = 3,
      poolMult = 1000))
    assert(exhaustive == exact)
    // the production pool (4k): sims are EXACT cosines (every returned row
    // must appear in the exhaustive scoring with the same sim) and recall
    // vs the exact top-10 stays above the int8 bound
    val rr = rows(Similarity.ivfTopKQuantizedRerank(
      spark, s"$tmp/quant", s"$tmp/exact", cents, vecs, 10, nprobe = 3))
    val exactByQc = exact.map(t => (t._1, t._2) -> t._3).toMap
    rr.foreach { case (q, c, sim) =>
      exactByQc.get((q, c)).foreach(es => assert(es == sim,
        s"rerank sim $sim != exact sim $es for ($q,$c)")) }
    val exTop = exact.groupBy(_._1).map { case (q, ts) => q -> ts.map(_._2) }
    val rrTop = rr.groupBy(_._1).map { case (q, ts) => q -> ts.map(_._2) }
    val recalls = exTop.map { case (q, ids) =>
      rrTop.get(q).map(g => (g & ids).size.toDouble / ids.size).getOrElse(0.0) }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"rerank mean recall@10 $mean < 0.9")
  }

  test("incrementally-appended quantized index equals a one-shot rebuild") {
    val e = Tables.embeddings(spark, Sf0001)
    val cents = Similarity.centroidSeq(e)
    val tmp = tempDir("graft-ivf-qinc")
    Similarity.appendAssignedQuantized(e.filter(col("vec_id") < 250), cents, s"$tmp/inc")
    Similarity.appendAssignedQuantized(e.filter(col("vec_id") >= 250), cents, s"$tmp/inc")
    Similarity.buildIndexQuantized(e, cents, s"$tmp/full")
    // identical inverted-list membership (assignment runs on full precision
    // in both paths)
    def members(p: String) = spark.read.parquet(p).select("vec_id", "cluster")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(members(s"$tmp/inc") == members(s"$tmp/full"))
    // identical quantized query answers, scores included (shared
    // quantization code ⇒ byte-identical stored vectors)
    val vecs = e.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    def answers(p: String) =
      Similarity.ivfTopKIndexedQuantized(spark, p, cents, vecs, 10, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(answers(s"$tmp/inc") == answers(s"$tmp/full"))
  }

  test("streaming index maintenance: streamed-in batches answer IVF like one-shot") {
    val e = Tables.embeddings(spark, Sf0001)
    val cents = Similarity.centroidSeq(e)
    val tmp = tempDir("graft-ivf-stream")
    val inDir = s"$tmp/in"; val idx = s"$tmp/assigned"; val ckpt = s"$tmp/ckpt"
    Similarity.saveCentroids(spark, cents, s"$tmp/centroids")
    e.filter(col("vec_id") < 250).write.mode("append").parquet(inDir)
    val qidx = s"$tmp/quantized"
    val q = graft.streaming.EmbeddingIndexStream.run(
      spark, inDir, idx, ckpt, e, s"$tmp/centroids", quantizedDir = Some(qidx))
    try {
      q.processAllAvailable()
      e.filter(col("vec_id") >= 250).write.mode("append").parquet(inDir)
      q.processAllAvailable()
    } finally q.stop()
    val probes = Seq(0L, 1L, 2L)
    val streamed = Similarity.ivfTopKAssigned(
        graft.streaming.EmbeddingIndexStream.readIndex(spark, idx), cents, probes, 3, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val oneShot = Similarity.ivfTopK(e, cents, probes, 3, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == oneShot)
    // per-batch dirs exist — the idempotent replay/compaction unit
    val batches = new java.io.File(idx).listFiles().filter(_.getName.startsWith("batch="))
    assert(batches.length >= 2)
    // the dual-written QUANTIZED index: same membership as the exact one,
    // and quantized queries equal a from-scratch quantized rebuild
    def members(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cluster")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(members(spark.read.parquet(qidx)) == members(spark.read.parquet(idx)))
    Similarity.buildIndexQuantized(e, cents, s"$tmp/qfull")
    val vecs = e.filter(col("vec_id").isin(probes: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    def qAnswers(p: String) =
      Similarity.ivfTopKIndexedQuantized(spark, p, cents, vecs, 3, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(qAnswers(qidx) == qAnswers(s"$tmp/qfull"))
  }

  test("index compaction: bounded batch dirs, one file per cluster, replay- and crash-safe") {
    import graft.streaming.EmbeddingIndexStream
    val e = Tables.embeddings(spark, Sf0001)
    val cents = Similarity.centroidSeq(e)
    val tmp = tempDir("graft-ivf-compact")
    val idx = s"$tmp/assigned"
    val parts = (0 until 5).map(i => e.filter(pmod(col("vec_id"), lit(5)) === i))
    parts.zipWithIndex.foreach { case (b, i) =>
      EmbeddingIndexStream.applyBatch(b, i, cents, idx, autoCompactBatches = 3)
    }
    // auto-compaction fired at batch 3 (4 dirs > 3): dir count stays bounded
    def batchDirs() = new java.io.File(idx).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).sorted.toSeq
    assert(batchDirs() == Seq("batch=-1", "batch=3", "batch=4"))
    // the compacted dir holds ONE data file per cluster — the probed read
    // is back to nprobe file-opens however many batches streamed in
    for (c <- new java.io.File(s"$idx/batch=-1").listFiles()
         if c.getName.startsWith("cluster=")) {
      assert(c.listFiles().count(_.getName.endsWith(".parquet")) == 1,
        s"${c.getName} not compacted to a single file")
    }
    // compacted index answers exactly like the one-shot build
    val probes = Seq(0L, 1L, 2L)
    def answers() = Similarity.ivfTopKAssigned(
        EmbeddingIndexStream.readIndex(spark, idx), cents, probes, 3, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val oneShot = Similarity.ivfTopK(e, cents, probes, 3, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(answers() == oneShot)
    // REPLAY after compaction: the last (never-folded) batch re-delivers and
    // overwrites only its own dir — no duplicates, answers unchanged
    EmbeddingIndexStream.applyBatch(parts(4), 4, cents, idx, autoCompactBatches = 3)
    assert(answers() == oneShot)
    val dupes = EmbeddingIndexStream.readIndex(spark, idx)
      .groupBy("vec_id").count().filter(col("count") > 1).count()
    assert(dupes == 0L)
    // CRASH inside the swap: the tmp merge committed but batch=-1 was
    // deleted before the rename — the recovery preamble must redo it
    EmbeddingIndexStream.compactIndex(spark, idx) // fold everything to batch=-1
    assert(batchDirs() == Seq("batch=-1"))
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$idx/batch=-1"),
      java.nio.file.Paths.get(s"$idx/.compact-tmp"))
    EmbeddingIndexStream.compactIndex(spark, idx)
    assert(batchDirs() == Seq("batch=-1"))
    assert(answers() == oneShot)
  }

  test("index compaction crash inside the swap: liveIndex in the window returns every row") {
    import graft.streaming.EmbeddingIndexStream
    import java.nio.file.{Files, Paths}
    val e = Tables.embeddings(spark, Sf0001)
    val cents = Similarity.centroidSeq(e)
    val all = e.select("vec_id").as[Long].collect().toSet
    // two crash layouts: the fold swapped out beside a batch it had not
    // folded yet, and the all-folded layout of the compaction test above
    for (unfoldedTail <- Seq(true, false)) {
      val idx = tempDir("graft-ivf-compact-crash") + "/assigned"
      (0 until 5).foreach { i =>
        EmbeddingIndexStream.applyBatch(
          e.filter(pmod(col("vec_id"), lit(5)) === i), i, cents, idx)
      }
      val (tail, side) = (Paths.get(s"$idx/batch=4"), Paths.get(s"$idx.batch=4"))
      if (unfoldedTail)
        org.apache.commons.io.FileUtils.copyDirectory(tail.toFile, side.toFile)
      EmbeddingIndexStream.compactIndex(spark, idx)
      // the crash window: batch=-1 deleted, the committed fold not renamed
      Files.move(Paths.get(s"$idx/batch=-1"), Paths.get(s"$idx/.compact-tmp"))
      if (unfoldedTail) Files.move(side, tail)
      val live = EmbeddingIndexStream.liveIndex(spark, idx)
        .select("vec_id").as[Long].collect()
      assert(live.length == all.size && live.toSet == all,
        s"unfoldedTail=$unfoldedTail: ${live.length} of ${all.size} rows")
    }
  }

  test("trained quantizer round-trips through parquet persist/load") {
    val e = Tables.embeddings(spark, Sf0001)
    val cents = Similarity.centroidSeq(e)
    val dir = tempDir("graft-ivf")
    Similarity.saveCentroids(spark, cents, s"$dir/centroids.parquet")
    val loaded = Similarity.loadCentroids(spark, s"$dir/centroids.parquet")
    assert(loaded.sortBy(_._1) == cents.sortBy(_._1))
  }

  test("IVF recall improves with nprobe (near-uniform data: wide probes needed)") {
    val e = Tables.embeddings(spark, Sf0001)
    val probes = (0L until 10L).toSeq
    val bf = Similarity.bruteForceTopK(e, probes, 3)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val cents = Similarity.centroidSeq(e)
    def recallAt(np: Int) = {
      val ivf = Similarity.ivfTopK(e, cents, probes, 3, nprobe = np)
        .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
      (bf intersect ivf).size.toDouble / bf.size
    }
    val r3 = recallAt(3); val r6 = recallAt(6)
    assert(r6 >= r3, s"recall must not degrade with more probes: r3=$r3 r6=$r6")
    assert(r6 >= 0.5, s"IVF nprobe=6 recall $r6 < 0.5")
  }

  test("LSH near-dup pairs achieve high recall vs exact at the same threshold") {
    val e = Tables.embeddings(spark, Sf0001) // 500 vecs
    val exact = Similarity.embeddingNearDupExact(e, maxId = 500L, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.embeddingNearDupLsh(e, dim = 64, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert(lsh.subsetOf(exact), "LSH must never report a false pair (verified by exact cosine)")
    val recall = (exact intersect lsh).size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall < 0.8 (found ${lsh.size}/${exact.size})")
  }

  test("auto-width LSH: derived bits match the calibrated gate width at this scale") {
    val e = Tables.embeddings(spark, Sf0001)
    // 500 vectors / 1024 target -> floor of 4 bits, i.e. the gate's width:
    // the auto entry point must then produce the identical pair set
    assert(Similarity.bitsPerTableFor(e.count(), 1024L) == 4)
    assert(Similarity.bitsPerTableFor(1L << 24, 1024L) == 14) // 16M rows -> 14 bits
    val auto = Similarity.embeddingNearDupLshAuto(e, dim = 64, threshold = 0.35)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val fixed = Similarity.embeddingNearDupLsh(e, dim = 64, threshold = 0.35)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(auto == fixed && auto.nonEmpty)
  }

  test("bucket cap: degenerate corpus (one dominant bucket) — bounded sub-tasks, unchanged pairs") {
    // 400 near-identical vectors: every hyperplane signs them the same way,
    // so ALL of them land in ONE bucket per table — the round-3 mega-bucket
    // scenario where the uncapped verify collected 400 vectors into a single
    // aggregation buffer/task.
    val base = Array.tabulate(8)(i => 1.0 + i * 0.1)
    val rows = (0L until 400L).map { i =>
      (i, base.zipWithIndex.map { case (x, d) => (x + (i % 7) * 1e-4 * (d + 1)).toFloat }.toSeq)
    }
    val e = rows.toDF("vec_id", "embedding")
    val cap = 50
    val capped = Similarity.embeddingNearDupLsh(e, dim = 8, threshold = 0.9,
        nTables = 4, bitsPerTable = 4, bucketCap = cap)
      .as[(Long, Long, Double)].collect().toSet
    val uncapped = Similarity.embeddingNearDupLsh(e, dim = 8, threshold = 0.9,
        nTables = 4, bitsPerTable = 4, bucketCap = Int.MaxValue)
      .as[(Long, Long, Double)].collect().toSet
    assert(capped == uncapped, "triangle-split must not change the pair output")
    assert(capped.size == 400L * 399L / 2, "near-identical corpus: every pair is a near-dup")
    // the sub-bucket frame itself: per-task element count is bounded even
    // though the bucket holds the whole corpus
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.graft.HyperplaneBuckets
    val planes = Similarity.hyperplanes(8, 4 * 4)
    val v = col("embedding").cast("array<double>").as("v")
    val bucketsCol = ColumnBridge.column(HyperplaneBuckets(
      ColumnBridge.expression(col("v")), planes.toArray, 4))
    val bucketed = e.select(col("vec_id"), v)
      .select(col("vec_id"), col("v"), posexplode(bucketsCol).as(Seq("tbl", "bucket")))
    val sizes = graft.operators.BucketedPairs
      .boundedSubBuckets(bucketed, Seq("tbl", "bucket"), col("vec_id"), col("v"), cap)
      .select(max(size(col("xs"))), min(size(col("xs"))))
      .as[(Int, Int)].head()
    assert(sizes._1 <= 3 * cap,
      s"max sub-task size ${sizes._1} exceeds the cap bound (cap=$cap)")
    assert(sizes._1 < 400, "the mega-bucket must actually have been split")
    // the count-join sizing strategy: same bound, same grouped content
    val cjMax = graft.operators.BucketedPairs
      .boundedSubBucketsCountJoin(bucketed, Seq("tbl", "bucket"), col("vec_id"), col("v"), cap)
      .select(max(size(col("xs")))).as[Int].head()
    assert(cjMax <= 3 * cap && cjMax < 400)
  }

  test("LSH near-dup tolerates a zero-norm vector (pairs with nothing, no crash)") {
    val base = Array.tabulate(8)(i => 1.0 + i * 0.1)
    val rows = (0L until 50L).map { i =>
      (i, base.map(x => (x + i * 1e-4).toFloat).toSeq)
    } :+ (99L, Seq.fill(8)(0.0f))
    val e = rows.toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDupLsh(e, dim = 8, threshold = 0.5,
        nTables = 4, bitsPerTable = 4)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    assert(!pairs.exists(p => p._1 == 99L || p._2 == 99L),
      "the zero vector must not appear in any verified pair")
  }

  test("TopK aggregator formulation equals the window formulation") {
    val e = Tables.embeddings(spark, Sf0001)
    val probes = (0L until 8L).toSeq
    val win = Similarity.bruteForceTopK(e, probes, 4)
      .orderBy("query_id", "cand_id").as[(Long, Long, Double)].collect().toSeq
    val agg = graft.operators.TopK.bruteForceTopKAgg(e, probes, 4)
      .orderBy("query_id", "cand_id").as[(Long, Long, Double)].collect().toSeq
    assert(agg == win)
  }

  test("zero-norm vector is similar to nothing: excluded from both top-k formulations") {
    // a zero vector scores cosine NaN; without the isnan filter Spark's
    // desc sort would rank it FIRST for every probe (and under ANSI mode
    // the unguarded division killed the whole query)
    val e = ((0L until 6L).map(i => (i, Seq.fill(4)((i + 1).toFloat))) :+
      (6L, Seq.fill(4)(0.0f))).toDF("vec_id", "embedding")
    val win = Similarity.bruteForceTopK(e, Seq(0L), 3)
      .orderBy("cand_id").select("cand_id").as[Long].collect().toSeq
    val agg = graft.operators.TopK.bruteForceTopKAgg(e, Seq(0L), 3)
      .orderBy("cand_id").select("cand_id").as[Long].collect().toSeq
    assert(!win.contains(6L) && win.size == 3)
    assert(agg == win)
  }

  test("TopKAgg bounded insert: ties break by cand_id, overflow drops the worst") {
    import graft.operators.TopK.{Scored, TopKAgg, TopKBuf}
    val agg = new TopKAgg(3)
    // insert out of order, with a tie at sim=0.5 (ids 7 and 2)
    val ins = Seq((0.5, 7L), (0.9, 4L), (0.5, 2L), (0.1, 1L), (0.9, 9L))
    val buf = ins.foldLeft(agg.zero) { case (b, (s, i)) => agg.reduce(b, Scored(0L, i, s)) }
    assert(buf.sims.toSeq == Seq(0.9, 0.9, 0.5))
    assert(buf.ids.toSeq == Seq(4L, 9L, 2L))
    // full buffer + worse candidate returns the SAME buffer instance (O(1) path)
    assert(agg.reduce(buf, Scored(0L, 99L, 0.05)) eq buf)
    // merge of two partials == inserting everything on one side
    val (l, r) = ins.splitAt(2)
    val bl = l.foldLeft(agg.zero) { case (b, (s, i)) => agg.reduce(b, Scored(0L, i, s)) }
    val br = r.foldLeft(agg.zero) { case (b, (s, i)) => agg.reduce(b, Scored(0L, i, s)) }
    val m = agg.merge(bl, br)
    assert(m.sims.toSeq == buf.sims.toSeq && m.ids.toSeq == buf.ids.toSeq)
    assert(agg.merge(agg.zero, buf).ids.toSeq == buf.ids.toSeq)
  }

  test("embeddingDedupKeep: total, deterministic, identical vectors collapse to min id") {
    val base = Tables.embeddings(spark, Sf0001)
    // plant an exact duplicate of vec 0 with a larger id
    val dupId = 999999L
    val dup = base.filter(col("vec_id") === 0L)
      .select(lit(dupId).as("vec_id"), col("embedding"),
        col("label"))
    val e = base.unionByName(dup)
    val kept = Similarity.embeddingDedupKeep(e, dim = 64)
    assert(kept.count() == e.count()) // one verdict per vector
    val verdicts = kept.filter(col("vec_id").isin(0L, dupId))
      .orderBy("vec_id")
      .select("vec_id", "rep_id", "keep").as[(Long, Long, Boolean)].collect()
    // identical vectors share every bucket: the min id is kept, the dup is
    // dropped and points at (at most) the min as representative
    assert(verdicts.exists(v => v._1 == dupId && !v._3))
    assert(verdicts.find(_._1 == dupId).get._2 <= 0L)
    // partitioning-independent
    val a = kept.orderBy("vec_id").collect()
    val b = Similarity.embeddingDedupKeep(e.repartition(7), dim = 64)
      .orderBy("vec_id").collect()
    assert(a.sameElements(b))
  }

  test("centroids are elementwise means (unit check on a tiny frame)") {
    val e = Seq(
      (0L, Seq(0.0f, 2.0f), 0), (1L, Seq(2.0f, 0.0f), 0),
      (2L, Seq(4.0f, 4.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val c = Similarity.centroids(e).orderBy("cluster")
      .select("centroid").as[Seq[Double]].collect()
    assert(c(0) == Seq(1.0, 1.0))
    assert(c(1) == Seq(4.0, 4.0))
  }

  test("labelDispersion: anchor is min vec_id; collapsed label = all 1.0") {
    val e = Seq(
      // label 0: anchor (1,0); one copy, one orthogonal
      (0L, Seq(1.0f, 0.0f), 0), (1L, Seq(2.0f, 0.0f), 0), (2L, Seq(0.0f, 3.0f), 0),
      // label 1: all identical → dispersion collapsed at 1.0
      (3L, Seq(1.0f, 1.0f), 1), (4L, Seq(2.0f, 2.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val d = Similarity.labelDispersion(e).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    // label 0: cosines {1.0, 1.0, 0.0} → mean 0.6667
    assert(d(0) == ((0, 3L, 0.6667, 0.0, 1.0)))
    assert(d(1) == ((1, 2L, 1.0, 1.0, 1.0)))
  }

  test("zero-norm vectors: excluded from dispersion stats, KEPT by semantic dedup") {
    val e = Seq(
      (0L, Seq(0.0f, 0.0f), 0),           // zero vector wins the min-id race...
      (1L, Seq(1.0f, 0.0f), 0),           // ...but the anchor must be SCOREABLE
      (2L, Seq(2.0f, 0.0f), 0),           // scaled copy of the real anchor
      (3L, Seq(0.0f, 0.0f), 1)            // a label that is ALL zero-norm
    ).toDF("vec_id", "embedding", "label")
    // dispersion: label 0 counts only the 2 scoreable vectors (both cos 1.0
    // to the non-zero anchor); label 1 has nothing scoreable and no row
    val d = Similarity.labelDispersion(e).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(d.toSeq == Seq((0, 2L, 1.0)))
    // semantic dedup: zero vectors are similar to NOTHING -> kept; the
    // scoreable anchor keeps itself; its scaled copy is redundant -> dropped
    val kept = Similarity.semanticDedupKeep(e, tau = 0.9).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(kept == Map(0L -> true, 1L -> true, 2L -> false, 3L -> true))
  }

  test("semanticDedupKeep: anchors always kept; redundant members dropped") {
    val e = Seq(
      // label 0: anchor (1,0); vec 1 is a scaled copy (cos 1.0 → drop);
      // vec 2 orthogonal (cos 0 → keep)
      (0L, Seq(1.0f, 0.0f), 0), (1L, Seq(3.0f, 0.0f), 0), (2L, Seq(0.0f, 1.0f), 0),
      // label 1: lone anchor keeps itself (cos 1.0 but IS the anchor)
      (3L, Seq(1.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val kept = Similarity.semanticDedupKeep(e, tau = 0.9).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(kept == Map(0L -> true, 1L -> false, 2L -> true, 3L -> true))
  }

  test("labelDispersion is partitioning-independent (decimal-exact mean)") {
    val e = Tables.embeddings(spark, Sf0001)
    val a = Similarity.labelDispersion(e).collect()
    val b = Similarity.labelDispersion(e.repartition(13)).collect()
    assert(a.sameElements(b))
    assert(a.nonEmpty && a.forall(r => r.getDouble(2) <= 1.0))
  }

  test("clusterSample: quotas are ceil(sqrt(n_c)), winners are the hash-min members, repartition-stable") {
    val e = Tables.embeddings(spark, Sf0001)
    val cents = Similarity.centroidSeq(e)
    val out = Similarity.clusterSampleOf(e, cents).collect()
    // quota respected and met exactly per cluster (sample size = min(quota, n_c) = quota)
    val byCluster = out.groupBy(_.getLong(1))
    byCluster.foreach { case (_, rows) =>
      val nC = rows.head.getLong(2)
      val quota = math.ceil(math.sqrt(nC.toDouble)).toLong
      assert(rows.head.getLong(3) == quota)
      assert(rows.length == quota)
      assert(rows.map(_.getLong(4)).sorted.toSeq == (1L to quota))
    }
    // winners = the quota smallest salted hashes per cluster (driver recompute)
    import graft.functions.Hashing.h60
    val assigned = Similarity.assign(e, cents)
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        h60(concat(col("vec_id").cast("string"), lit(":csample"))).as("hk"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(0)))
    val expect = assigned.groupBy(_._1).toSeq.flatMap { case (c, rows) =>
      val q = math.ceil(math.sqrt(rows.length.toDouble)).toInt
      rows.sortBy(r => (r._2, r._3)).take(q).map(r => (c, r._3)).toSeq
    }.toSet
    assert(out.map(r => (r.getLong(1), r.getLong(0))).toSet == expect)
    // deterministic under repartitioning
    val again = Similarity.clusterSampleOf(e.repartition(11), cents).collect()
    assert(out.sameElements(again))
    // rebalancing: the sampling rate is ~n^(-1/2) — for clusters ≥4× apart
    // the bigger one's rate must be strictly smaller (ceil can locally
    // wiggle the rate between near-equal sizes, so only the asymptotic
    // claim is assertable)
    val rates = byCluster.values.map { rows =>
      (rows.head.getLong(2), rows.head.getLong(3).toDouble / rows.head.getLong(2)) }.toSeq
    for ((n1, r1) <- rates; (n2, r2) <- rates if n2 >= 4 * n1)
      assert(r2 < r1, s"rate did not shrink: n=$n1 rate=$r1 vs n=$n2 rate=$r2")
  }

  test("scoped int8 rerank: exhaustive filtered pool ≡ exact filtered IVF") {
    // the CandidateScope composition on the int8 tier (r17: every
    // compressed tier accepts filter/delete scoping): with a pool wide
    // enough to hold every allowed candidate in the probed lists, the
    // scoped two-stage query returns exactly the exact filtered-IVF rows —
    // the fill-from-filtered-pool pin through the quantized read
    val e = Tables.embeddings(spark, Sf0001)
    val cents = Similarity.centroidSeq(e)
    val tmp = tempDir("graft-ivf-fq")
    Similarity.buildIndex(e, cents, s"$tmp/exact")
    Similarity.buildIndexQuantized(e, cents, s"$tmp/quant")
    val probeIds = Seq(0L, 1L, 2L, 3L, 4L)
    val vecs = e.filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val allowed = Tables.documents(spark, Sf0001)
      .filter(col("lang") === "en").select(col("doc_id"))
    val got = Similarity.ivfTopKQuantizedRerank(
        spark, s"$tmp/quant", s"$tmp/exact", cents, vecs, 3, nprobe = 3,
        poolMult = 1000,
        scope = graft.operators.Pq.CandidateScope(allowed = Some(allowed)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = Similarity.ivfTopKFiltered(e, cents, probeIds, 3, nprobe = 3,
        allowedIds = allowed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == exact, "scoped int8 rerank diverges from exact filtered IVF")
    assert(got.nonEmpty)
  }

  test("pairEval: hand-computed precision/recall, zero-denominator safety") {
    val truth = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val pred = Seq((1L, 2L), (2L, 3L), (6L, 7L)).toDF("id_a", "id_b")
    val out = Similarity.pairEval(pred, truth)
      .as[(Long, Long, Long, Double, Double)].head()
    assert(out == ((4L, 3L, 2L, 0.6667, 0.5)), s"got $out")
    val empty = Similarity.pairEval(pred.filter($"id_a" < 0), truth)
      .as[(Long, Long, Long, Double, Double)].head()
    assert(empty == ((4L, 0L, 0L, 0.0, 0.0)), "empty pred must yield zeros, not NaN")
    // a duplicated (id_a, id_b) row in either input counts once, never m·n
    val dup = Similarity.pairEval(
        pred.union(Seq((1L, 2L), (1L, 2L)).toDF("id_a", "id_b")),
        truth.union(Seq((1L, 2L)).toDF("id_a", "id_b")))
      .as[(Long, Long, Long, Double, Double)].head()
    assert(dup == out, s"duplicates must not multiply the counts: got $dup")
  }

  test("lsh_pair_eval gate semantics: verified-LSH precision is exactly 1.0") {
    val e = Tables.embeddings(spark, Sf0001)
    val out = Similarity.pairEval(
        Similarity.embeddingNearDupLsh(e, dim = 64, threshold = 0.35)
          .filter($"id_a" < 300L && $"id_b" < 300L),
        Similarity.embeddingNearDupExact(e, maxId = 300L, threshold = 0.35))
      .as[(Long, Long, Long, Double, Double)].head()
    assert(out._4 == 1.0, "the verify stage must make every predicted pair true")
    assert(out._5 > 0.0 && out._5 <= 1.0)
    assert(out._3 == out._2, "hits must equal predictions at precision 1.0")
  }
}
