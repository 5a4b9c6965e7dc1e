package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.streaming.EmbeddingIndexStream

/** Re-clustering — the index lifecycle's maintenance verb: when the corpus
  * drifts, [[EmbeddingIndexStream.reclusterIndex]] retrains the coarse
  * quantizer on the CURRENT LIVE set and swaps the dir atomically, with
  * the quantizer co-located inside the dir (one rename carries data +
  * quantizer — no window pairing new centroids with old cluster ids).
  * Covers: read consistency through a mid-stream recluster (stopped-stream
  * maintenance window, restart replay), the armed-tombstone interaction,
  * and crash recovery of an interrupted swap.
  */
class IndexReclusterSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def embs = Tables.embeddings(spark, Sf0001)
  private lazy val cents0 = Similarity.centroidSeq(embs)
  private def tmp(): String =
    tempDir("graft-recl") + "/index"

  private lazy val probes = embs.filter(col("vec_id") < 3)
    .select(col("vec_id"), col("embedding").cast("array<double>"))
    .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq

  private def liveIds(idx: String): Set[Long] =
    EmbeddingIndexStream.liveIndex(spark, idx)
      .select("vec_id").as[Long].collect().toSet

  test("recluster: live set preserved exactly, quantizer co-located, centroids moved") {
    val idx = tmp()
    (0 until 2).foreach { b =>
      EmbeddingIndexStream.applyBatch(
        embs.filter(col("vec_id") % 2 === b), b.toLong, cents0, idx)
    }
    val dead = Seq(7L, 11L, 42L)
    EmbeddingIndexStream.tombstone(spark, dead.toDF("vec_id"), 2L, idx)
    val before = liveIds(idx)
    val newCents = EmbeddingIndexStream.reclusterIndex(spark, idx, cents0)
    // deterministic retraining: same cluster ids, centroids actually moved
    assert(newCents.map(_._1) == cents0.map(_._1))
    assert(newCents != cents0, "recluster did not move any centroid")
    // the co-located quantizer IS what indexQuantizer now serves
    assert(EmbeddingIndexStream.indexQuantizer(spark, idx, cents0) == newCents)
    // the rewrite is exactly the live set: nothing dropped, nothing
    // resurrected, tombstoned rows physically gone
    assert(liveIds(idx) == before)
    val raw = EmbeddingIndexStream.readIndex(spark, idx)
      .select("vec_id").as[Long].collect().toSet
    assert(raw == before, "reclustered dir carries non-live rows")
    // membership matches a fresh assignment under the new quantizer
    val expected = Similarity.assign(
        embs.filter(!col("vec_id").isin(dead: _*)), newCents)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    val got = spark.read.parquet(idx).select("vec_id", "cluster")
      .as[(Long, Int)].collect().toMap
    assert(got == expected, "reclustered layout disagrees with assignment")
  }

  test("reads stay consistent through a mid-stream recluster (stop, swap, restart, replay)") {
    val idx = tmp()
    // stream batches 0..1 under the initial quantizer, delete a few ids
    (0 until 2).foreach { b =>
      EmbeddingIndexStream.applyBatch(
        embs.filter(col("vec_id") % 3 === b), b.toLong, cents0, idx)
    }
    val dead = Seq(3L, 9L)
    EmbeddingIndexStream.tombstone(spark, dead.toDF("vec_id"), 2L, idx)
    // maintenance window: stream stopped → recluster → restart
    val newCents = EmbeddingIndexStream.reclusterIndex(spark, idx, cents0)
    // restart replays un-checkpointed batches (0 REWRITES the dead ids —
    // the armed-tombstone scenario — and 1) and appends a NEW batch (id
    // 2), all filed under the NEW quantizer
    EmbeddingIndexStream.applyBatch(
      embs.filter(col("vec_id") % 3 === 0), 0L, newCents, idx)
    EmbeddingIndexStream.applyBatch(
      embs.filter(col("vec_id") % 3 === 1), 1L, newCents, idx)
    EmbeddingIndexStream.applyBatch(
      embs.filter(col("vec_id") % 3 === 2), 2L, newCents, idx)
    // every live vector is retrievable and no deleted id resurfaced: the
    // live query with nprobe = all clusters equals brute force over the
    // live set — the strongest consistency read
    val total = embs.count()
    assert(liveIds(idx).size == total - dead.size)
    val got = EmbeddingIndexStream.ivfTopKIndexedLive(spark, idx, newCents,
        probes, k = 5, nprobe = newCents.size)
      .as[(Long, Long, Double)].collect()
    assert(got.length == probes.size * 5)
    assert(got.forall { case (_, c, _) => !dead.contains(c) },
      "a deleted id resurfaced after recluster + replay")
    val brute = Similarity.bruteForceTopK(
        embs.filter(!col("vec_id").isin(dead: _*)),
        probes.map(_._1), 5)
      .as[(Long, Long, Double)].collect().toSet
    assert(got.toSet == brute,
      "post-recluster reads diverge from brute force over the live set")
    // armed tombstones survived the swap: batch 0's replay REWROTE the
    // dead ids' rows, and they must stay invisible to live reads
    val rawAfterReplay = EmbeddingIndexStream.readIndex(spark, idx)
      .select("vec_id").as[Long].collect().toSet
    assert(dead.forall(rawAfterReplay.contains),
      "test setup: replay did not rewrite the dead ids")
    assert(dead.forall(!liveIds(idx).contains(_)),
      "replay resurrected a tombstoned id after the recluster swap")
  }

  test("generation fence: recluster without a code-tier rebuild fails fast, rebuild heals") {
    import graft.operators.{IndexGen, Pq}
    val base = tempDir("graft-genfence")
    val exDir = s"$base/exact"; val pqrDir = s"$base/pqr"
    val cb = Pq.trainCodebooks(embs, iters = 1, sampleN = 512)
    val anchors = Pq.clusterAnchors(embs, cents0)
    EmbeddingIndexStream.applyBatch(embs, 0L, cents0, exDir,
      pqrLoaded = Some((pqrDir, anchors, cb)))
    // pre-recluster: both at generation 0, the live read serves
    val before = EmbeddingIndexStream.ivfTopKPqResidualLive(spark, pqrDir,
      exDir, cents0, anchors, cb, probes, k = 3, nprobe = cents0.size,
      poolMult = 40).collect()
    assert(before.length == probes.size * 3)
    // recluster bumps the exact dir's quantizer generation...
    val newCents = EmbeddingIndexStream.reclusterIndex(spark, exDir, cents0)
    assert(IndexGen.quantizerGen(spark, exDir) == 1L)
    // ...and the STALE code tier becomes mechanically unreadable (the
    // round-17 latent trap: old-geometry codes scored against new
    // centroids would silently wrong-answer; now it refuses)
    val eRead = intercept[IllegalArgumentException] {
      EmbeddingIndexStream.ivfTopKPqResidualLive(spark, pqrDir, exDir,
        newCents, anchors, cb, probes, k = 3, nprobe = newCents.size,
        poolMult = 40)
    }
    assert(eRead.getMessage.contains("generation"))
    // the streamed writer refuses to mix geometries in the stale dir too
    val eAppend = intercept[IllegalArgumentException] {
      EmbeddingIndexStream.applyBatch(embs.limit(5), 1L, newCents, exDir,
        pqrLoaded = Some((pqrDir, anchors, cb)))
    }
    assert(eAppend.getMessage.contains("generation"))
    // offline rebuild against the NEW quantizer (fresh residual model —
    // anchors derive from cluster geometry) re-stamps and heals the read
    val anchors2 = Pq.clusterAnchors(embs, newCents)
    Pq.buildIndexPqResidual(embs, newCents, anchors2, cb, pqrDir,
      encodedGen = IndexGen.quantizerGen(spark, exDir))
    val healed = EmbeddingIndexStream.ivfTopKPqResidualLive(spark, pqrDir,
      exDir, newCents, anchors2, cb, probes, k = 3, nprobe = newCents.size,
      poolMult = 40)
      .as[(Long, Long, Double)].collect().toSet
    // rerank restores exact scores; with all clusters probed and a pool
    // that covers the corpus, the healed read equals brute force
    val brute = graft.operators.Similarity.bruteForceTopK(embs,
        probes.map(_._1), 3)
      .as[(Long, Long, Double)].collect().toSet
    assert(healed == brute)
  }

  test("generation fence covers the int8 tier: rerank refuses, append refuses, rebuild heals") {
    import graft.operators.{IndexGen, Similarity => Sim}
    val base = tempDir("graft-genfence-q")
    val exDir = s"$base/exact"; val qDir = s"$base/int8"
    EmbeddingIndexStream.applyBatch(embs, 0L, cents0, exDir,
      quantizedDir = Some(qDir))
    val before = Sim.ivfTopKQuantizedRerank(spark, qDir, exDir, cents0,
      probes, k = 3, nprobe = cents0.size, poolMult = 40).collect()
    assert(before.length == probes.size * 3)
    val newCents = EmbeddingIndexStream.reclusterIndex(spark, exDir, cents0)
    val eRead = intercept[IllegalArgumentException] {
      Sim.ivfTopKQuantizedRerank(spark, qDir, exDir, newCents,
        probes, k = 3, nprobe = newCents.size, poolMult = 40)
    }
    assert(eRead.getMessage.contains("generation"))
    val eAppend = intercept[IllegalArgumentException] {
      EmbeddingIndexStream.applyBatch(embs.limit(5), 1L, newCents, exDir,
        quantizedDir = Some(qDir))
    }
    assert(eAppend.getMessage.contains("generation"))
    // offline rebuild at the new generation heals; exhaustive probes +
    // ample pool give exact-rerank equality with brute force
    Sim.buildIndexQuantized(embs, newCents, qDir,
      encodedGen = IndexGen.quantizerGen(spark, exDir))
    val healed = Sim.ivfTopKQuantizedRerank(spark, qDir, exDir, newCents,
        probes, k = 3, nprobe = newCents.size, poolMult = 120)
      .as[(Long, Long, Double)].collect().toSet
    val brute = Sim.bruteForceTopK(embs, probes.map(_._1), 3)
      .as[(Long, Long, Double)].collect().toSet
    assert(healed == brute)
  }

  test("crash recovery: a marked recluster tmp with no index dir completes the swap") {
    val idx = tmp()
    EmbeddingIndexStream.applyBatch(embs, 0L, cents0, idx)
    val newCents = EmbeddingIndexStream.reclusterIndex(spark, idx, cents0)
    val before = liveIds(idx)
    // simulate the crash window: old dir deleted, finished tmp not renamed
    val fs = graft.functions.FsUtils.fs(spark, idx)
    val base = new org.apache.hadoop.fs.Path(idx)
    val t = new org.apache.hadoop.fs.Path(base.getParent, base.getName + ".tmp")
    graft.functions.FsUtils.renameOrThrow(fs, base, t)
    // the next maintenance call's entry heal redoes the rename and
    // returns the co-located quantizer — no retraining, no data loss
    val recovered = EmbeddingIndexStream.reclusterIndex(spark, idx, cents0)
    assert(recovered == newCents)
    assert(liveIds(idx) == before)
    // and a stale unfinished tmp is discarded, not resurrected
    fs.mkdirs(new org.apache.hadoop.fs.Path(t, "batch=-1"))
    val again = EmbeddingIndexStream.reclusterIndex(spark, idx, cents0)
    assert(liveIds(idx) == before)
    assert(again.map(_._1) == cents0.map(_._1))
  }

  test("crash inside a recluster swap, then a restarted applyBatch, then a " +
       "recluster: no reclustered id is lost") {
    val idx = tmp()
    val even = embs.filter(col("vec_id") % 2 === 0)
    val odd = embs.filter(col("vec_id") % 2 === 1)
    EmbeddingIndexStream.applyBatch(even, 0L, cents0, idx)
    EmbeddingIndexStream.reclusterIndex(spark, idx, cents0)
    val reclustered = liveIds(idx)
    // the crash window: old dir deleted, the finished rewrite not renamed
    val fs = graft.functions.FsUtils.fs(spark, idx)
    graft.functions.FsUtils.renameOrThrow(fs,
      new org.apache.hadoop.fs.Path(idx), new org.apache.hadoop.fs.Path(s"$idx.tmp"))
    // restart: load the serving quantizer, deliver the next batch, recluster
    val cents = EmbeddingIndexStream.indexQuantizer(spark, idx, cents0)
    EmbeddingIndexStream.applyBatch(odd, 1L, cents, idx)
    EmbeddingIndexStream.reclusterIndex(spark, idx, cents0)
    val after = liveIds(idx)
    assert(reclustered.subsetOf(after),
      s"${(reclustered -- after).size} reclustered ids lost")
    assert(after.size == embs.count())
  }
}
