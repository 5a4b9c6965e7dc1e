package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ImageAnn

/** Image-feature ANN coverage: the exact-integer IVF (decode → cell-sum
  * features → seed-centroid assignment → probed squared-L2 top-k) against a
  * driver-side brute-force replica, the probe-restriction contract, and the
  * partition-pruned candidate read. Decode fidelity itself is pinned by
  * MultimodalSpec (cellSums vs synthesis arithmetic); this spec pins the
  * RETRIEVAL composition.
  */
class ImageAnnSpec extends AnyFunSuite with SparkSuite {

  private def tmp(): String = tempDir("imgann")

  private lazy val docs = Tables.documentsById(spark, Sf0001)
  private lazy val cents = ImageAnn.centroidsOf(docs)
  private lazy val feats: Seq[(Long, Seq[Long])] = {
    val f = ImageAnn.featuresOf(docs)
    f.select("doc_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
  }
  private lazy val idx: String = {
    val p = tmp()
    ImageAnn.buildIndex(ImageAnn.featuresOf(docs), cents, p)
    p
  }

  private def l2(a: Seq[Long], b: Seq[Long]): Long =
    a.lazyZip(b).map((x, y) => (x - y) * (x - y)).sum

  private def queries = feats.filter(f => ImageAnn.QueryIds.contains(f._1))
    .sortBy(_._1)

  test("IVF top-k equals brute force RESTRICTED to the probed clusters " +
       "(exact contract, integer distances)") {
    val out = ImageAnn.topK(spark, idx, cents, queries, k = 3, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val assignOf = feats.map { case (id, v) =>
      id -> cents.map { case (cid, cv) => (l2(v, cv), cid) }.min._2
    }.toMap
    val expected = queries.flatMap { case (qid, qv) =>
      val probed = ImageAnn.nearestClusters(qv, cents, 3).toSet
      feats.filter { case (id, _) => probed.contains(assignOf(id)) }
        .map { case (id, v) => (l2(qv, v), id) }
        .sorted.take(3)
        .map { case (d, id) => (qid, id, d) }
    }
    assert(out == expected && out.size == 15)
  }

  test("probing every cluster recovers exact brute-force top-k") {
    val out = ImageAnn.topK(spark, idx, cents, queries, k = 3,
        nprobe = cents.size)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val expected = queries.flatMap { case (qid, qv) =>
      feats.map { case (id, v) => (l2(qv, v), id) }
        .sorted.take(3)
        .map { case (d, id) => (qid, id, d) }
    }
    assert(out == expected)
  }

  test("self-retrieval: a corpus query's own image comes back at distance 0") {
    val out = ImageAnn.topK(spark, idx, cents, queries, k = 1,
        nprobe = cents.size)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out.foreach { case (qid, id, d) => assert(id == qid && d == 0L) }
  }

  test("candidate read partition-prunes to the probed clusters") {
    val plan = ImageAnn.topK(spark, idx, cents, queries, k = 3, nprobe = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"expected cluster partition filters in:\n$plan")
  }

  // --- lifecycle (round 20): delete / in-place update / reseed --------------

  import org.apache.spark.sql.functions.{col, lit}
  import graft.streaming.EmbeddingIndexStream
  import graft.operators.TextAnalysis.{LexLiveRemoveMod => RM,
    LexLiveRemoveRes => RR, LexLiveEditMod => EM}

  private lazy val saltedFeats: Map[Long, Seq[Long]] =
    ImageAnn.saltedFeaturesOf(docs).select("doc_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toMap

  /** The live generation per doc — the SHARED churn constants (removed /
    * replaced), not re-derived literals: retuning the fixture must move
    * this spec with it. */
  private lazy val liveFeats: Seq[(Long, Seq[Long])] =
    feats.filter(_._1 % RM != RR).map { case (id, v) =>
      (id, if (id % EM == 0) saltedFeats(id) else v)
    }

  private def buildLive(): String = {
    val p = tmp()
    val updated = docs.filter(col("doc_id") % EM === 0 &&
      col("doc_id") % RM =!= RR)
    ImageAnn.applyStreamBatch(ImageAnn.featuresOf(docs), 0L, cents, p)
    ImageAnn.applyStreamBatch(ImageAnn.saltedFeaturesOf(updated), 1L, cents, p)
    EmbeddingIndexStream.tombstoneRows(spark,
      docs.filter(col("doc_id") % RM === RR)
        .select(col("doc_id").as("vec_id"), lit(1L).as("ceiling"))
        .unionByName(updated.select(col("doc_id").as("vec_id"),
          lit(0L).as("ceiling"))),
      1L, p)
    p
  }

  private def bruteLive(qs: Seq[(Long, Seq[Long])],
                        cs: Seq[(Int, Seq[Long])],
                        nprobe: Int): Seq[(Long, Long, Long)] = {
    val assignOf = liveFeats.map { case (id, v) =>
      id -> cs.map { case (cid, cv) => (l2(v, cv), cid) }.min._2
    }.toMap
    qs.flatMap { case (qid, qv) =>
      val probed = ImageAnn.nearestClusters(qv, cs, nprobe).toSet
      liveFeats.filter { case (id, _) => probed.contains(assignOf(id)) }
        .map { case (id, v) => (l2(qv, v), id) }
        .sorted.take(3)
        .map { case (d, id) => (qid, id, d) }
    }
  }

  /** v2 query vectors: an updated doc queries with its REPLACED image. */
  private def liveQueries: Seq[(Long, Seq[Long])] =
    queries.map { case (id, v) =>
      (id, if (id % EM == 0) saltedFeats(id) else v)
    }

  test("live top-k equals brute force over the LIVE generations restricted " +
       "to the probed clusters — uncompacted and after the purge") {
    val p = buildLive()
    val expected = bruteLive(liveQueries, cents, 3)
    def out() = ImageAnn.topKLive(spark, p, cents, liveQueries,
        k = 3, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out() == expected, "tombstones resolved at read (uncompacted)")
    EmbeddingIndexStream.compactIndex(spark, p)
    assert(out() == expected, "identical after the physical purge")
    // the purge was real: one row per live id remains
    assert(spark.read.parquet(p).count() == liveFeats.size.toLong)
  }

  test("an updated image's OLD generation is unreachable: its v1 vector " +
       "finds no distance-0 row") {
    val p = buildLive()
    val updatedId = feats.map(_._1).filter(id => id % EM == 0 && id % RM != RR)
      .min
    val v1 = feats.find(_._1 == updatedId).get._2
    val out = ImageAnn.topKLive(spark, p, cents, Seq((updatedId, v1)),
        k = 3, nprobe = cents.size)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out.nonEmpty && !out.exists(_._3 == 0L),
      s"v1 self-hit must be gone, got $out")
  }

  test("as-of reads: batch-0 cut serves the ORIGINAL corpus (brute-force " +
       "v1 replica) while the live read serves v2; a later tombstone is " +
       "invisible at the earlier cut") {
    val p = buildLive() // uncompacted — per-batch history intact
    // as-of 0: every doc present at its v1 vector, quantizer frozen
    val asof = ImageAnn.topKAsOf(spark, p, cents, queries,
        k = 3, nprobe = 3, asOfBatch = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val assignOf = feats.map { case (id, v) =>
      id -> cents.map { case (cid, cv) => (l2(v, cv), cid) }.min._2
    }.toMap
    val expectedV1 = queries.flatMap { case (qid, qv) =>
      val probed = ImageAnn.nearestClusters(qv, cents, 3).toSet
      feats.filter { case (id, _) => probed.contains(assignOf(id)) }
        .map { case (id, v) => (l2(qv, v), id) }
        .sorted.take(3)
        .map { case (d, id) => (qid, id, d) }
    }
    assert(asof == expectedV1, "the churn is invisible at batch 0")
    // as-of 1 ≡ live: the churn batch is inside the horizon
    val asof1 = ImageAnn.topKAsOf(spark, p, cents, liveQueries,
        k = 3, nprobe = 3, asOfBatch = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(asof1 == bruteLive(liveQueries, cents, 3))
  }

  test("post-compaction as-of at array<long>: the ingest side stays exact " +
       "via src_batch, purged deletion history coarsens — the " +
       "IndexAsOfSpec contract, pinned on the image tier (review r20 s2)") {
    val p = buildLive()
    EmbeddingIndexStream.compactIndex(spark, p)
    // as-of 1 ≡ live: everything this side of the fold is exact
    val asof1 = ImageAnn.topKAsOf(spark, p, cents, liveQueries,
        k = 3, nprobe = 3, asOfBatch = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(asof1 == bruteLive(liveQueries, cents, 3))
    // as-of 0: src_batch keeps the INGEST cut exact (no batch-1 salted
    // generation can appear), but compaction physically purged the rows
    // the ceilings hid — removed docs AND the updated docs' v1
    // generations are unrecoverable even at the earlier cut
    val survivors = feats.filter(f => f._1 % RM != RR && f._1 % EM != 0)
    val assignOf = survivors.map { case (id, v) =>
      id -> cents.map { case (cid, cv) => (l2(v, cv), cid) }.min._2
    }.toMap
    val expected0 = queries.flatMap { case (qid, qv) =>
      val probed = ImageAnn.nearestClusters(qv, cents, 3).toSet
      survivors.filter { case (id, _) => probed.contains(assignOf(id)) }
        .map { case (id, v) => (l2(qv, v), id) }
        .sorted.take(3)
        .map { case (d, id) => (qid, id, d) }
    }
    val asof0 = ImageAnn.topKAsOf(spark, p, cents, queries,
        k = 3, nprobe = 3, asOfBatch = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(asof0 == expected0,
      "ingest-exact, deletion-coarsened — the documented caveat, now pinned")
  }

  test("syncImageCorpus: the snapshot diff lands on the hand-built churn " +
       "state (same serve), replaying the sync batch converges") {
    val manual = buildLive()
    val synced = tmp()
    val oldF = ImageAnn.featuresOf(docs)
    val live = docs.filter(col("doc_id") % RM =!= RR)
    val kept = live.filter(col("doc_id") % EM =!= 0)
    val updated = live.filter(col("doc_id") % EM === 0)
    val newF = ImageAnn.featuresOf(kept)
      .unionByName(ImageAnn.saltedFeaturesOf(updated))
    ImageAnn.applyStreamBatch(oldF, 0L, cents, synced)
    ImageAnn.syncImageCorpus(spark, synced, cents, oldF, newF, 1L)
    def serve(p: String) = ImageAnn.topKLive(spark, p, cents, liveQueries,
        k = 3, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val expected = serve(manual)
    assert(serve(synced) == expected, "sync diff ≡ hand-built churn")
    // replay: the diff re-derives identically, commits overwrite in place
    ImageAnn.syncImageCorpus(spark, synced, cents, oldF, newF, 1L)
    assert(serve(synced) == expected, "replayed sync converges")
    EmbeddingIndexStream.compactIndex(spark, synced)
    assert(serve(synced) == expected, "identical after the purge")
  }

  test("reseed grows K atomically: live serve under the new quantizer " +
       "equals brute force, deletes stay deleted, quantizer co-located") {
    val p = buildLive()
    EmbeddingIndexStream.compactIndex(spark, p)
    // new quantizer: 16 seed vectors drawn from the LIVE set (K doubled —
    // the K ∝ N growth move), cid = ascending seed rank
    val newCents = liveFeats.sortBy(_._1).take(16).zipWithIndex
      .map { case ((_, v), i) => (i, v) }
    ImageAnn.reseedIndex(spark, p, newCents)
    val loaded = ImageAnn.indexQuantizer(spark, p, sys.error("must load"))
    assert(loaded == newCents, "co-located quantizer round-trips")
    val out = ImageAnn.topKLive(spark, p, loaded, liveQueries,
        k = 3, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == bruteLive(liveQueries, newCents, 3))
    val deletedIds = feats.map(_._1).filter(_ % RM == RR).toSet
    assert(!out.exists(r => deletedIds.contains(r._2)))
  }

  test("a reseed that crashed inside its swap heals on the next live read") {
    val p = buildLive()
    val newCents = liveFeats.sortBy(_._1).take(16).zipWithIndex
      .map { case ((_, v), i) => (i, v) }
    ImageAnn.reseedIndex(spark, p, newCents)
    // the crash window: old dir deleted, the finished rewrite not renamed
    val fs = graft.functions.FsUtils.fs(spark, p)
    graft.functions.FsUtils.renameOrThrow(fs,
      new org.apache.hadoop.fs.Path(p), new org.apache.hadoop.fs.Path(s"$p.tmp"))
    val out = ImageAnn.topKLive(spark, p, newCents, liveQueries, k = 3, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == bruteLive(liveQueries, newCents, 3))
    assert(ImageAnn.indexQuantizer(spark, p, sys.error("must load")) == newCents)
  }
}
