package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.streaming.EmbeddingIndexStream

/** Deletes — the index lifecycle's last verb: tombstone batches hide ids
  * from every live read immediately; compaction purges them physically
  * while KEEPING the tombstones armed (a replayable batch could still
  * resurrect an id); clearTombstones retires them in the maintenance
  * window. Ends with the pipeline story: corpus-evolution `removed` docs
  * drive index forgetting.
  */
class IndexDeleteSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def embs = Tables.embeddings(spark, Sf0001)
  private lazy val cents = Similarity.centroidSeq(embs)
  private def tmp(): String = tempDir("graft-del")

  private def streamIn(idx: String, nBatches: Int = 3): Unit =
    (0 until nBatches).foreach { b =>
      EmbeddingIndexStream.applyBatch(
        embs.filter(col("vec_id") % nBatches === b), b.toLong, cents, idx)
    }

  private lazy val probes = embs.filter(col("vec_id") < 3)
    .select(col("vec_id"), col("embedding").cast("array<double>"))
    .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq

  test("tombstoned ids vanish from live reads at once; raw rows remain until compaction") {
    val idx = tmp()
    streamIn(idx)
    val dead = Seq(7L, 11L, 42L)
    EmbeddingIndexStream.tombstone(spark, dead.toDF("vec_id"), 3L, idx)
    val live = EmbeddingIndexStream.liveIndex(spark, idx)
      .select("vec_id").as[Long].collect().toSet
    assert(dead.forall(!live.contains(_)), "tombstoned id still live")
    assert(live.size == embs.count() - dead.size)
    // physically still present (deletes are logical until compaction)
    val raw = EmbeddingIndexStream.readIndex(spark, idx)
      .select("vec_id").as[Long].collect().toSet
    assert(dead.forall(raw.contains), "tombstone rewrote index files early")
    // idempotent replay of the tombstone batch
    EmbeddingIndexStream.tombstone(spark, dead.toDF("vec_id"), 3L, idx)
    assert(EmbeddingIndexStream.liveIndex(spark, idx).count() == live.size)
  }

  test("live IVF query: k fills from live vectors only (anti-join below the top-k)") {
    val idx = tmp()
    streamIn(idx)
    val before = EmbeddingIndexStream.ivfTopKIndexedLive(spark, idx, cents,
        probes, k = 5, nprobe = 10)
      .as[(Long, Long, Double)].collect()
    // kill each probe's current #1 — the naive filter-after-topk would
    // return k-1 rows; the composed query must refill to k
    val best = before.groupBy(_._1).values
      .map(_.maxBy(r => (r._3, -r._2))._2).toSeq.distinct
    EmbeddingIndexStream.tombstone(spark, best.toDF("vec_id"), 3L, idx)
    val after = EmbeddingIndexStream.ivfTopKIndexedLive(spark, idx, cents,
        probes, k = 5, nprobe = 10)
      .as[(Long, Long, Double)].collect()
    assert(after.length == probes.size * 5, "k under-filled after deletes")
    assert(after.forall { case (_, c, _) => !best.contains(c) },
      "a deleted id surfaced in query results")
    // and it equals querying the live view through the generic path
    val viaAssigned = Similarity.ivfTopKAssigned(
        EmbeddingIndexStream.liveIndex(spark, idx), cents,
        probes.map(_._1), k = 5, nprobe = 10)
      .as[(Long, Long, Double)].collect().toSet
    assert(after.toSet == viaAssigned)
  }

  test("compaction purges physically, keeps tombstones armed; clearTombstones retires them") {
    val idx = tmp()
    streamIn(idx)
    val dead = Seq(3L, 5L)
    EmbeddingIndexStream.tombstone(spark, dead.toDF("vec_id"), 3L, idx)
    EmbeddingIndexStream.compactIndex(spark, idx)
    val raw = EmbeddingIndexStream.readIndex(spark, idx)
      .select("vec_id").as[Long].collect().toSet
    assert(dead.forall(!raw.contains(_)), "compaction did not purge tombstoned rows")
    // tombstones still present (armed): a replayed batch re-adding a dead
    // id stays invisible to live reads...
    EmbeddingIndexStream.applyBatch(
      embs.filter(col("vec_id") % 3 === 0), 0L, cents, idx) // replay of batch 0
    val liveAfterReplay = EmbeddingIndexStream.liveIndex(spark, idx)
      .select("vec_id").as[Long].collect().toSet
    assert(dead.forall(id => id % 3 != 0 || !liveAfterReplay.contains(id)),
      "replayed batch resurrected a tombstoned id in the live view")
    // ...and a second compaction re-purges it; with no replayable batches
    // left, the maintenance window retires the tombstones
    EmbeddingIndexStream.compactIndex(spark, idx)
    EmbeddingIndexStream.clearTombstones(spark, idx)
    val rawFinal = EmbeddingIndexStream.readIndex(spark, idx)
      .select("vec_id").as[Long].collect().toSet
    val liveFinal = EmbeddingIndexStream.liveIndex(spark, idx)
      .select("vec_id").as[Long].collect().toSet
    assert(rawFinal == liveFinal, "raw and live views differ after retirement")
    assert(dead.forall(!rawFinal.contains(_)))
  }

  test("quantized tier: tombstones propagate to the residual-PQ dir (refill, purge, armed replay)") {
    import graft.operators.Pq
    val base = tempDir("graft-del-pqr")
    val exDir = s"$base/exact"; val pqrDir = s"$base/pqr"
    val (anchors, rcb) = Pq.trainedResidualModel(embs, cents, "del-spec-res")
    (0 until 3).foreach { b =>
      EmbeddingIndexStream.applyBatch(embs.filter(col("vec_id") % 3 === b),
        b.toLong, cents, exDir, pqrLoaded = Some((pqrDir, anchors, rcb)))
    }
    def liveQ() = EmbeddingIndexStream.ivfTopKPqResidualLive(spark, pqrDir,
        exDir, cents, anchors, rcb, probes, k = 5, nprobe = 10, poolMult = 40)
      .as[(Long, Long, Double)].collect()
    // kill each probe's current #1 through BOTH tier dirs; the naive
    // filter-after-topk would under-fill — the composed query must refill
    val best = liveQ().groupBy(_._1).values
      .map(_.maxBy(r => (r._3, -r._2))._2).toSeq.distinct
    EmbeddingIndexStream.tombstoneTiers(spark, best.toDF("vec_id"), 3L,
      Seq(exDir, pqrDir))
    val after = liveQ()
    assert(after.length == probes.size * 5, "k under-filled after deletes")
    assert(after.forall { case (_, c, _) => !best.contains(c) },
      "a deleted id surfaced through the residual-PQ tier")
    // containment pin for the scoped pool: pqr-live ≡ exact-live top-k
    val exactLive = EmbeddingIndexStream.ivfTopKIndexedLive(spark, exDir,
        cents, probes, k = 5, nprobe = 10)
      .as[(Long, Long, Double)].collect().toSet
    assert(after.toSet == exactLive,
      "scoped residual pool missed the exact live top-k")
    // compaction purges CODE rows physically, keeps tombstones armed
    EmbeddingIndexStream.compactIndex(spark, pqrDir)
    val rawCodes = spark.read.parquet(pqrDir).select("vec_id").as[Long]
      .collect().toSet
    assert(best.forall(!rawCodes.contains(_)),
      "compaction did not purge tombstoned code rows")
    // armed replay on the CODE dir: re-applying batch 0 may rewrite deleted
    // codes; the live query must still exclude them
    EmbeddingIndexStream.applyBatch(embs.filter(col("vec_id") % 3 === 0), 0L,
      cents, exDir, pqrLoaded = Some((pqrDir, anchors, rcb)))
    assert(liveQ().forall { case (_, c, _) => !best.contains(c) },
      "replay resurrected a deleted id through the residual-PQ tier")
  }

  test("in-place update: new generation serves, replay of the old ingest stays hidden") {
    val idx = tmp()
    streamIn(idx) // batches 0..2, each id once
    val updIds = embs.filter(col("vec_id") % 13 === 0)
      .select("vec_id").as[Long].collect().toSet
    assert(updIds.nonEmpty)
    // update at maintenance batch 3: append the REVERSED vectors and hide
    // every generation before the append (ceiling = 2)
    val newVecs = embs.filter(col("vec_id") % 13 === 0)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    EmbeddingIndexStream.applyBatch(newVecs, 3L, cents, idx)
    EmbeddingIndexStream.tombstone(spark,
      newVecs.select("vec_id"), 3L, idx, ceiling = Some(2L))
    def liveVecs(): Map[Long, Seq[Double]] =
      EmbeddingIndexStream.liveIndex(spark, idx)
        .select(col("vec_id"), col("v"))
        .as[(Long, Seq[Double])].collect().toMap
    val expected = embs
      .select(col("vec_id"),
        when(col("vec_id") % 13 === 0, reverse(col("embedding")))
          .otherwise(col("embedding")).cast("array<double>").as("v"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(liveVecs() == expected, "live view does not serve the updated vectors")
    // REPLAY of an old ingest batch rewrites superseded generations; the
    // ceiling still hides them (replay safety after update — the contract
    // that makes update = tombstone + same-batch append sound)
    EmbeddingIndexStream.applyBatch(
      embs.filter(col("vec_id") % 3 === 0), 0L, cents, idx)
    assert(liveVecs() == expected, "replay resurrected a superseded generation")
    // compaction folds the LIVE generation through (ceiling purge keeps
    // rows ingested after their ceiling) and the update survives
    EmbeddingIndexStream.compactIndex(spark, idx)
    assert(liveVecs() == expected, "compaction lost or resurrected a generation")
    // a pre-update as-of read still serves the ORIGINAL vectors — but
    // post-compaction the superseded generations are physically purged,
    // so assert on a FRESH index instead: as-of 2 over the un-compacted
    // update sees v1 exactly
    val idx2 = tmp()
    streamIn(idx2)
    EmbeddingIndexStream.applyBatch(newVecs, 3L, cents, idx2)
    EmbeddingIndexStream.tombstone(spark,
      newVecs.select("vec_id"), 3L, idx2, ceiling = Some(2L))
    val asof = EmbeddingIndexStream.indexAsOf(spark, idx2, 2L)
      .select(col("vec_id"), col("v"))
      .as[(Long, Seq[Double])].collect().toMap
    val v1 = embs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(asof == v1, "pre-update as-of view does not serve the original vectors")
  }

  test("in-place update through the residual tier: pool AND exact rerank serve the new generation") {
    import graft.operators.Pq
    val base = tempDir("graft-upd-pqr")
    val exDir = s"$base/exact"; val pqrDir = s"$base/pqr"
    val (anchors, rcb) = Pq.trainedResidualModel(embs, cents, "upd-spec-res")
    EmbeddingIndexStream.applyBatch(embs, 0L, cents, exDir,
      pqrLoaded = Some((pqrDir, anchors, rcb)))
    // update ids %13==0: new (reversed) vectors appended at batch 1 through
    // BOTH tiers + ceiling-0 tombstones across BOTH tier dirs
    val newVecs = embs.filter(col("vec_id") % 13 === 0)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    EmbeddingIndexStream.applyBatch(newVecs, 1L, cents, exDir,
      pqrLoaded = Some((pqrDir, anchors, rcb)))
    EmbeddingIndexStream.tombstoneTiers(spark, newVecs.select("vec_id"), 1L,
      Seq(exDir, pqrDir), ceiling = Some(0L))
    // exhaustive probes + corpus-sized pool: the two-stage live read must
    // equal brute force over the UPDATED corpus — the rerank stage scoring
    // an updated id against its SUPERSEDED exact row would break this
    // (the round-18 review finding the scopeExact resolution closes)
    val got = EmbeddingIndexStream.ivfTopKPqResidualLive(spark, pqrDir,
        exDir, cents, anchors, rcb, probes, k = 5, nprobe = cents.size,
        poolMult = 120)
      .as[(Long, Long, Double)].collect().toSet
    val v2 = embs.select(col("vec_id"),
      when(col("vec_id") % 13 === 0, reverse(col("embedding")))
        .otherwise(col("embedding")).as("embedding"))
    val brute = graft.operators.Similarity.bruteForceTopK(v2, probes.map(_._1), 5)
      .as[(Long, Long, Double)].collect().toSet
    // probes carry their v1 vectors (the gate contract) while brute force
    // reads probe vectors from v2 — restrict to probes whose own vector is
    // unchanged so both sides query identically
    val unchanged = probes.map(_._1).filter(_ % 13 != 0).toSet
    assert(got.filter(r => unchanged(r._1)) == brute.filter(r => unchanged(r._1)),
      "two-stage live read diverges from brute force over the updated corpus")
    assert(unchanged.nonEmpty)
  }

  test("pipeline story: corpus-evolution removed docs drive index forgetting") {
    val idx = tmp()
    streamIn(idx)
    // v2 of the corpus drops every 7th document; the removed set is the
    // per-doc anti-join (Evolution.snapshotDiff reports the same split as
    // per-source counts — the monitoring view of this same comparison)
    val docs = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("text"), col("source"))
    val v2 = docs.filter(col("doc_id") % 7 =!= 0)
    val removed = docs.join(v2, Seq("doc_id"), "left_anti").select(col("doc_id"))
    EmbeddingIndexStream.tombstone(spark, removed, 3L, idx)
    val live = EmbeddingIndexStream.liveIndex(spark, idx)
      .select("vec_id").as[Long].collect().toSet
    assert(live.forall(_ % 7 != 0), "a removed doc's vector is still queryable")
    assert(live.nonEmpty)
  }
}
