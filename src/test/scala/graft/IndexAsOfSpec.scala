package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.streaming.EmbeddingIndexStream

/** As-of (point-in-time) index reads: the `batch=` partition column is
  * ingest provenance and tombstone batches are delete provenance, so
  * "the index as it stood at batch B" is a partition-filtered read —
  * ingests after B invisible, deletes after B NOT applied. The ingest
  * bound stays exact after compaction (per-row src_batch survives the
  * fold); deletion history coarsens once compaction physically purges
  * hidden generations.
  */
class IndexAsOfSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def embs = Tables.embeddings(spark, Sf0001)
  private lazy val cents = Similarity.centroidSeq(embs)
  private def tmp(): String = tempDir("graft-asof")

  private lazy val allIds = embs.select("vec_id").as[Long].collect().toSet

  /** Two ingest batches (even, odd) + one tombstone per batch. */
  private def build(idx: String): Unit = {
    EmbeddingIndexStream.applyBatch(embs.filter($"vec_id" % 2 === 0), 0L, cents, idx)
    EmbeddingIndexStream.applyBatch(embs.filter($"vec_id" % 2 === 1), 1L, cents, idx)
    EmbeddingIndexStream.tombstone(spark,
      embs.filter($"vec_id" % 10 === 2).select("vec_id"), 0L, idx)
    EmbeddingIndexStream.tombstone(spark,
      embs.filter($"vec_id" % 10 === 4).select("vec_id"), 1L, idx)
  }

  private def members(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("vec_id").as[Long].collect().toSet

  test("as-of hides later ingests and later deletes; as-of max equals live") {
    val idx = tmp()
    build(idx)
    val asOf0 = members(EmbeddingIndexStream.indexAsOf(spark, idx, 0L))
    assert(asOf0 == allIds.filter(id => id % 2 == 0 && id % 10 != 2),
      "as-of 0 must be batch-0 ingests minus the batch-0 delete")
    assert(asOf0.exists(_ % 10 == 4),
      "the batch-1 delete must NOT apply as of batch 0")
    val asOf1 = members(EmbeddingIndexStream.indexAsOf(spark, idx, 1L))
    assert(asOf1 == allIds.filter(id => id % 10 != 2 && id % 10 != 4))
    assert(asOf1 == members(EmbeddingIndexStream.liveIndex(spark, idx)),
      "as-of at the max batch must equal the live view")
  }

  test("as-of query: k fills from the point-in-time pool, batch bound partition-pruned") {
    val idx = tmp()
    build(idx)
    val probes = embs.filter($"vec_id" < 3)
      .select($"vec_id", $"embedding".cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val out = EmbeddingIndexStream.ivfTopKIndexedAsOf(
      spark, idx, cents, probes, k = 5, nprobe = 4, asOfBatch = 0L)
    val rows = out.as[(Long, Long, Double)].collect()
    assert(rows.groupBy(_._1).forall(_._2.length == 5), "k must fill")
    assert(rows.forall { case (_, c, _) => c % 2 == 0 && c % 10 != 2 },
      "every result must be visible as of batch 0")
    // the batch bound must reach the scan as a partition filter
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("batch"),
      "batch bound must partition-prune the candidate read")
  }

  test("syncWithCorpus: the live view serves exactly the new snapshot, idempotently") {
    val idx = tmp()
    val v1 = embs.select($"vec_id", $"embedding")
    val v2 = embs.filter($"vec_id" % 7 =!= 0).select($"vec_id", $"embedding")
      .unionByName(embs.filter($"vec_id" % 11 === 0)
        .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding"))
    EmbeddingIndexStream.applyBatch(v1, 0L, cents, idx)
    EmbeddingIndexStream.syncWithCorpus(spark, idx, cents, v1, v2, 1L)
    val expected = allIds.filter(_ % 7 != 0) ++
      allIds.filter(_ % 11 == 0).map(_ + 1000000L)
    assert(members(EmbeddingIndexStream.liveIndex(spark, idx)) == expected)
    // replaying the same sync batch converges (overwrite semantics)
    EmbeddingIndexStream.syncWithCorpus(spark, idx, cents, v1, v2, 1L)
    assert(members(EmbeddingIndexStream.liveIndex(spark, idx)) == expected)
    // a removed probe still queries, and its re-keyed clone scores 1.0
    val probe0 = embs.filter($"vec_id" === 0L)
      .select($"vec_id", $"embedding".cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val res = EmbeddingIndexStream.ivfTopKIndexedLive(
        spark, idx, cents, probe0, k = 3, nprobe = 4)
      .as[(Long, Long, Double)].collect()
    assert(res.length == 3)
    assert(res.exists { case (_, c, s) => c == 1000000L && s == 1.0 },
      "the re-keyed clone of the deleted probe must surface at sim 1.0")
  }

  test("post-compaction as-of: ingest side exact via src_batch; purged deletions coarsen") {
    val idx = tmp()
    build(idx)
    EmbeddingIndexStream.compactIndex(spark, idx)
    // round 18: the per-row src_batch column survives the fold, so the
    // INGEST bound stays exact after compaction — as-of 0 still excludes
    // the batch-1 ingests. What coarsens is deletion history: compaction
    // physically purged the rows BOTH tombstones hid, so the batch-1
    // delete's rows (%10==4) are unrecoverable even as of batch 0.
    val asOf0 = allIds.filter(id => id % 2 == 0 && id % 10 != 2 && id % 10 != 4)
    val folded = allIds.filter(id => id % 10 != 2 && id % 10 != 4)
    assert(members(EmbeddingIndexStream.indexAsOf(spark, idx, 0L)) == asOf0)
    assert(members(EmbeddingIndexStream.indexAsOf(spark, idx, 1L)) == folded)
    assert(members(EmbeddingIndexStream.liveIndex(spark, idx)) == folded)
  }
}
