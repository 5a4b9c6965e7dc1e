package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Components
import graft.streaming.ComponentsStream

/** Incremental connected components: labels after folding any batch split
  * of a pair set must EQUAL the batch [[Components.componentLabels]] over
  * the union — components are order-insensitive, so the contract is exact
  * equality with no arrival-order caveat — and every crash/replay boundary
  * and compaction must preserve it. */
class ComponentsStreamSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  // chain 1-2-3-4, clique {10,11,12}, two mergeable components {20,21} and
  // {22,23} bridged late, plus an isolated pair (30,31)
  private val allPairs = Seq(
    (2L, 1L), (3L, 2L), (4L, 3L),
    (10L, 11L), (11L, 12L), (10L, 12L),
    (20L, 21L), (22L, 23L), (21L, 22L),
    (30L, 31L))
  private val allNodes = (allPairs.flatMap(p => Seq(p._1, p._2)) :+ 40L).distinct

  private def nodesDf = allNodes.toDF("doc_id")

  private def batchTwin(): Map[Long, Long] =
    Components.componentLabels(nodesDf, "doc_id",
      allPairs.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  private def streamed(stateDir: String): Map[Long, Long] =
    ComponentsStream.currentLabels(spark, stateDir, nodesDf, "doc_id")
      .as[(Long, Long)].collect().toMap

  private def tmpDir(tag: String) =
    tempDir(s"graft-ccs-$tag")

  // the jobs of one warm fold as measured, plus one of slack: a fold that
  // grows by more than one job (an eager checkpoint, count or schema
  // inference reintroduced per batch) fails the budget spec
  private val ComponentsBudget = 6

  private def apply(pairs: Seq[(Long, Long)], id: Long, dir: String): Long =
    ComponentsStream.applyBatch(spark, pairs.toDF("a", "b"), "a", "b", id, dir)

  test("any batch split and arrival order equals the batch recompute") {
    val expected = batchTwin()
    val splits: Seq[Seq[Seq[(Long, Long)]]] = Seq(
      // in-order thirds: transitive chain links arrive across batches
      allPairs.grouped(4).toSeq,
      // scrambled: the bridge (21,22) arrives BEFORE its components exist,
      // and direction flips ride along
      Seq(Seq((21L, 22L), (1L, 2L)),
        Seq((12L, 10L), (3L, 4L), (23L, 22L), (31L, 30L)),
        Seq((2L, 3L), (11L, 10L), (12L, 11L), (20L, 21L))),
      // one pair per batch, reverse order
      allPairs.reverse.map(Seq(_)))
    for ((batches, si) <- splits.zipWithIndex) {
      val dir = tmpDir(s"split$si")
      batches.zipWithIndex.foreach { case (b, i) => apply(b, i.toLong, dir) }
      assert(streamed(dir) == expected, s"split $si diverged")
    }
  }

  test("late bridge merges two multi-node components and relabels the loser") {
    val dir = tmpDir("merge")
    apply(Seq((20L, 21L)), 0L, dir)
    apply(Seq((22L, 23L)), 1L, dir)
    val before = ComponentsStream.currentLabels(spark, dir,
      Seq(20L, 21L, 22L, 23L).toDF("doc_id"), "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(before == Map(20L -> 20L, 21L -> 20L, 22L -> 22L, 23L -> 22L))
    // the bridge touches neither 23 nor 20's members directly — 23's label
    // must still move to 20 (root relabel, not a member rewrite)
    val merges = apply(Seq((21L, 22L)), 2L, dir)
    assert(merges == 1L)
    val after = ComponentsStream.currentLabels(spark, dir,
      Seq(20L, 21L, 22L, 23L).toDF("doc_id"), "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(after == Map(20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
  }

  test("replay of an applied batch is a no-op at every crash boundary") {
    val expected = batchTwin()
    val dir = tmpDir("replay")
    val batches = allPairs.grouped(3).toSeq
    batches.zipWithIndex.foreach { case (b, i) => apply(b, i.toLong, dir) }
    assert(streamed(dir) == expected)
    // full replay: batch dir exists → skip
    apply(batches(1), 1L, dir)
    assert(streamed(dir) == expected)
    // crash-window replay: relabels committed but the star append lost —
    // simulate by deleting one batch's star dir; the rerun must heal:
    // pre-existing endpoints resolve to their merged roots, fresh-node
    // merges are re-derived deterministically (and re-counted), star rows
    // are rewritten identically, and the relabel map must not change (the
    // re-derived losers are fresh, so they are filtered exactly as the
    // first fold filtered them)
    val fs = graft.functions.FsUtils.fs(spark, dir)
    def relabelRows(): Set[(Long, Long)] =
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/relabels")))
        spark.read.parquet(s"$dir/relabels").as[(Long, Long)].collect().toSet
      else Set.empty
    val relBefore = relabelRows()
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/stars/batch=1"), true)
    spark.catalog.refreshByPath(s"$dir/stars")
    apply(batches(1), 1L, dir)
    assert(streamed(dir) == expected)
    assert(relabelRows() == relBefore, "healed replay must not grow the relabel map")
  }

  test("compaction folds state to fixpoint without moving labels") {
    val expected = batchTwin()
    val dir = tmpDir("compact")
    allPairs.grouped(2).toSeq.zipWithIndex.foreach { case (b, i) =>
      apply(b, i.toLong, dir)
    }
    assert(streamed(dir) == expected)
    ComponentsStream.compactState(spark, dir)
    assert(streamed(dir) == expected)
    val fs = graft.functions.FsUtils.fs(spark, dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/relabels")),
      "compaction must clear the relabel map")
    // post-compaction folds still work: new pairs join a compacted component
    apply(Seq((4L, 40L)), 99L, dir)
    val after = streamed(dir)
    assert(after == expected.updated(40L, 1L))
  }

  test("fresh-only batches persist no relabel entries; pre-existing-root losses do") {
    val dir = tmpDir("fresh")
    val fs = graft.functions.FsUtils.fs(spark, dir)
    def relabelsExist = fs.exists(new org.apache.hadoop.fs.Path(s"$dir/relabels"))
    // two fresh chains with in-batch merges (3 losing roots each batch) —
    // every loser is fresh, so the relabel map must never be written
    apply(Seq((2L, 1L), (3L, 2L), (4L, 3L)), 0L, dir)
    assert(!relabelsExist, "fresh in-batch losers must not create relabel entries")
    apply(Seq((21L, 20L), (22L, 21L)), 1L, dir)
    assert(!relabelsExist)
    // bridging the two PRE-EXISTING components: exactly the losing root
    // (20, the higher min) gets an entry
    apply(Seq((20L, 4L)), 2L, dir)
    assert(relabelsExist)
    assert(spark.read.parquet(s"$dir/relabels").as[(Long, Long)].collect().toSet
      == Set((20L, 1L)))
    val labels = ComponentsStream.currentLabels(spark, dir,
      (1L to 4L).union(20L to 22L).toDF("doc_id"), "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      20L -> 1L, 21L -> 1L, 22L -> 1L))
  }

  test("auto-compaction bounds the relabel map with no manual call") {
    val dir = tmpDir("autocompact")
    val fs = graft.functions.FsUtils.fs(spark, dir)
    // chain of cross-batch merges, each making the PREVIOUS winner lose to
    // a smaller fresh root — every batch (after the first) adds a relabel
    // entry; autoCompactBytes=1 folds the map away after each merge batch
    val roots = Seq(100L, 90L, 80L, 70L, 60L)
    apply(Seq((101L, 100L)), 0L, dir)
    roots.sliding(2).zipWithIndex.foreach { case (Seq(hi, lo), i) =>
      ComponentsStream.applyBatch(spark,
        Seq((hi, lo)).toDF("a", "b"), "a", "b", i + 1L, dir,
        autoCompactBytes = 1L)
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/relabels")),
      "auto-compaction must have cleared the relabel map")
    val labels = ComponentsStream.currentLabels(spark, dir,
      (roots :+ 101L).toDF("doc_id"), "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(labels == (roots :+ 101L).map(_ -> 60L).toMap)
  }

  test("a batch of already-linked pairs causes zero merges and no relabel growth") {
    val dir = tmpDir("dup")
    apply(Seq((10L, 11L), (11L, 12L)), 0L, dir)
    val merges = apply(Seq((12L, 10L)), 1L, dir) // closes the triangle
    assert(merges == 0L)
    val labels = ComponentsStream.currentLabels(spark, dir,
      Seq(10L, 11L, 12L).toDF("doc_id"), "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(10L -> 10L, 11L -> 10L, 12L -> 10L))
  }
  private def twinOf(nodes: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Components.componentLabels(nodes.toDF("doc_id"), "doc_id",
      pairs.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  private def labelsOf(dir: String, nodes: Seq[Long]): Map[Long, Long] =
    ComponentsStream.currentLabels(spark, dir, nodes.toDF("doc_id"), "doc_id")
      .as[(Long, Long)].collect().toMap

  /** Nodes minus components of `pairs` alone — the merge count a single
    * batch folded into empty state must report. */
  private def freshMerges(pairs: Seq[(Long, Long)]): Long = {
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    nodes.size - twinOf(nodes, pairs).values.toSet.size
  }

  test("a 10-node path in one batch, shuffled ids and flipped directions") {
    val rnd = new scala.util.Random(11)
    val ids = rnd.shuffle((1L to 10L).map(_ * 7L)).toSeq
    val pairs = ids.sliding(2).zipWithIndex.map { case (Seq(u, v), i) =>
      if (i % 2 == 0) (u, v) else (v, u)
    }.toSeq
    val dir = tmpDir("path")
    val merges = apply(pairs, 0L, dir)
    assert(merges == 9L && merges == freshMerges(pairs))
    assert(labelsOf(dir, ids) == twinOf(ids, pairs))
    assert(labelsOf(dir, ids).values.toSet == Set(7L))
  }

  test("a descending-id path over batches: pre-existing roots lose") {
    val ids = (100L to 10L by -10L)
    val pairs = ids.sliding(2).map { case Seq(u, v) => (u, v) }.toSeq
    val dir = tmpDir("desc")
    pairs.grouped(2).zipWithIndex.foreach { case (b, i) => apply(b, i.toLong, dir) }
    assert(labelsOf(dir, ids) == twinOf(ids, pairs))
    assert(labelsOf(dir, ids).values.toSet == Set(10L))
  }

  test("a seeded random graph over five batches equals the batch recompute") {
    val rnd = new scala.util.Random(20261017)
    val nodes = (0L until 200L)
    val pairs = Seq.fill(150)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
    val batches = pairs.grouped(30).toSeq
    assert(batches.size == 5)
    val dir = tmpDir("random")
    val first = apply(batches.head, 0L, dir)
    assert(first == freshMerges(batches.head))
    batches.zipWithIndex.tail.foreach { case (b, i) => apply(b, i.toLong, dir) }
    assert(labelsOf(dir, nodes) == twinOf(nodes, pairs))
  }

  test("job budget: a warm batch that merges a pre-existing root") {
    val dir = tmpDir("budget")
    apply(Seq((2L, 1L), (3L, 2L), (4L, 3L), (21L, 20L), (22L, 21L)), 0L, dir)
    // the bridge makes pre-existing root 20 lose, so the relabel rewrite
    // runs too: every commit path of the fold is counted
    val jobs = jobsOf(apply(Seq((20L, 4L), (30L, 31L), (5L, 4L)), 1L, dir))
    assert(jobs <= ComponentsBudget, s"$jobs jobs > budget $ComponentsBudget")
  }
}
