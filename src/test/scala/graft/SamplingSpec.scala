package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Sampling

class SamplingSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("splitAssign is deterministic, total, and ~80/10/10 per source") {
    val a = Sampling.splitAssign(spark, Sf0001).collect()
    val b = Sampling.splitAssign(spark, Sf0001).collect()
    assert(a.sameElements(b)) // stable across runs
    val df = Sampling.splitAssign(spark, Sf0001)
    val n = df.count()
    assert(df.select("doc_id").distinct().count() == n) // every doc, once
    val bySplit = df.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(bySplit.keySet == Set("train", "val", "test"))
    // hash split: binomial around 80% — wide tolerance for small corpora
    assert(bySplit("train").toDouble / n > 0.68 && bySplit("train").toDouble / n < 0.9)
  }

  test("splitAssign is independent of partitioning") {
    val base = Sampling.splitAssign(spark, Sf0001)
    val re = base.repartition(7).orderBy("doc_id")
    assert(base.collect().sameElements(re.collect()))
  }

  test("samplePerSource returns at most k per source with dense ranks 1..k") {
    val k = 5
    val s = Sampling.samplePerSource(spark, Sf0001, k)
    val per = s.groupBy("source").agg(
      count(lit(1)).as("n"), max("sample_rank").as("mx"), min("sample_rank").as("mn"))
      .as[(String, Long, Long, Long)].collect()
    per.foreach { case (_, n, mx, mn) =>
      assert(n <= k && mx == n && mn == 1L) // dense 1..n, n ≤ k
    }
    // deterministic: same sample on rerun
    assert(s.collect().sameElements(Sampling.samplePerSource(spark, Sf0001, k).collect()))
  }

  test("samplePerSourceAgg equals the window formulation exactly") {
    for (k <- Seq(1, 5, 20)) {
      val win = Sampling.samplePerSource(spark, Sf0001, k)
        .as[(String, Long, Long)].collect()
      val agg = Sampling.samplePerSourceAgg(spark, Sf0001, k)
        .as[(String, Long, Long)].collect()
      assert(agg.sameElements(win), s"k=$k")
    }
  }

  test("BottomKAgg merge equals single-pass build on adversarial splits") {
    val agg = new Sampling.BottomKAgg(7)
    val xs = (0 until 200).map(i =>
      Sampling.HashedId(hk = (i * 2654435761L) % 97, doc_id = i.toLong))
    val single = xs.foldLeft(agg.zero)(agg.reduce)
    for (cut <- Seq(1, 50, 199)) {
      val (a, b) = xs.splitAt(cut)
      val merged = agg.merge(
        a.foldLeft(agg.zero)(agg.reduce), b.foldLeft(agg.zero)(agg.reduce))
      assert(merged.hks.sameElements(single.hks) && merged.ids.sameElements(single.ids), s"cut=$cut")
    }
  }

  test("sampleWeighted matches a driver-side A-ES reference exactly") {
    val n = 25
    val got = Sampling.sampleWeighted(spark, Sf0001, n)
      .as[(String, Long, Long, Long)].collect().toSeq
    // reference: same keys via the spec-pinned h60 hex formulation
    val ref = graft.Tables.documents(spark, Sf0001)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tokens"),
        graft.functions.Hashing.h60Reference(
          concat(col("doc_id").cast("string"), lit(":wsample")).cast("binary")).as("h"))
      .as[(String, Long, Long, Long)].collect()
      .map { case (src, id, w, h) =>
        val key = BigDecimal(math.log((h + 1).toDouble / 1152921504606846976.0) / w)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        (key, src, id, w)
      }
      .sortBy { case (key, _, id, _) => (-key, id) }
      .take(n).zipWithIndex
      .map { case ((_, src, id, w), i) => (src, id, w, i + 1L) }
      .toSeq
    assert(got == ref)
  }

  test("sampleWeighted is partitioning-invariant and biased to token mass") {
    val base = Sampling.sampleWeightedOf(
      graft.Tables.documents(spark, Sf0001), n = 25)
    val re = Sampling.sampleWeightedOf(
      graft.Tables.documents(spark, Sf0001).repartition(7), n = 25)
    assert(base.collect().sameElements(re.collect()))
    // proportional-to-token-mass sampling overweights long docs: the
    // sample's mean token count exceeds the corpus mean (deterministic at
    // fixed data/salt; verified margin is wide)
    val sampleMean = base.agg(avg("n_tokens")).head().getDouble(0)
    val corpusMean = graft.Tables.documents(spark, Sf0001)
      .agg(avg(size(split(col("text"), " ", -1)))).head().getDouble(0)
    assert(sampleMean > corpusMean)
  }

  test("sampleWeightedPerSource: dense per-source ranks agreeing with the global keys") {
    val k = 5
    val s = Sampling.sampleWeightedPerSource(spark, Sf0001, k)
    val per = s.groupBy("source").agg(
      count(lit(1)).as("n"), max("sample_rank").as("mx"), min("sample_rank").as("mn"))
      .as[(String, Long, Long, Long)].collect()
    per.foreach { case (_, n, mx, mn) => assert(n <= k && mx == n && mn == 1L) }
    // rank-1 winner per source = that source's best GLOBAL race key
    val bestPerSource = Sampling.weightedRaceKeys(graft.Tables.documents(spark, Sf0001))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy(col("wkey").desc, col("doc_id"))))
      .filter(col("rn") === 1).select("source", "doc_id")
      .as[(String, Long)].collect().toSet
    val got = s.filter(col("sample_rank") === 1).select("source", "doc_id")
      .as[(String, Long)].collect().toSet
    assert(got == bestPerSource)
  }

  test("mixturePipeline packs exactly the weighted sample, never overrunning") {
    val budget = 500
    val packed = Sampling.mixturePipeline(spark, Sf0001, k = 5, budget = budget)
      .as[(String, Long, Long, Long)].collect()
    val sampled = Sampling.sampleWeightedPerSource(spark, Sf0001, k = 5)
    // every sampled doc lands in exactly one pack
    assert(packed.map(_._3).sum == sampled.count())
    // a pack overruns only when a single doc alone exceeds the budget
    packed.filter(_._4 > budget).foreach { case (_, _, nDocs, _) =>
      assert(nDocs == 1L)
    }
  }

  test("splitLeakageSafe: no near-dup pair straddles splits; singletons match splitAssign") {
    val docs = Tables.documents(spark, Sf0001).filter(col("doc_id") < 500)
    val pairs = graft.operators.Dedup.nearDuplicatePairs(docs, "text", "doc_id",
      threshold = 0.9, numPerm = 64, bands = 8, shingleK = 1,
      hashFn = graft.functions.Hashing.h60)
    val labeled = Sampling.splitLeakageSafeOf(
      graft.operators.Components.componentLabels(docs, "doc_id", pairs, "id_a", "id_b"))
    val split = labeled.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // the leakage property: every verified near-dup pair lands in ONE split
    val ps = pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ps.nonEmpty)
    ps.foreach { case (a, b) =>
      assert(split(a)._2 == split(b)._2, s"pair ($a,$b) straddles splits")
    }
    // the plain id-hash split DOES leak on this corpus — the property is
    // not vacuous (some pair disagrees under independent hashing)
    val plain = Sampling.splitAssignOf(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(ps.exists { case (a, b) => plain(a) != plain(b) },
      "corpus has no straddling pair under plain split; property untested")
    // singleton components (component = own id) get exactly the plain
    // assignment — the two splits agree outside the clustered minority
    split.foreach { case (id, (comp, s)) =>
      if (comp == id) assert(s == plain(id), s"singleton $id diverges from splitAssign")
    }
  }

  test("packGreedy never overruns the budget and covers every doc once") {
    val budget = 200
    val packs = Sampling.packGreedy(spark, Sf0001, budget)
      .as[(String, Long, Long, Long)].collect()
    assert(packs.map(_._3).sum == Tables.documents(spark, Sf0001).count())
    packs.foreach { case (src, _, nDocs, tokens) =>
      // exact greedy: a multi-doc pack never exceeds the budget (only an
      // oversized single doc may)
      assert(nDocs == 1 || tokens <= budget, s"$src")
    }
    // partitioning-independence: same packs from a repartitioned AND
    // reversed input (flatMapSortedGroups must re-sort, not trust arrival)
    val re = Sampling.packGreedyOf(
        Tables.documents(spark, Sf0001).orderBy(col("doc_id").desc).repartition(7),
        budget)
      .as[(String, Long, Long, Long)].collect()
    assert(packs.sameElements(re))
  }

  test("packBlocks covers every doc once and packs stay near budget") {
    val budget = 200
    val packs = Sampling.packBlocks(spark, Sf0001, budget)
      .as[(String, Long, Long, Long)].collect()
    val docsTotal = Tables.documents(spark, Sf0001).count()
    assert(packs.map(_._3).sum == docsTotal) // partition of the corpus
    // contiguous pack ids per source, starting at 0
    packs.groupBy(_._1).foreach { case (_, ps) =>
      val ids = ps.map(_._2).sorted
      assert(ids.head == 0L && ids.sameElements(ids.indices.map(_.toLong)))
    }
    // boundary-straddle bound: a non-last pack spans from its first doc's
    // start (< pack boundary + one straddling doc) to the next pack's first
    // start (≥ its boundary), so budget - maxDoc < tokens < budget + maxDoc
    val maxDoc = Tables.documents(spark, Sf0001)
      .select(max(size(split(col("text"), " ", -1)))).as[Int].head()
    packs.groupBy(_._1).foreach { case (_, ps) =>
      ps.sortBy(_._2).dropRight(1).foreach { case (_, _, _, tokens) =>
        assert(tokens > budget - maxDoc && tokens < budget + maxDoc)
      }
    }
  }

  test("shuffledExportAssign: bijective, dense per-shard positions, balanced shards") {
    val df = Sampling.shuffledExportAssign(spark, Sf0001)
    val rows = df.as[(Long, Int, Long)].collect()
    val n = Tables.documents(spark, Sf0001).count()
    assert(rows.length == n && rows.map(_._1).distinct.length == n)
    // (shard, pos) is a key: dense 1..n_s within each shard
    rows.groupBy(_._2).foreach { case (_, rs) =>
      val ps = rs.map(_._3).sorted
      assert(ps.head == 1L && ps.sameElements((1L to ps.length.toLong)))
    }
    // hash balance: no shard dominates (binomial spread around n/16)
    val sizes = rows.groupBy(_._2).values.map(_.length.toDouble)
    val mean = n.toDouble / 16
    assert(sizes.max < mean * 1.8 && sizes.min > mean * 0.3,
      s"imbalanced shards: min ${sizes.min}, max ${sizes.max}, mean $mean")
    // deterministic
    assert(rows.sameElements(Sampling.shuffledExportAssign(spark, Sf0001)
      .as[(Long, Int, Long)].collect()))
  }

  test("writeShuffled materializes the assignment order: one sorted file per shard") {
    val out = tempDir("graft-shuf")
    val docs = Tables.documents(spark, Sf0001)
    Sampling.writeShuffled(docs, out)
    val assign = Sampling.shuffledExportAssignOf(docs)
    val back = spark.read.parquet(out)
    assert(back.count() == docs.count())
    // within every shard, file row order == pos order (training-order replay)
    for (shard <- Seq(0, 7, 15)) {
      val fileOrder = back.filter(col("shard") === shard)
        .select("doc_id").as[Long].collect()
      val posOrder = assign.filter(col("shard") === shard)
        .orderBy("pos").select("doc_id").as[Long].collect()
      assert(fileOrder.sameElements(posOrder), s"shard $shard out of order")
    }
    // one data file per shard dir
    for (shard <- Seq(0, 15)) {
      val files = new java.io.File(s"$out/shard=$shard")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"shard $shard has ${files.length} files")
    }
  }

  test("centrality-weighted race: zero-weight excluded, ranked, bitwise under repartition") {
    import spark.implicits._
    val pr = Seq((1L, 5000000L), (2L, 0L), (3L, 1000000L), (4L, 9000000L),
      (5L, 2000000L)).toDF("doc_id", "rank_micro")
    val all = graft.operators.Sampling.sampleByCentralityOf(pr, n = 10).collect()
    // zero-weight doc 2 never wins, even with n > frame size
    assert(all.length === 4 && !all.exists(_.getLong(0) == 2L))
    // ranks are 1..4 in wkey order
    assert(all.map(_.getLong(2)).toSeq === Seq(1L, 2L, 3L, 4L))
    val a = graft.operators.Sampling.sampleByCentralityOf(pr.repartition(7), n = 3)
      .collect().toSeq
    val b = graft.operators.Sampling.sampleByCentralityOf(pr, n = 3).collect().toSeq
    assert(a === b)
  }
}
