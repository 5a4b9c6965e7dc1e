package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Layout, Multimodal}

class LayoutSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("partitioned layout prunes non-matching tenant directories") {
    val tmp = tempDir("graft-layout")
    val orders = Tables.orders(spark, Sf0001)
    Layout.writePartitioned(orders, s"$tmp/orders", Seq("o_orderpriority"))
    val pruned = Layout.readPartitioned(spark, s"$tmp/orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    val plan = pruned.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") &&
      plan.contains("o_orderpriority"), s"expected partition pruning in:\n$plan")
    // pruned read returns exactly the filtered subset
    val expected = orders.filter(col("o_orderpriority") === "1-URGENT").count()
    assert(pruned.count() == expected && expected > 0)
  }

  test("bucketed tables join with no Exchange in the plan") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_bkt LOCATION '/tmp/graft-bkt-db'")
    val o = Tables.orders(spark, Sf0001).select("o_orderkey", "o_custkey", "o_totalprice")
    val c = Tables.customer(spark, Sf0001)
      .select(col("c_custkey"), col("c_name"))
    graft.operators.Layout.writeBucketed(o, "graft_bkt.orders_b", 8, Seq("o_custkey"))
    graft.operators.Layout.writeBucketed(c, "graft_bkt.cust_b", 8, Seq("c_custkey"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val j = spark.table("graft_bkt.orders_b")
        .join(spark.table("graft_bkt.cust_b"), col("o_custkey") === col("c_custkey"))
      val plan = j.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"), s"expected exchange-free bucketed join:\n$plan")
      // and it computes the same rows as the plain join
      val expected = o.join(c, col("o_custkey") === col("c_custkey")).count()
      assert(j.count() == expected && expected > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_bkt.orders_b")
      spark.sql("DROP TABLE IF EXISTS graft_bkt.cust_b")
      spark.sql("DROP DATABASE IF EXISTS graft_bkt")
    }
  }

  test("saltedJoin is row-identical to the plain equi-join") {
    val orders = Tables.orders(spark, Sf0001).select("o_orderkey", "o_custkey", "o_totalprice")
    val cust = Tables.customer(spark, Sf0001).select(
      col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val plain = orders.join(cust, Seq("o_custkey"))
    val salted = Layout.saltedJoin(orders, cust, Seq("o_custkey"),
      numSalts = 8, saltFrom = col("o_orderkey"))
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  test("saltedJoinHot (targeted) is row-identical to the plain equi-join") {
    val orders = Tables.orders(spark, Sf0001).select("o_orderkey", "o_custkey", "o_totalprice")
    val cust = Tables.customer(spark, Sf0001).select(
      col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val plain = orders.join(cust, Seq("o_custkey"))
    // hot list: the two most frequent custkeys in the slice (plus one absent
    // key — salting a key with no rows must be a no-op)
    val hot = orders.groupBy("o_custkey").count()
      .orderBy(col("count").desc, col("o_custkey")).limit(2)
      .collect().map(_.getLong(0)).toSeq :+ -1L
    val salted = Layout.saltedJoinHot(orders, cust, "o_custkey",
      numSalts = 8, saltFrom = col("o_orderkey"), hotKeys = hot)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  test("detectHotKeys finds exactly the planted hot keys from a sample") {
    // 60% of rows on key 7, 20% on key 13, the rest spread over 10k keys —
    // at hotShare=0.05 the detector must surface {7, 13} and nothing with
    // real mass (MG over-detection is allowed but bounded; nothing else
    // here clears the share test)
    val skewed = spark.range(100000).select(
      when(pmod(col("id"), lit(10)) < 6, lit(7L))
        .when(pmod(col("id"), lit(10)) < 8, lit(13L))
        .otherwise(pmod(xxhash64(col("id")), lit(10000)) + 100L).as("k"))
    val hot = Layout.detectHotKeys(skewed, "k",
      sampleFraction = 0.05, hotShare = 0.05)
    assert(hot.take(2).toSet == Set("7", "13"), s"detected: $hot")
    // a uniform key column detects nothing
    val uniform = spark.range(100000)
      .select(pmod(xxhash64(col("id")), lit(10000)).as("k"))
    assert(Layout.detectHotKeys(uniform, "k",
      sampleFraction = 0.05, hotShare = 0.05).isEmpty)
  }

  test("saltedJoinAuto is row-identical to the plain equi-join") {
    val orders = Tables.orders(spark, Sf0001).select("o_orderkey", "o_custkey", "o_totalprice")
    val cust = Tables.customer(spark, Sf0001).select(
      col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val plain = orders.join(cust, Seq("o_custkey"))
    // sf0.001 custkeys are near-uniform → detector may return nothing
    // (plain-join path) — and a forced low threshold over-detects; BOTH
    // must stay row-identical
    for (share <- Seq(0.5, 0.001)) {
      val auto = Layout.saltedJoinAuto(orders, cust, "o_custkey",
        numSalts = 8, saltFrom = col("o_orderkey"),
        sampleFraction = 0.5, hotShare = share)
      assert(auto.count() == plain.count(), s"share=$share")
      assert(auto.exceptAll(plain).count() == 0, s"share=$share")
      assert(plain.exceptAll(auto).count() == 0, s"share=$share")
    }
  }

  test("compaction rewrites only fragmented partitions and keeps rows identical") {
    val tmp = tempDir("graft-compact")
    val dir = s"$tmp/t"
    // p=a fragmented (12 files), p=b already compact (1 file)
    (1 to 100).map(i => (i.toLong, "a")).toDF("id", "p")
      .repartition(12).write.partitionBy("p").parquet(dir)
    (101 to 110).map(i => (i.toLong, "b")).toDF("id", "p")
      .coalesce(1).write.mode("append").partitionBy("p").parquet(dir)
    def files(sub: String) = new java.io.File(s"$dir/p=$sub").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified())).toSet
    val before = spark.read.parquet(dir).as[(Long, String)].collect().sorted.toSeq
    val bFiles = files("b")
    assert(files("a").size > 8)
    val n = Layout.compactPartitions(spark, dir, maxFilesPerPartition = 8, targetFiles = 1)
    assert(n == 1, s"expected exactly the fragmented partition compacted, got $n")
    assert(files("a").size == 1)
    assert(files("b") == bFiles, "already-compact partition must be untouched")
    val after = spark.read.parquet(dir).as[(Long, String)].collect().sorted.toSeq
    assert(after == before)
    // crash recovery: orphan p=a into the sibling staging dir, re-run
    // restores it (staging is OUTSIDE the root so partition discovery
    // never sees half-compacted data)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir.parts-tmp"))
    fs.rename(new org.apache.hadoop.fs.Path(s"$dir/p=a"),
      new org.apache.hadoop.fs.Path(s"$dir.parts-tmp/p=a"))
    Layout.compactPartitions(spark, dir, maxFilesPerPartition = 8)
    val healed = spark.read.parquet(dir).as[(Long, String)].collect().sorted.toSeq
    assert(healed == before)
  }

  test("compaction reaches leaf partitions of multi-level tables") {
    val tmp = tempDir("graft-compact2")
    val dir = s"$tmp/t"
    (1 to 80).map(i => (i.toLong, "d1", if (i % 2 == 0) "x" else "y"))
      .toDF("id", "d", "t").repartition(10)
      .write.partitionBy("d", "t").parquet(dir)
    def nFiles(sub: String) = new java.io.File(s"$dir/$sub").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nFiles("d=d1/t=x") > 8)
    val before = spark.read.parquet(dir).as[(Long, String, String)].collect().sorted.toSeq
    val n = Layout.compactPartitions(spark, dir, maxFilesPerPartition = 8, targetFiles = 1)
    assert(n == 2, s"both fragmented leaves compacted, got $n")
    assert(nFiles("d=d1/t=x") == 1 && nFiles("d=d1/t=y") == 1)
    val after = spark.read.parquet(dir).as[(Long, String, String)].collect().sorted.toSeq
    assert(after == before)
  }

  test("frame sampling emits every Nth frame with deterministic hashes") {
    val media = Multimodal.mediaFromDocuments(Tables.documents(spark, Sf0001))
    val frames = Multimodal.sampleFrames(media, everyN = 4)
    val byDoc = frames.groupBy("doc_id").count()
      .join(Multimodal.extractMeta(media).select(col("doc_id"), col("n_frames")), Seq("doc_id"))
      .withColumn("expected", ceil(col("n_frames") / 4.0))
      .filter(col("count") =!= col("expected"))
    assert(byDoc.count() == 0)
    // deterministic: same input -> same hashes
    val a = frames.orderBy("doc_id", "frame_idx").as[(Long, Long, Long)].collect().toSeq
    val b = Multimodal.sampleFrames(media, everyN = 4)
      .orderBy("doc_id", "frame_idx").as[(Long, Long, Long)].collect().toSeq
    assert(a == b)
  }

  test("extractFeatures produces dense vectors consumable by Similarity") {
    val media = Multimodal.mediaFromDocuments(Tables.documents(spark, Sf0001))
    val feats = Multimodal.extractFeatures(media, dim = 16)
    assert(feats.select(size(col("embedding"))).distinct().as[Int].head() == 16)
    val top = graft.operators.Similarity.bruteForceTopK(feats, Seq(0L), 3).collect()
    assert(top.length == 3)
  }

  test("z-order layout: per-file stat boxes are tight in BOTH dimensions (the pruning mechanism)") {
    import graft.operators.Layout
    val orders = Tables.orders(spark, Sf0001)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") * 100).cast("long").as("price_c"))
    val nFiles = 16
    val zDir = tempDir("graft-zorder")
    val linDir = tempDir("graft-linear")
    Layout.writeZOrdered(orders, "o_custkey", "price_c", zDir, nFiles)
    // linear baseline: same file count, sorted by custkey only
    orders.repartitionByRange(nFiles, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.mode("overwrite").parquet(linDir)

    // correctness: the z-written table holds exactly the same rows
    val a = spark.read.parquet(zDir).orderBy("o_orderkey").collect().toSeq
    val b = orders.orderBy("o_orderkey").collect().toSeq
    assert(a == b)

    // per-file (min,max) boxes — what parquet footer stats expose to the
    // reader's row-group pruning
    def boxes(dir: String): Seq[(Long, Long, Long, Long)] =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).toSeq
        .map { f =>
          val r = spark.read.parquet(f.getAbsolutePath)
            .agg(min("o_custkey"), max("o_custkey"), min("price_c"), max("price_c")).head()
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        }
    val zB = boxes(zDir); val lB = boxes(linDir)
    assert(zB.size > 4 && lB.size > 4)
    val (pLo, pHi) = {
      val s = orders.agg(min("price_c"), max("price_c")).head()
      (s.getLong(0), s.getLong(1))
    }
    // a narrow price band (~10% of the range): count files whose box
    // intersects it — the files a stats-pruning reader must open
    val bandLo = pLo + (pHi - pLo) * 45 / 100
    val bandHi = pLo + (pHi - pLo) * 55 / 100
    def hits(bs: Seq[(Long, Long, Long, Long)]) =
      bs.count { case (_, _, lo, hi) => hi >= bandLo && lo <= bandHi }
    // custkey-sorted layout: every file spans ~the whole price range
    assert(hits(lB) == lB.size, s"linear layout unexpectedly selective: ${hits(lB)}/${lB.size}")
    // z-order: at least 2× fewer files than the linear layout must open
    // (16 files = ~2 z-bits per dimension, so each file spans ~1/4 of the
    // price range; a 10% band intersects about half the files — the
    // asymptotic win grows with file count, this pins the mechanism)
    assert(hits(zB) * 2 <= hits(lB),
      s"z-order not selective on the second dimension: ${hits(zB)}/${zB.size} vs linear ${hits(lB)}")
    // and the FIRST dimension keeps (partial) selectivity too
    val (cLo, cHi) = {
      val s = orders.agg(min("o_custkey"), max("o_custkey")).head()
      (s.getLong(0), s.getLong(1))
    }
    val cBandHi = cLo + (cHi - cLo) / 10
    val zHitsA = zB.count { case (lo, hi, _, _) => hi >= cLo && lo <= cBandHi }
    assert(zHitsA < zB.size, "z-order lost all first-dimension selectivity")
  }

  test("z-order advisor: hit-fraction model pinned to ZOrderBench's measured table") {
    // STRESS.md round 13 (ZOrderBench, orders sf0.1, 10% bands): mean of
    // the price-band and custkey-band hit fractions per file count
    val measured = Seq(16 -> (0.625 + 0.688) / 2,
      64 -> (0.250 + 0.406) / 2, 256 -> (0.172 + 0.242) / 2)
    for ((nf, m) <- measured) {
      val p = Layout.zorderExpectedHitFraction(0.1, nf)
      assert(math.abs(p - m) <= 0.06,
        s"model $p vs measured $m at nFiles=$nf")
    }
    // ndv below the file grid clamps resolution: a 2-distinct dim cannot
    // prune beyond halving, and the model must say so
    assert(Layout.zorderExpectedHitFraction(0.1, 256, minNdv = 2) == 1.0)
  }

  test("z-order advisor: picks the two most prunable columns, deterministically") {
    import graft.operators.Profile
    // testdata orders has no low-cardinality NUMERIC column — derive one
    // (constant region-style code) to exercise the ineligibility rule
    val orders = Tables.orders(spark, Sf0001)
      .withColumn("o_lowcard", pmod(col("o_orderkey"), lit(1L)))
    // candidate set = the filter-bearing columns a user would offer
    val prof = Profile.profile(orders, Seq(
      "o_orderkey" -> Profile.NumCol, "o_custkey" -> Profile.NumCol,
      "o_totalprice" -> Profile.NumCol, "o_lowcard" -> Profile.NumCol))
    val cols = Layout.colProfiles(prof)
    val advice = Layout.adviseZOrder(cols, nFiles = 64).get
    // o_lowcard is single-valued — never advisable; the three high-ndv
    // columns all exceed the √64 grid, so ties break on raw ndv:
    // orderkey (unique) and totalprice (near-unique) win
    assert(Set(advice.colA, advice.colB) == Set("o_orderkey", "o_totalprice"),
      s"got ${advice.colA}, ${advice.colB}")
    assert(advice.expectedHitFraction < 0.5 && advice.bits >= 8)
    // deterministic from equal profiles
    assert(Layout.adviseZOrder(cols, nFiles = 64).get == advice)
    // restricting candidates steers the advice (the index-choice contract)
    val a2 = Layout.adviseZOrderFor(orders,
      Seq("o_custkey", "o_totalprice", "o_lowcard"), nFiles = 64).get
    assert(Set(a2.colA, a2.colB) == Set("o_custkey", "o_totalprice"))
    // fewer than two eligible dims → no z-order advice (range sort wins)
    assert(Layout.adviseZOrder(
      cols.filter(_.name == "o_custkey"), nFiles = 64).isEmpty)
    assert(Layout.adviseZOrderFor(orders,
      Seq("o_lowcard"), nFiles = 64).isEmpty)
  }

  test("z-order maintenance: frozen-grid append keeps reads exact; recluster restores the layout") {
    val orders = Tables.orders(spark, Sf0001)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") * 100).cast("long").as("price_c"))
    val base = orders.filter(col("o_orderkey") % 3 =!= 0)
    val b1 = orders.filter(col("o_orderkey") % 3 === 0 && col("o_orderkey") % 2 === 0)
    // batch 2 DRIFTS beyond the original grid (stretched custkey) — appends
    // must clamp into edge buckets, reads must stay exact regardless
    val b2 = orders.filter(col("o_orderkey") % 3 === 0 && col("o_orderkey") % 2 =!= 0)
      .withColumn("o_custkey", col("o_custkey") + 100000L)
    val dir = tempDir("graft-zmaint") + "/t"
    Layout.writeZOrdered(base, "o_custkey", "price_c", dir, nFiles = 8)
    val meta = Layout.readZMeta(spark, dir).get
    assert(meta.colA == "o_custkey" && meta.nFiles == 8)
    Layout.appendZOrdered(b1, dir, nAppendFiles = 2)
    Layout.appendZOrdered(b2, dir, nAppendFiles = 2)
    // reads exact under the mixed layout, including the drifted rows
    val expectAll = base.unionByName(b1).unionByName(b2)
      .orderBy("o_orderkey").collect().toSeq
    assert(spark.read.parquet(dir).orderBy("o_orderkey").collect().toSeq == expectAll)
    val s = orders.agg(min("price_c"), max("price_c")).head()
    val (pLo, pHi) = (s.getLong(0), s.getLong(1))
    val band = (d: org.apache.spark.sql.DataFrame) =>
      d.filter(col("price_c").between(pLo + (pHi - pLo) * 45 / 100,
                                      pLo + (pHi - pLo) * 55 / 100))
        .orderBy("o_orderkey").collect().toSeq
    assert(band(spark.read.parquet(dir)) == band(expandFrame(expectAll)))
    // recluster trigger: 8 design files + 4 appended
    assert(Layout.needsRecluster(spark, dir, factor = 1.25))
    Layout.reclusterZOrdered(spark, dir)
    assert(!Layout.needsRecluster(spark, dir, factor = 1.25))
    // rows identical after the swap; grid re-elected over the drifted range
    assert(spark.read.parquet(dir).orderBy("o_orderkey").collect().toSeq == expectAll)
    val m2 = Layout.readZMeta(spark, dir).get
    assert(m2.amax > meta.amax, "recluster must re-elect the stretched grid")
    val nF = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nF <= 8, s"recluster left $nF files")
  }

  test("z-order recluster crash inside its swap: the next meta read, append " +
       "and recluster see the full table") {
    val orders = Tables.orders(spark, Sf0001)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") * 100).cast("long").as("price_c"))
    val base = orders.filter(col("o_orderkey") % 3 =!= 0)
    val b1 = orders.filter(col("o_orderkey") % 3 === 0 && col("o_orderkey") % 2 === 0)
    val b2 = orders.filter(col("o_orderkey") % 3 === 0 && col("o_orderkey") % 2 =!= 0)
    val dir = tempDir("graft-zcrash") + "/t"
    Layout.writeZOrdered(base, "o_custkey", "price_c", dir, nFiles = 8)
    Layout.appendZOrdered(b1, dir, nAppendFiles = 2)
    Layout.reclusterZOrdered(spark, dir)
    // the crash window: old table deleted, the finished rewrite not renamed
    val fs = graft.functions.FsUtils.fs(spark, dir)
    graft.functions.FsUtils.renameOrThrow(fs,
      new org.apache.hadoop.fs.Path(dir), new org.apache.hadoop.fs.Path(s"$dir.tmp"))
    assert(Layout.readZMeta(spark, dir).exists(_.nFiles == 8))
    Layout.appendZOrdered(b2, dir, nAppendFiles = 2)
    Layout.reclusterZOrdered(spark, dir)
    val expectAll = base.unionByName(b1).unionByName(b2)
      .orderBy("o_orderkey").collect().toSeq
    assert(spark.read.parquet(dir).orderBy("o_orderkey").collect().toSeq == expectAll)
  }

  // rebuild a DataFrame from collected rows (schema of the maintenance test)
  private def expandFrame(rows: Seq[org.apache.spark.sql.Row]) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("o_orderkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_custkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("price_c",
          org.apache.spark.sql.types.LongType))))
  }

  test("zorder_pruned_read gate: rows are layout-invariant AND the executed scan skips row groups") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case st: QueryStageExec => scans(st.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => (other.children ++ other.subqueries).flatMap(scans)
    }
    // run through the frame's OWN QueryExecution so scan metrics populate
    def scanOutputRows(df: org.apache.spark.sql.DataFrame): Long = {
      val qe = df.queryExecution
      spark.sparkContext.runJob(qe.toRdd, (it: Iterator[_]) => it.size)
      scans(qe.executedPlan).map(_.metrics("numOutputRows").value).sum
    }

    val gate = Layout.zorderPrunedReadGate(spark, Sf0001)
    // correctness: the banded read over the CLUSTERED copy returns exactly
    // the band over the original table (layout rewrite preserves rows)
    val base = Tables.orders(spark, Sf0001)
      .select(col("o_orderkey"), col("o_custkey"),
        floor(col("o_totalprice") * 100).cast("long").as("price_c"))
    val st = base.agg(min("o_custkey"), max("o_custkey"),
      min("price_c"), max("price_c")).head()
    val (cLo, cHi, pLo, pHi) =
      (st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3))
    val expected = base
      .filter(col("price_c").between(pLo + (pHi - pLo) * 45 / 100,
                                     pLo + (pHi - pLo) * 55 / 100) &&
              col("o_custkey").between(cLo + (cHi - cLo) * 45 / 100,
                                       cLo + (cHi - cLo) * 55 / 100))
      .orderBy("o_orderkey").collect().toSeq
    assert(expected.nonEmpty, "band predicate selected nothing — test is vacuous")
    assert(gate.collect().toSeq == expected)

    // physical claim: the z-clustered scan's pushed min/max band skips
    // most row groups, where the same predicate over an UNCLUSTERED copy
    // of the same data at the same file count skips (nearly) none
    val total = base.count()
    val unclustered = tempDir("graft-nozorder")
    base.repartition(64).write.mode("overwrite").parquet(unclustered)
    val pred = (d: org.apache.spark.sql.DataFrame) =>
      d.filter(col("price_c").between(pLo + (pHi - pLo) * 45 / 100,
                                      pLo + (pHi - pLo) * 55 / 100) &&
               col("o_custkey").between(cLo + (cHi - cLo) * 45 / 100,
                                        cLo + (cHi - cLo) * 55 / 100))
    val zRows = scanOutputRows(pred(spark.read.parquet(
      "/tmp/graft-zorder-idx/" + Sf0001.replaceAll("[^A-Za-z0-9.]", "_"))))
    val uRows = scanOutputRows(pred(spark.read.parquet(unclustered)))
    assert(zRows < total / 2,
      s"z-clustered scan skipped nothing: $zRows of $total rows materialized")
    assert(zRows * 2 <= uRows,
      s"z-clustered scan ($zRows rows) not better than unclustered ($uRows rows)")
  }
}
