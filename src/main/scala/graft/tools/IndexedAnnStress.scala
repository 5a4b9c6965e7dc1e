package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** On-disk IVF index sweep (round 7): `ivf_topk_indexed` is the real
  * 100 TB ANN path — a cluster-partitioned inverted-list table whose query
  * reads only its nprobe `cluster=` directories — but round 6 only put the
  * in-memory variant in the scale table. This measures, per amplification
  * factor: index build cost, directory-listing time as the CLUSTER COUNT
  * grows (replicas are re-labeled, so 8×/64×/256× → 80/640/2560 clusters),
  * query wall-clock (min-of-2), and the bytes each query's scans SELECT
  * after partition pruning vs the index's size on disk — the pruning
  * fraction, measured instead of claimed.
  *
  * Measurement note: scan volume comes from the executed plan's
  * `FileSourceScanExec` metrics (`numFiles`/`filesSize`, i.e. what survived
  * partition pruning), executed through the SAME QueryExecution that is
  * inspected. The first draft summed `taskMetrics.inputMetrics.bytesRead`
  * from a listener — which reads 0 for local-file parquet scans (neither
  * stage- nor task-level input metrics are populated on this path, verified
  * with a full-scan control), so its numbers were noise. filesSize counts
  * post-pruning file bytes, not row-group skips — the right metric for a
  * PARTITION-pruning claim. Results → STRESS.md ("On-disk IVF index").
  */
object IndexedAnnStress {

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    // AQE hides completed stages behind QueryStageExec leaves (children =
    // Nil) — without this case every scan under an exchange reads as absent
    case st: QueryStageExec => scans(st.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }

  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.cpus(32))

    // k× the corpus with per-replica labels AND a per-replica vector nudge:
    // every replica set becomes its own genuine cluster, so the index's
    // partition count scales with the factor (the directory-listing axis)
    def corpus(k: Int): DataFrame =
      graft.Tables.embeddings(spark, sf)
        .select(col("*"), explode(sequence(lit(0L), lit(k - 1L))).as("rep"))
        .withColumn("vec_id", col("vec_id") * k + col("rep"))
        .withColumn("label", col("label") + lit(10) * col("rep").cast("int"))
        .withColumn("embedding",
          transform(col("embedding"), x => x + col("rep").cast("float") * lit(0.01f)))
        .drop("rep")

    def dirSize(p: String): Long = {
      val fs = graft.functions.FsUtils.fs(spark, p)
      fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength
    }

    // run the frame through ITS OWN QueryExecution (a .write would plan a
    // fresh one and leave these metrics unexecuted), then read the scans'
    // post-pruning file counts/bytes
    def runMeasured(df: DataFrame): (Double, Long, Double) = {
      val qe = df.queryExecution
      val t0 = System.nanoTime()
      spark.sparkContext.runJob(qe.toRdd, (it: Iterator[_]) => it.size)
      val t = (System.nanoTime() - t0) / 1e9
      val ss = scans(qe.executedPlan)
      (t, ss.map(_.metrics("numFiles").value).sum,
        ss.map(_.metrics("filesSize").value).sum / 1e6)
    }

    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "8,64,256")
      .split(",").map(_.trim.toInt).toSeq
    println("factor,vectors,clusters,train_sec,build_sec,listing_sec,query_sec_min2,query_files,query_mb,index_mb,probed_clusters,vecquery_sec_min2,vecquery_files,vecquery_mb,qindex_mb,qquery_sec_min2,qquery_mb,recall10,qappend_sec,qappend_query_sec_min2,qappend_query_mb")
    for (k <- factors) {
      val c = corpus(k).localCheckpoint(true) // amplification cost stays out of every timing
      val nVec = c.count()
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-ivfidx$k").toString
      val t0 = System.nanoTime()
      val cents = Similarity.centroidSeq(c)
      val tTrain = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      Similarity.buildIndex(c, cents, s"$tmp/index")
      val tBuild = (System.nanoTime() - t1) / 1e9
      // cold relation resolution = the partition-discovery listing
      val t2 = System.nanoTime()
      spark.read.parquet(s"$tmp/index")
      val tList = (System.nanoTime() - t2) / 1e9
      val probeIds = (1L to 10L).map(_ * k)
      val probePairs = c.filter(col("vec_id").isin(probeIds: _*))
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      // probed-cluster diagnostic: the probes' nprobe nearest centroids,
      // computed driver-side from the (tiny) quantizer — same argmin the
      // query bakes into its expression
      val probed = probePairs.flatMap { case (_, v) =>
        Similarity.nearestClustersLocal(v, cents, 4)
      }.distinct.length
      def q(): (Double, Long, Double) = runMeasured(
        Similarity.ivfTopKIndexed(spark, s"$tmp/index", cents,
          probeIds, k = 10, nprobe = 4))
      def qv(): (Double, Long, Double) = runMeasured(
        Similarity.ivfTopKIndexedVectors(spark, s"$tmp/index", cents,
          probePairs.toSeq, k = 10, nprobe = 4))
      val (qa, qb) = (q(), q())       // warm + steady-state
      val (va, vb) = (qv(), qv())
      val (qT, qF, qMb) = if (qb._1 < qa._1) qb else qa
      val (vT, vF, vMb) = if (vb._1 < va._1) vb else va
      val idxMb = dirSize(s"$tmp/index") / 1e6
      // int8-quantized twin: same layout, byte vectors — size, query cost,
      // and recall@10 against the exact indexed answer
      Similarity.buildIndexQuantized(c, cents, s"$tmp/qindex")
      val qIdxMb = dirSize(s"$tmp/qindex") / 1e6
      def qq(): (Double, Long, Double) = runMeasured(
        Similarity.ivfTopKIndexedQuantized(spark, s"$tmp/qindex", cents,
          probePairs.toSeq, k = 10, nprobe = 4))
      val (qqa, qqb) = (qq(), qq())
      val (qqT, _, qqMb) = if (qqb._1 < qqa._1) qqb else qqa
      def topSets(df: DataFrame): Map[Long, Set[Long]] = df.collect()
        .groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
      val exactTop = topSets(Similarity.ivfTopKIndexedVectors(spark, s"$tmp/index",
        cents, probePairs.toSeq, k = 10, nprobe = 4))
      val quantTop = topSets(Similarity.ivfTopKIndexedQuantized(spark, s"$tmp/qindex",
        cents, probePairs.toSeq, k = 10, nprobe = 4))
      val recalls = exactTop.map { case (id, ids) =>
        quantTop.get(id).map(qs => (qs & ids).size.toDouble / ids.size).getOrElse(0.0)
      }
      val recall = recalls.sum / math.max(1, recalls.size)

      // nprobe sweep (round 8, largest factor only): the recall-vs-cost
      // curve a 100 TB operator tunes against. Ground truth = exact
      // brute-force cosine top-10 over the amplified corpus; both index
      // variants swept at the same nprobe settings. MUST run before the
      // incremental-append step below: the append lands exact-duplicate
      // vectors (same embeddings, fresh ids) into the quantized index
      // only — a post-append sweep would let a probe's own duplicate
      // (cosine 1.0) crowd the int8 top-10 and fake a recall penalty the
      // exact index never pays. Output buffered so the per-factor CSV row
      // (which includes append columns) still prints first.
      val sweepLines = if (k == factors.max) {
        val nprobes = sys.env.getOrElse("SPARK_GRAFT_NPROBE_LIST", "1,2,4,8,16")
          .split(",").map(_.trim.toInt).toSeq
        val truth = topSets(Similarity.bruteForceTopK(c, probeIds, 10))
        val lines = for (np <- nprobes; (variant, run) <- Seq(
          ("exact", (n: Int) => Similarity.ivfTopKIndexedVectors(
            spark, s"$tmp/index", cents, probePairs.toSeq, k = 10, nprobe = n)),
          ("int8", (n: Int) => Similarity.ivfTopKIndexedQuantized(
            spark, s"$tmp/qindex", cents, probePairs.toSeq, k = 10, nprobe = n)))) yield {
          val (s1, s2) = (runMeasured(run(np)), runMeasured(run(np)))
          val (sT, _, sMb) = if (s2._1 < s1._1) s2 else s1
          val got = topSets(run(np))
          val rs = truth.map { case (id, ids) =>
            got.get(id).map(g => (g & ids).size.toDouble / ids.size).getOrElse(0.0)
          }
          val r = rs.sum / math.max(1, rs.size)
          f"$np,$variant,$sT%.2f,$sMb%.1f,$r%.3f"
        }
        "nprobe,variant,query_sec_min2,query_mb,recall10" +: lines
      } else Seq.empty[String]

      // incremental quantized append: land a 1/8-of-corpus batch of NEW
      // ids into the existing quantized index and re-query — the cost must
      // track the BATCH (assignment + one shuffle of batch rows), and the
      // query's pruned read must stay in the same band (the batch adds
      // ≤ one file per touched cluster)
      val batch = c.filter(col("vec_id") % 8 === 0)
        .withColumn("vec_id", col("vec_id") + lit(nVec * 2))
      val t3 = System.nanoTime()
      Similarity.appendAssignedQuantized(batch, cents, s"$tmp/qindex")
      val tApp = (System.nanoTime() - t3) / 1e9
      val (pa, pb) = (qq(), qq())
      val (apT, _, apMb) = if (pb._1 < pa._1) pb else pa
      println(f"$k,$nVec,${cents.size},$tTrain%.2f,$tBuild%.2f,$tList%.2f,$qT%.2f,$qF,$qMb%.1f,$idxMb%.1f,$probed,$vT%.2f,$vF,$vMb%.1f,$qIdxMb%.1f,$qqT%.2f,$qqMb%.1f,$recall%.3f,$tApp%.2f,$apT%.2f,$apMb%.1f")
      sweepLines.foreach(println)
    }

    // NATURAL-corpus recall curve: the amplified corpus above spreads each
    // probe's true neighbours (its nudged replicas) across rep-clusters BY
    // CONSTRUCTION — its recall-vs-brute-force numbers measure the
    // amplifier's cluster structure, not the operator (both variants score
    // identically there; the curve merely counts how many replica clusters
    // nprobe covers). The tuning curve a deployment reads — recall vs
    // latency vs bytes as a function of nprobe — comes from the
    // unamplified corpus, whose label clusters reflect actual similarity.
    {
      val nat = graft.Tables.embeddings(spark, sf).localCheckpoint(true)
      val cents = Similarity.centroidSeq(nat)
      val tmp = java.nio.file.Files.createTempDirectory("graft-ivfnat").toString
      Similarity.buildIndex(nat, cents, s"$tmp/index")
      Similarity.buildIndexQuantized(nat, cents, s"$tmp/qindex")
      val probeIds = (0L until 20L).toSeq
      val probePairs = nat.filter(col("vec_id").isin(probeIds: _*))
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
      def topSets(df: DataFrame): Map[Long, Set[Long]] = df.collect()
        .groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
      val truth = topSets(Similarity.bruteForceTopK(nat, probeIds, 10))
      val nprobes = sys.env.getOrElse("SPARK_GRAFT_NPROBE_LIST", "1,2,4,8,16")
        .split(",").map(_.trim.toInt).toSeq.map(math.min(_, cents.size)).distinct
      println(s"nat_nprobe,variant,query_sec_min2,query_mb,recall10  (clusters=${cents.size})")
      for (np <- nprobes; (variant, run) <- Seq(
        ("exact", (n: Int) => Similarity.ivfTopKIndexedVectors(
          spark, s"$tmp/index", cents, probePairs, k = 10, nprobe = n)),
        ("int8", (n: Int) => Similarity.ivfTopKIndexedQuantized(
          spark, s"$tmp/qindex", cents, probePairs, k = 10, nprobe = n)))) {
        val (s1, s2) = (runMeasured(run(np)), runMeasured(run(np)))
        val (sT, _, sMb) = if (s2._1 < s1._1) s2 else s1
        val got = topSets(run(np))
        val rs = truth.map { case (id, ids) =>
          got.get(id).map(g => (g & ids).size.toDouble / ids.size).getOrElse(0.0)
        }
        val r = rs.sum / math.max(1, rs.size)
        println(f"$np,$variant,$sT%.2f,$sMb%.1f,$r%.3f")
      }
    }
    spark.stop()
  }
}
