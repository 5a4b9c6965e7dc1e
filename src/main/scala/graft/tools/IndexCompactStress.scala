package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import graft.operators.{Pq, Similarity}
import graft.streaming.EmbeddingIndexStream

/** Streaming-index compaction sweep (round 11): EmbeddingIndexStream
  * triple-writes exact/int8/PQ appends, so after N batches each probed
  * `cluster=` holds N small files — the pruned nprobe read becomes a
  * nprobe×N-file read. This drives 60 append batches through
  * [[EmbeddingIndexStream.applyBatch]] twice — compaction OFF vs
  * auto-compaction at 8 batch dirs — and records, at every 10th batch:
  * total data files per index tier, and the exact tier's partition-pruned
  * probe query (wall, files opened, bytes read — post-pruning
  * FileSourceScanExec metrics, the IndexedAnnStress method).
  * Results → STRESS.md ("Streaming index compaction").
  */
object IndexCompactStress {

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case st: QueryStageExec => scans(st.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }

  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.cpus(32))

    val amp = sys.env.getOrElse("SPARK_GRAFT_COMPACT_AMP", "8").toInt
    val nb = sys.env.getOrElse("SPARK_GRAFT_COMPACT_BATCHES", "60").toInt
    val corpus = graft.Tables.embeddings(spark, sf)
      .select(col("*"), explode(sequence(lit(0L), lit(amp - 1L))).as("rep"))
      .withColumn("vec_id", col("vec_id") * amp + col("rep"))
      .drop("rep")
      .localCheckpoint(true)
    val base = graft.Tables.embeddings(spark, sf)
    val cents = Similarity.centroidSeq(base)
    val cb = Pq.trainedCodebooks(base, "compact-stress")

    val probePairs = base.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq

    def dataFiles(p: String): Int = {
      val f = new java.io.File(p)
      if (!f.exists()) 0
      else {
        def walk(d: java.io.File): Int = d.listFiles().map { c =>
          if (c.isDirectory) walk(c)
          else if (c.getName.endsWith(".parquet")) 1 else 0
        }.sum
        walk(f)
      }
    }

    def runMeasured(df: DataFrame): (Double, Long, Double) = {
      val qe = df.queryExecution
      val t0 = System.nanoTime()
      spark.sparkContext.runJob(qe.toRdd, (it: Iterator[_]) => it.size)
      val t = (System.nanoTime() - t0) / 1e9
      val ss = scans(qe.executedPlan)
      (t, ss.map(_.metrics("numFiles").value).sum,
        ss.map(_.metrics("filesSize").value).sum / 1e6)
    }

    println("mode,batch,apply_sec,files_exact,files_int8,files_pq,q_sec_min2,q_files,q_mb")
    for ((mode, auto) <- Seq(("off", 0), ("auto8", 8))) {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-compact-$mode").toString
      val (idx, qidx, pidx) = (s"$tmp/exact", s"$tmp/int8", s"$tmp/pq")
      for (i <- 0 until nb) {
        val batch = corpus.filter(pmod(col("vec_id"), lit(nb)) === i)
        val t0 = System.nanoTime()
        EmbeddingIndexStream.applyBatch(batch, i, cents, idx,
          quantizedDir = Some(qidx), pqLoaded = Some((pidx, cb)),
          autoCompactBatches = auto)
        val tApply = (System.nanoTime() - t0) / 1e9
        if ((i + 1) % 10 == 0 || i == nb - 1) {
          def q() = runMeasured(Similarity.ivfTopKIndexedVectors(
            spark, idx, cents, probePairs, k = 10, nprobe = 4))
          val (a, b) = (q(), q())
          val (qT, qF, qMb) = if (b._1 < a._1) b else a
          println(f"$mode,$i,$tApply%.2f,${dataFiles(idx)},${dataFiles(qidx)},${dataFiles(pidx)},$qT%.2f,$qF,$qMb%.2f")
        } else println(f"$mode,$i,$tApply%.2f,,,,,,")
      }
    }
    spark.stop()
  }
}
