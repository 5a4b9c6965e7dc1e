package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import graft.streaming.LexStatsStream

/** Posting-list compaction sizing sweep (round 19, VERDICT r18 item 4):
  * small-file creep is THE classic lexical-index failure mode — each micro
  * batch writes one file per touched `pbucket=` dir, so after N batches a
  * query-term read opens O(N) files per probed bucket and the listing/open
  * cost, not bytes, becomes the serve tax. This drives O(500) document
  * micro-batches through [[LexStatsStream.applyBatch]] under three
  * auto-compaction policies — OFF, every 64 batch dirs, every 16 — and
  * records at checkpoints: data files per log (lexstats + lexpost), batch
  * dir counts, per-batch apply seconds (compaction spikes included), and
  * the indexed BM25 serve read (wall min-of-2, files opened, MB — the
  * post-pruning FileSourceScanExec metrics, the IndexCompactStress method).
  * OFF is capped at 200 batches (the point is demonstrated by then; an
  * uncompacted 500-batch log serves in minutes, not seconds).
  * Results → STRESS.md ("Lexical posting-list compaction sizing").
  */
object LexCompactStress {

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case st: QueryStageExec => scans(st.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }

  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Sessions.local(graft.Sessions.cpus(32))

    val nb = sys.env.getOrElse("SPARK_GRAFT_LEX_BATCHES", "500").toInt
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").localCheckpoint(true)

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

    println("mode,batch,apply_sec,files_stats,files_post,dirs_post,q_sec_min2,q_files,q_mb")
    for ((mode, auto, cap) <- Seq(("off", 0, 200), ("auto64", 64, nb),
                                  ("auto16", 16, nb))) {
      val state = java.nio.file.Files
        .createTempDirectory(s"graft-lexcompact-$mode").toString
      val n = math.min(nb, cap)
      for (i <- 0 until n) {
        val batch = docs.filter(pmod(col("doc_id"), lit(n.toLong)) === i.toLong)
        val t0 = System.nanoTime()
        LexStatsStream.applyBatch(spark, batch, i.toLong, state,
          autoCompactBatches = auto)
        val tApply = (System.nanoTime() - t0) / 1e9
        if ((i + 1) % 50 == 0 || i == n - 1) {
          def q() = runMeasured(LexStatsStream.bm25TopkIndexed(spark, state))
          val (a, b) = (q(), q())
          val (qT, qF, qMb) = if (b._1 < a._1) b else a
          val dirs = new java.io.File(s"$state/lexpost").listFiles()
            .count(_.getName.startsWith("batch="))
          println(f"$mode,$i,$tApply%.2f,${dataFiles(s"$state/lexstats")}," +
            f"${dataFiles(s"$state/lexpost")},$dirs,$qT%.2f,$qF,$qMb%.2f")
        } else println(f"$mode,$i,$tApply%.2f,,,,,,")
      }
    }
    spark.stop()
  }
}
