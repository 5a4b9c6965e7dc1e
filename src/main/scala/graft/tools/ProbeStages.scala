package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import scala.collection.mutable.ArrayBuffer

/** Empirical stage profile for named queries (guide §1/§7.1 with no UI):
  * run each query to the noop sink and print, per completed stage, the task
  * count and the summed executor run time — the local-mode stand-in for the
  * Stages tab. A CPU-heavy stage with numTasks=1 on local[32] is the
  * single-row-group scan-parallelism ceiling this round hunts.
  */
object ProbeStages {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(graft.Sessions.cpus(32))
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    case class St(id: Int, name: String, nTasks: Int, runMs: Long, cpuMs: Long,
                  gcMs: Long, fetchMs: Long)
    val stages = ArrayBuffer.empty[St]
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        stages.synchronized {
          stages += St(i.stageId, i.name.takeWhile(_ != '\n').take(70),
            i.numTasks, i.taskMetrics.executorRunTime,
            i.taskMetrics.executorCpuTime / 1000000,
            i.taskMetrics.jvmGCTime,
            i.taskMetrics.shuffleReadMetrics.fetchWaitTime)
        }
      }
    })

    // Bench-identical warmup
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sf/region.parquet").count()
    graft.operators.Similarity.trainedCentroids(graft.Tables.embeddings(spark, sf), sf)

    for (q <- sys.env.getOrElse("SPARK_GRAFT_PROBE_QUERIES", "model_filter")
           .split(",").map(_.trim).filter(_.nonEmpty)) {
      // eagerBuilt queries do their work at CONSTRUCTION (graph trio) —
      // rebuild for the measured run so the ledger sees the real jobs
      val rebuild = graft.SparkEntry.eagerBuilt(q)
      val df = graft.SparkEntry.queries(q)(spark, sf)
      // warm (untimed, absorbs codegen) then measured run with a clean ledger
      df.write.format("noop").mode("overwrite").save()
      stages.synchronized(stages.clear())
      jobs.set(0)
      val t0 = System.nanoTime()
      val df2 = if (rebuild) graft.SparkEntry.queries(q)(spark, sf) else df
      df2.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // give the listener bus a moment to drain
      Thread.sleep(300)
      println(f"== $q  wall=$wall%.3f s  jobs=${jobs.get()}")
      stages.synchronized {
        stages.sortBy(-_.runMs).take(12).foreach { s =>
          println(f"   stage ${s.id}%4d tasks=${s.nTasks}%3d run=${s.runMs}%6d ms cpu=${s.cpuMs}%6d ms gc=${s.gcMs}%5d ms fetch=${s.fetchMs}%5d ms  ${s.name}")
        }
        val one = stages.filter(_.nTasks == 1).map(_.runMs).sum
        val all = stages.map(_.runMs).sum
        val tasks = stages.map(_.nTasks).sum
        println(f"   single-task run ms: $one / $all total; stages=${stages.size} tasks=$tasks")
      }
    }
    spark.stop()
  }
}
