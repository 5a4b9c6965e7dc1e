package graft.tools

/** Dump `.explain("formatted")` for every registered query (or the
  * comma-separated list in SPARK_GRAFT_PROBE_QUERIES) to one file per query
  * under SPARK_GRAFT_PLAN_DIR — the optimization round's before/after plan
  * evidence (guide §1: capture the plan shape — Exchange count, join
  * strategy, PushedFilters/ReadSchema — before and after every change).
  *
  * Planning only (no noop execution), so a full 196-query dump is cheap;
  * eager-built queries still pay their construction-time jobs, which is
  * inherent to constructing their DataFrame at all.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(graft.Sessions.cpus(32))
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outDir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "/tmp/plans"))
    java.nio.file.Files.createDirectories(outDir)
    // match Bench: IVF queries plan against the session-trained quantizer
    graft.operators.Similarity.trainedCentroids(graft.Tables.embeddings(spark, sf), sf)
    val names = sys.env.get("SPARK_GRAFT_PROBE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(graft.SparkEntry.queries.keys.toSeq)
    for (n <- names) {
      try {
        val df = graft.SparkEntry.queries(n)(spark, sf)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(outDir.resolve(s"$n.txt"), txt)
        println(s"[plandump] $n OK")
      } catch {
        case e: Throwable => println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
