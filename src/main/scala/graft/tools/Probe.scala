package graft.tools

/** Scratch probe main — rewritten per investigation. Current: round-14
  * close-out plan audit — print the executed-plan operator skeleton of
  * each new gate query (evidence for the PLANS.md plan-audit section). */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(graft.Sessions.cpus(32))
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = sys.env.getOrElse("SPARK_GRAFT_PROBE_QUERIES", "doc_pagerank").split(",").toSeq
    for (n <- names) {
      val df = graft.SparkEntry.queries(n)(spark, sf)
      df.write.format("noop").mode("overwrite").save()
      val skel = df.queryExecution.executedPlan.toString.linesIterator
        .map(_.replaceAll("^[+\\-:\\s*]*", ""))
        .map(_.takeWhile(c => c != '(' && c != '[').trim)
        .filter(l => l.nonEmpty)
        .toSeq
      // operator histogram: enough to see exchanges/sorts/aggregates
      val interesting = skel.filter(op => Seq("Exchange", "Sort", "Aggregate",
        "Window", "Expand", "Join", "Scan", "TakeOrdered", "Generate",
        "BroadcastNestedLoop", "Cartesian").exists(op.contains))
      println(s"== $n")
      interesting.groupBy(identity).toSeq.sortBy(_._1)
        .foreach { case (op, xs) => println(f"   ${xs.size}%2d x $op") }
    }
    spark.stop()
  }
}
