package graft.tools

/** Focused gate iteration: run a SUBSET of SparkEntry queries and dump them
  * plus their oracle SQL through the SAME [[graft.Verify]] machinery the
  * driver gate uses, so `tools/check.py <sfDir> <outDir>` replays the gate
  * for just the queries under development.
  *
  * Usage: RunOne <sfDir> <outDir> <queryName> [<queryName> ...]
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSet
    val unknown = names -- graft.SparkEntry.queries.keySet
    unknown.foreach(n => System.err.println(s"[runone] no such query: $n"))
    val spark = graft.Sessions.local(graft.Sessions.cpus(4))
    val failed = graft.Verify.dumpQueries(spark, sfDir, outDir, Some(names))
    graft.Verify.writeOracles(outDir, Some(names), Some(sfDir))
    spark.stop()
    if (failed > 0 || unknown.nonEmpty) sys.exit(1)
  }
}
