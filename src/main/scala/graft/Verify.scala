package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. The dump/oracle
  * machinery is shared with [[graft.tools.RunOne]] (the focused
  * subset-replay tool) so the two can never drift. */
object Verify {
  /** Dump `names` (or every registered query) to `outDir`; returns the
    * number of failed queries. */
  def dumpQueries(spark: SparkSession, sfDir: String, outDir: String,
                  names: Option[Set[String]] = None): Int = {
    new java.io.File(outDir).mkdirs()
    var failed = 0
    SparkEntry.queries
      .filter(kv => names.forall(_.contains(kv._1)))
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failed += 1
        }
      }
    failed
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Write oracle_sql.json for `names` (or everything). Called AFTER the
    * queries have run — stateful oracles (gate-recorded literals) depend
    * on that ordering; `sfDir` pins them to the dir actually being dumped
    * (see [[OracleDir]]) so a session that gated several dirs can't emit
    * a wrong-dir oracle. */
  def writeOracles(outDir: String, names: Option[Set[String]] = None,
                   sfDir: Option[String] = None): Unit = {
    sfDir.foreach(OracleDir.set)
    // clear the pin once the map is materialized (ADVICE r14): a later
    // ad-hoc stateful-oracle read in the same JVM must fall back to ITS
    // last gate run, not this dump's dir
    val json =
      try SparkEntry.oracleSql
        .filter(kv => names.forall(_.contains(kv._1)))
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      finally OracleDir.set(null)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local(Sessions.cpus(4))
    val failed = dumpQueries(spark, sfDir, outDir)
    writeOracles(outDir, sfDir = Some(sfDir))
    spark.stop()
    // loud summary rather than a nonzero exit (ADVICE r13): the driver
    // compares per-query dumps regardless, and a partial dump is strictly
    // more gate signal than an aborted run — but the count must be visible
    if (failed > 0)
      System.err.println(s"[verify] WARNING: $failed of ${SparkEntry.queries.size} queries FAILED to dump")
    else
      System.err.println(s"[verify] all ${SparkEntry.queries.size} queries dumped OK")
  }
}
