package graft

import org.apache.spark.sql.SparkSession

/** The one local session recipe shared by Bench, Verify, the specs and the
  * tools, so their day bucketing, parquet reading and parallelism agree. */
object Sessions {

  /** `SPARK_GRAFT_CPUS` if set, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  /** `local[cpus]` with `cpus` shuffle partitions, UTC session time (day
    * bucketing is TZ-dependent and the DuckDB oracle runs in UTC), no UI,
    * log level WARN. `getOrCreate`: a live session is returned as is. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // backward-compat for nanos-generation events.parquet; harmless when
      // the file carries a native timestamp (Tables.events is schema-adaptive)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
