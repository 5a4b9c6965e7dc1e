package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source-format coverage beyond parquet: the engine's tables round-trip
  * through CSV and JSON line files with EXPLICIT schemas (schema-on-read
  * inference is forbidden for determinism — SURVEY.md §1.3), and filters
  * still push into the scans.
  */
class SourcesSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("n", LongType)))

  private def sample = Tables.documents(spark, Sf0001)
    .select(col("doc_id"), col("lang"), length(col("text")).cast("long").as("n"))

  test("csv round trip with explicit schema preserves rows and pushes filters") {
    val tmp = tempDir("graft-src")
    sample.write.option("header", "true").mode("overwrite").csv(s"$tmp/csv")
    val back = spark.read.schema(schema).option("header", "true").csv(s"$tmp/csv")
    assert(back.count() == sample.count())
    val filtered = back.filter(col("doc_id") < 10)
    assert(filtered.queryExecution.executedPlan.toString.contains("PushedFilters"))
    assert(filtered.count() == sample.filter(col("doc_id") < 10).count())
    // values identical, not just counts
    assert(back.exceptAll(sample).count() == 0)
  }

  test("json-lines round trip with explicit schema preserves rows") {
    val tmp = tempDir("graft-src")
    sample.write.mode("overwrite").json(s"$tmp/json")
    val back = spark.read.schema(schema).json(s"$tmp/json")
    assert(back.count() == sample.count())
    assert(back.exceptAll(sample).count() == 0)
  }
}
