package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins the engine's view of the REAL driver testdata files.
  *
  * Round 9's lesson: the driver regenerates `/root/testdata` between rounds,
  * and a physical-type change (events `ts`: TIMESTAMP(NANOS) → timestamp[us])
  * erred 8 gate queries while all 197 tests stayed green — because every
  * events/streaming spec built synthetic frames and nothing read the real
  * file through `Tables.events`. This suite closes that blind spot two ways:
  *
  *   1. an exact Spark-side schema assertion per table, so the NEXT testdata
  *      regeneration that shifts any physical type fails `sbt test` with a
  *      named column diff instead of silently losing gate queries;
  *   2. an end-to-end smoke run of registered `events_*` gate queries against
  *      the real file — the exact code path the driver's Verify executes.
  *
  * If a regeneration legitimately changes a type: update the expectation here
  * AND make the corresponding loader in `Tables` adapt (see `Tables.events`
  * for the pattern) so both generations keep working.
  */
class TablesSpec extends AnyFunSuite with SparkSuite {

  // Spark-side logical schema per raw scan (sf-independent; files at every
  // SF are written by the same generator). Timestamps without a UTC flag
  // read as TIMESTAMP_NTZ under Spark 4's parquet inference.
  private val expected: Map[String, Seq[(String, DataType)]] = Map(
    "region"   -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation"   -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
                      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
                      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
                      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
                      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part"     -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
                      "p_brand" -> StringType, "p_type" -> StringType,
                      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders"   -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
                      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
                      "o_orderdate" -> TimestampNTZType,
                      "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
                      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
                      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
                      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
                      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
                      "l_shipdate" -> TimestampNTZType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
                       "lang" -> StringType, "source" -> StringType,
                       "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
                        "embedding" -> ArrayType(FloatType, containsNull = true),
                        "label" -> IntegerType)
  )

  private val loaders: Map[String, (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame] = Map(
    "region" -> Tables.region _, "nation" -> Tables.nation _,
    "customer" -> Tables.customer _, "supplier" -> Tables.supplier _,
    "part" -> Tables.part _, "orders" -> Tables.orders _,
    "lineitem" -> Tables.lineitem _, "documents" -> Tables.documents _,
    "embeddings" -> Tables.embeddings _)

  for ((table, cols) <- expected.toSeq.sortBy(_._1))
    test(s"$table: real parquet reads with the pinned Spark-side schema") {
      val df = loaders(table)(spark, Sf0001)
      val actual = df.schema.fields.map(f => f.name -> f.dataType).toSeq
      assert(actual == cols,
        s"testdata regeneration drift on `$table` — adapt the loader in " +
        s"Tables (see Tables.events) and update this expectation")
      assert(df.count() > 0)
    }

  test("fanOut and keySorted reject an input that is not scan-only") {
    val docs = Tables.documents(spark, Sf0001)
    val grouped = docs.groupBy("source").count()
    for (helper <- Seq[org.apache.spark.sql.DataFrame => Any](
        Tables.fanOut(_), Tables.keySorted(_, "source"))) {
      val e = intercept[IllegalArgumentException](helper(grouped))
      assert(e.getMessage.contains("an aggregate"))
      // filters, projections and generators stay legal
      helper(docs.filter(col("doc_id") < 100).select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("w")))
    }
    for (bad <- Seq(docs.join(docs.select("doc_id"), "doc_id"), docs.repartition(3),
        docs.orderBy("doc_id")))
      intercept[IllegalArgumentException](Tables.fanOut(bad))
  }

  test("driver flagship entry() returns rows on the real sf0.001 data") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("events: RAW physical type of ts is pinned (the loader's branch input)") {
    // The normalized-schema test below can't see WHICH loader branch ran: a
    // regeneration shipping ts as epoch-micros BIGINT would take the
    // nanos-long branch (div 1000 → millisecond-scale values) and still
    // present TimestampType. Pinning the raw type makes any physical-type
    // regeneration a loud failure whose unit semantics a human must decide.
    val raw = spark.read.parquet(s"$Sf0001/events.parquet")
    assert(raw.schema("ts").dataType == TimestampNTZType,
      s"events.ts physical type drifted to ${raw.schema("ts").dataType} — " +
      "decide its unit semantics and update Tables.events AND this pin")
  }

  test("events: Tables.events normalizes ts to session-TZ TIMESTAMP on the real file") {
    val ev = Tables.events(spark, Sf0001)
    val actual = ev.schema.fields.map(f => f.name -> f.dataType).toSeq
    assert(actual == Seq(
      "event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      "Tables.events must present `ts TIMESTAMP` regardless of the file's " +
      "physical generation (nanos-long or native timestamp)")
    assert(ev.count() > 0)
  }

  // The gate path itself: ALL registered events_* queries run end-to-end on
  // the real file. Round 9's failure mode was an analysis-time exception in
  // exactly these queries that no spec executed.
  for (q <- Seq("events_user_totals", "events_dedup", "events_daily",
                "events_asof", "events_props_sum", "events_sliding",
                "events_sessions", "events_stream_join"))
    test(s"gate query $q runs on the real events.parquet and returns rows") {
      assert(SparkEntry.queries(q)(spark, Sf0001).count() > 0)
    }
}
