package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materialize an sf1-equivalent testdata directory (round-7 item 6): the
  * driver ships sf0.001/0.01/0.1 only, so the full-gate bench at 10× comes
  * from amplifying sf0.1 on disk — every table union-replicated with
  * JOIN-CONSISTENTLY re-keyed ids (k·id + rep on every key that any gate
  * query joins or groups on), so fact↔dim joins land exactly as they do at
  * a generated sf1: lineitem⋈orders on the order key, orders⋈customer on
  * the cust key, chunk/embedding/doc ids, event ids. Values repeat (the
  * dup-heavy worst case for the dedup family — same convention as
  * ScaleBench). Usage:
  *   SPARK_GRAFT_AMP=10 SPARK_GRAFT_AMP_OUT=/tmp/sf1equiv \
  *     sbt "runMain graft.tools.AmplifyTestdata"
  */
object AmplifyTestdata {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_AMP_OUT", "/tmp/sf1equiv")
    val k = sys.env.getOrElse("SPARK_GRAFT_AMP", "10").toInt
    val spark = graft.Sessions.local(graft.Sessions.cpus(32))

    def amp(df: DataFrame, keys: Seq[String]): DataFrame = {
      val rep = df.select(col("*"), explode(sequence(lit(0L), lit(k - 1L))).as("rep"))
      keys.foldLeft(rep)((d, c) => d.withColumn(c, col(c) * k + col("rep")))
        .drop("rep")
    }

    // key sets = every column a gate query joins, groups uniquely, or
    // looks up by; non-keyed dims (region, nation) stay at base size
    val plans: Seq[(String, DataFrame)] = Seq(
      "region" -> spark.read.parquet(s"$sf/region.parquet"),
      "nation" -> spark.read.parquet(s"$sf/nation.parquet"),
      "customer" -> amp(spark.read.parquet(s"$sf/customer.parquet"), Seq("c_custkey")),
      "supplier" -> amp(spark.read.parquet(s"$sf/supplier.parquet"), Seq("s_suppkey")),
      "part" -> amp(spark.read.parquet(s"$sf/part.parquet"), Seq("p_partkey")),
      "orders" -> amp(spark.read.parquet(s"$sf/orders.parquet"),
        Seq("o_orderkey", "o_custkey")),
      "lineitem" -> amp(spark.read.parquet(s"$sf/lineitem.parquet"),
        Seq("l_orderkey", "l_partkey", "l_suppkey")),
      "events" -> amp(spark.read.parquet(s"$sf/events.parquet"),
        Seq("event_id", "user_id")),
      "documents" -> amp(spark.read.parquet(s"$sf/documents.parquet"), Seq("doc_id")),
      "embeddings" -> amp(spark.read.parquet(s"$sf/embeddings.parquet"), Seq("vec_id")))
    plans.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"$name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }
    spark.stop()
  }
}
