package graft.tools

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Micro-harness behind STRESS.md "Token-table lookup": the literal-map
  * token→ratio form (`coalesce(element_at(map(lit...), t), floor)`, whose
  * GetMapValue linearly scans all k keys per token) vs
  * [[org.apache.spark.sql.graft.TokenRatioLookup]] (driver-built hash
  * table, O(1) per token) at the BINDING capped-vocabulary production size
  * k = 10 000 — the gate corpus' ~31-token vocabulary never shows this
  * constant. Synthetic frame sized so both forms take measurable time;
  * equality of the two scored sums is asserted before timing is reported.
  */
object TokenLookupBench {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(graft.Sessions.cpus(32))
    import spark.implicits._

    val k = 10000          // capped-vocab production size (binding)
    val nDocs = 20000
    val docLen = 60
    val vocab = 50000      // tokens beyond the cap hit the floor path
    val floor = 1.0e-7

    // deterministic synthetic corpus: token ids hashed from (doc, pos)
    val docs = spark.range(nDocs.toLong)
      .select(col("id").as("doc_id"),
        concat_ws(" ", (0 until docLen).map(p =>
          concat(lit("tok"), pmod(xxhash64(col("id") * docLen + p), lit(vocab.toLong)))): _*)
          .as("text"))
      .localCheckpoint(true)

    val tokens = (0 until k).map(i => s"tok$i").toArray
    val ratios = tokens.indices.map(i => 1.0 / (i + 2)).toArray

    def score(lookup: Column => Column): Column =
      aggregate(transform(split(col("text"), " ", -1), lookup), lit(0.0), (a, x) => a + x)

    val mapForm: Column => Column = {
      val fm = map(tokens.indices.flatMap(i => Seq(lit(tokens(i)), lit(ratios(i)))): _*)
      t => coalesce(element_at(fm, t), lit(floor))
    }
    val hashForm: Column => Column = t =>
      org.apache.spark.sql.graft.ColumnBridge.column(
        org.apache.spark.sql.graft.TokenRatioLookup(
          org.apache.spark.sql.graft.ColumnBridge.expression(t), tokens, ratios, floor))

    def total(f: Column => Column): Double =
      docs.agg(sum(score(f))).head().getDouble(0)
    val (a, b) = (total(hashForm), total(mapForm)) // warm both + equality
    require(a == b, s"forms disagree: $a vs $b")

    def timeIt(tag: String)(f: Column => Column): Unit = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); total(f); (System.nanoTime() - t0) / 1e9
      }
      println(f"MEASURE,$tag,min=${ts.min}%.2f,runs=${ts.map(t => f"$t%.2f").mkString("|")}")
    }
    timeIt("literal_map_scan")(mapForm)
    timeIt("hash_lookup")(hashForm)
    spark.stop()
  }
}
