package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scratch A/B probe — rewritten per investigation (the Probe/ProbePerf
  * pattern). Current: is the 128-min MinHash fold ([[graft.operators
  * .CorpusOverlap.sliceSignatures]]) inside whole-stage codegen, and what
  * does each piece cost at 8× corpus amplification? Suspect: 128 aggregate
  * buffer updates exceed the codegen method limits and the hot aggregate
  * runs interpreted (ScaleBench: the serve fold is ~73 s at 64× regardless
  * of parallelism — CPU far above what the arithmetic justifies).
  */
object ProbeAB {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(graft.Sessions.cpus(32))
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def run(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def time(name: String, reps: Int = 3)(mk: => DataFrame): Unit = {
      run(mk)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); run(mk); (System.nanoTime() - t0) / 1e9
      }
      println(f"[ab] $name%-34s min=${times.min}%.3f  all=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.range(1000).selectExpr("sum(id)").collect()

    import graft.operators.CorpusOverlap
    val docs = graft.Tables.documents(spark, sf)
    // 8x amplification inline (values repeat, ids re-keyed)
    val k = 8
    val amp = docs.select(col("*"), explode(sequence(lit(0L), lit(k - 1L))).as("rep"))
      .select((col("doc_id") * k + col("rep")).as("doc_id"),
        col("text"), col("source"))
    val grams = CorpusOverlap.sliceGrams(graft.Tables.fanOut(amp), "text", "source")

    time("grams(explode only)") { grams }
    time("grams+h60") {
      grams.withColumn("h", pmod(graft.functions.Hashing.h60(col("g")), lit(1L << 32)))
        .select("slice", "h")
    }
    time("fold128(codegen default)") {
      CorpusOverlap.sliceSignatures(grams, 128, graft.functions.Hashing.h60)
    }
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    time("fold128(wholeStage OFF)") {
      CorpusOverlap.sliceSignatures(grams, 128, graft.functions.Hashing.h60)
    }
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    time("fold32") {
      CorpusOverlap.sliceSignatures(grams, 32, graft.functions.Hashing.h60)
    }
    spark.stop()
  }
}
