package graft.tools

import org.apache.spark.sql.functions._
import graft.functions.Hashing.h60

/** Stage-level decomposition of the `substring_dedup` sf1-equiv ratio
  * (round-14 adjudication, VERDICT r13 "what's wrong" #1): for each of
  * sf0.1 and the 10× amplified dir, measure
  *   (a) gram-stream volume (input side),
  *   (b) duplicated-hash count (the probe join's build side — decides
  *       broadcast vs shuffle join),
  *   (c) duplicated-OCCURRENCE count and summed span-start payload (the
  *       doc-side shuffle + report OUTPUT the query must materialize),
  *   (d) wall-clock of the count-aggregate alone vs the full query,
  * and print the physical join mode actually chosen. If (b) crosses the
  * broadcast threshold at 10× while (c) grows ≫10×, the superlinearity is
  * the amplified corpus's everything-duplicated output profile plus a
  * join-mode switch — the embedding_near_dup_lsh adjudication shape — and
  * not a defect of the exchange layout. */
object SubstringDecompose {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(graft.Sessions.cpus(32))
    val dirs = Seq("/root/testdata/sf0.1",
      sys.env.getOrElse("SPARK_GRAFT_AMP_DIR", "/tmp/sf1equiv"))
    for (dir <- dirs) {
      println(s"=== $dir ===")
      val docs = graft.Tables.documents(spark, dir)
      def timed[A](tag: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"$tag%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
      }
      val grams = graft.operators.SubstringDedup.gramStream(docs, "text", "doc_id", 5, h60)
      val nGrams = timed("gram stream count")(grams.count())
      val dup = grams.groupBy("gh").agg(count(lit(1)).as("c")).filter(col("c") > 1).select("gh")
      val nDup = timed("dup-hash count (agg pass)")(dup.count())
      val occ = grams.join(dup, Seq("gh"), "left_semi")
      val nOcc = timed("dup occurrences")(occ.count())
      val starts = occ.groupBy("doc_id")
        .agg(sort_array(collect_list(col("pos"))).as("starts"))
      timed("starts collect (warm 2nd)") {
        starts.write.format("noop").mode("overwrite").save()
        starts.write.format("noop").mode("overwrite").save() }
      val unsorted = graft.operators.SubstringDedup.repeatedSpans(
        graft.Tables.documents(spark, dir), "text", "doc_id", 5, h60)
      timed("full no-orderBy (warm 2nd)") {
        unsorted.write.format("noop").mode("overwrite").save()
        unsorted.write.format("noop").mode("overwrite").save() }
      val full = graft.operators.SubstringDedup.repeatedSpansGate(spark, dir)
      timed("full query (1st)")(full.write.format("noop").mode("overwrite").save())
      timed("full query (2nd)")(full.write.format("noop").mode("overwrite").save())
      val payload = timed("sum span starts")(
        full.agg(sum(col("n_dup_spans"))).collect()(0).getLong(0))
      println(s"grams=$nGrams dupHashes=$nDup dupOccurrences=$nOcc spanStarts=$payload")
      println(s"  dupHash build side ~ ${nDup * 8 / 1024 / 1024} MiB (vs 10 MiB broadcast line)")
      val plan = full.queryExecution.executedPlan.toString
      val joinLine = plan.linesIterator.filter(l =>
        l.contains("Join") || l.contains("Exchange")).mkString("\n")
      println(joinLine)
    }
    spark.stop()
  }
}
