package graft.tools

/** Warm-vs-cold adjudication probe for the `substring_dedup` sf1-equiv
  * ratio (round 11): run the gate query N times in ONE session at
  * SPARK_GRAFT_SF_DIR and print each rep — separates first-execution
  * JIT/codegen warmup from steady state (the `orders_rollup` protocol). */
object SubstringProbe {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf1equiv")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "5").toInt
    val spark = graft.Sessions.local(graft.Sessions.cpus(32))
    for (r <- 1 to reps) {
      val t0 = System.nanoTime()
      val df = graft.operators.SubstringDedup.repeatedSpansGate(spark, sf)
      df.write.format("noop").mode("overwrite").save()
      printf("rep %d: %.2f s%n", r, (System.nanoTime() - t0) / 1e9)
    }
    // hash-cost split: same query on xxhash64 (production hash)
    val t0 = System.nanoTime()
    graft.operators.SubstringDedup.repeatedSpans(
        graft.Tables.documents(spark, sf), "text", "doc_id", 5)
      .write.format("noop").mode("overwrite").save()
    printf("xxhash64 variant (warm): %.2f s%n", (System.nanoTime() - t0) / 1e9)
    spark.stop()
  }
}
