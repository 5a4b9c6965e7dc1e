package graft.tools

import org.apache.spark.sql.functions._

/** Streaming-state stress (round 6): does incremental curation's per-batch
  * cost stay O(batch + touched state) as the accumulated state grows, and
  * what does compaction buy? Feeds `CurationStream.curateBatch` an
  * 8×-amplified sf0.1 corpus in equal batches, timing each fold and
  * reporting state row counts; then compacts and times one more batch.
  * Results → STRESS.md ("streaming curation" section).
  */
object StreamStress {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.cpus(32))

    val amp = sys.env.getOrElse("SPARK_GRAFT_STREAM_AMP", "8").toInt
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "6").toInt
    // round 7: >0 turns on the inline retention policy — band-log byte
    // size crossing the threshold triggers compactState inside the fold
    val autoCompact = sys.env.getOrElse("SPARK_GRAFT_STREAM_AUTOCOMPACT_KB", "0").toLong << 10
    // replicas get a per-rep suffix TOKEN: exact-distinct (every doc grows
    // the hash state) but near-duplicate (the band log still gets collisions
    // to elect over) — plain exact copies would fold to nothing after the
    // first batch and stress neither state table
    val docs = graft.Tables.documents(spark, sf)
      .select(col("*"), explode(sequence(lit(0L), lit(amp - 1L))).as("rep"))
      .withColumn("doc_id", col("doc_id") * amp + col("rep"))
      .withColumn("text", concat(col("text"), lit(" r"), col("rep")))
      .drop("rep")
    val tmp = java.nio.file.Files.createTempDirectory("graft-streamstress").toString
    val state = s"$tmp/state"
    val out = s"$tmp/out"

    def stateFiles(name: String): Int = {
      val path = s"$state/$name"
      val fs = graft.functions.FsUtils.fs(spark, path)
      val hp = new org.apache.hadoop.fs.Path(path)
      if (!fs.exists(hp)) 0
      else {
        val it = fs.listFiles(hp, true); var n = 0
        while (it.hasNext) { if (!it.next().getPath.getName.startsWith("_")) n += 1 }
        n
      }
    }
    def stateRows(name: String): Long = {
      val p = s"$state/$name"
      if (graft.functions.FsUtils.fs(spark, p).exists(new org.apache.hadoop.fs.Path(p)))
        spark.read.parquet(p).count()
      else 0L
    }
    def fold(id: Long, df: org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      graft.streaming.CurationStream.curateBatch(spark, df, state, id, Some(out),
        autoCompactBytes = autoCompact)
      (System.nanoTime() - t0) / 1e9
    }

    println("batch,sec,hashes_rows,buckets_rows,buckets_files")
    val batches = (0 until nBatches).map(i => docs.filter(pmod(col("doc_id"), lit(nBatches)) === i))
    batches.zipWithIndex.foreach { case (b, i) =>
      val t = fold(i.toLong, b)
      println(f"$i,$t%.2f,${stateRows("hashes")},${stateRows("buckets")},${stateFiles("buckets")}")
    }
    // maintenance pass, then one more batch against compacted state
    val t0 = System.nanoTime()
    graft.streaming.CurationStream.compactState(spark, state)
    val tc = (System.nanoTime() - t0) / 1e9
    val extra = docs.withColumn("doc_id", col("doc_id") + 10000000L)
      .filter(pmod(col("doc_id"), lit(nBatches)) === 0)
    val tPost = fold(nBatches.toLong, extra)
    println(f"compact,$tc%.2f,${stateRows("hashes")},${stateRows("buckets")}")
    println(f"post-compact-batch,$tPost%.2f,${stateRows("hashes")},${stateRows("buckets")}")
    spark.stop()
  }
}
