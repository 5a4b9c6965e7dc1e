package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental connected-components stress (round 7, reshaped round 8):
  * does [[graft.streaming.ComponentsStream.applyBatch]]'s per-batch cost
  * stay O(batch + affected components) as the accumulated corpus grows?
  *
  * Stream shape: each batch lands M fresh nodes as length-4 chains
  * (M/4 new components) plus K bridge pairs extending K long-lived
  * components. Node ids are allocated DOWNWARD per batch, so each bridge
  * makes the extended component's PREVIOUS root (the prior batch's chain
  * head) lose to the fresh, smaller head — K genuine pre-existing-root
  * merges per batch. That exercises the one state the round-8 relabel
  * restriction still persists: the map gains K entries per batch and each
  * of its existing entries is repointed (depth-1 composition) — exactly
  * the compounding growth `autoCompactBytes` must bound. Run with
  * SPARK_GRAFT_CC_AUTOCOMPACT_BYTES > 0 to measure the auto-compacted
  * steady state vs the manual-cadence baseline (the round-7 ascending
  * shape only ever merged fresh roots INTO old ones, which after the
  * restriction leaves the relabel map empty and untests it).
  *
  * Per-batch work is constant by construction while the star log grows
  * linearly. A flat per-batch time across N batches is the O(batch), not
  * O(corpus), claim; the batch recompute over the union at the end is the
  * growing cost a stream consumer avoids. Results → STRESS.md
  * ("Incremental connected components").
  */
object CcStreamStress {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(graft.Sessions.cpus(32))

    val m = sys.env.getOrElse("SPARK_GRAFT_CC_BATCH_NODES", "200000").toLong
    val k = sys.env.getOrElse("SPARK_GRAFT_CC_BRIDGES", "1000").toLong
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "20").toInt
    val compactAt = sys.env.getOrElse("SPARK_GRAFT_CC_COMPACT_AT", "10").toInt
    val autoBytes = sys.env.getOrElse("SPARK_GRAFT_CC_AUTOCOMPACT_BYTES", "0").toLong

    val base = nBatches.toLong * m
    def batchPairs(i: Int): DataFrame = {
      val lo = base - (i + 1).toLong * m
      val chains = spark.range(lo, lo + m)
        .filter(pmod(col("id"), lit(4)) =!= 3)
        .select(col("id").as("a"), (col("id") + 1L).as("b"))
      if (i == 0) chains
      else chains.unionByName(
        // fresh chain head j (smaller id) ⟵ previous batch's chain head j:
        // the accumulated component's current root loses
        spark.range(0, k).select(
          (lit(lo) + col("id") * 4L).as("a"),
          (lit(lo + m) + col("id") * 4L).as("b")))
    }

    val tmp = java.nio.file.Files.createTempDirectory("graft-ccstream").toString
    def stateRows(name: String): Long = {
      val p = s"$tmp/$name"
      if (graft.functions.FsUtils.fs(spark, p).exists(new org.apache.hadoop.fs.Path(p)))
        spark.read.parquet(p).count()
      else 0L
    }

    println("batch,sec,merges,stars_rows,relabels_rows")
    for (i <- 0 until nBatches) {
      val t0 = System.nanoTime()
      val merges = graft.streaming.ComponentsStream.applyBatch(
        spark, batchPairs(i), "a", "b", i.toLong, tmp,
        autoCompactBytes = autoBytes)
      val t = (System.nanoTime() - t0) / 1e9
      println(f"$i,$t%.2f,$merges,${stateRows("stars")},${stateRows("relabels")}")
      if (autoBytes == 0 && i + 1 == compactAt) {
        val c0 = System.nanoTime()
        graft.streaming.ComponentsStream.compactState(spark, tmp)
        val tc = (System.nanoTime() - c0) / 1e9
        println(f"compact,$tc%.2f,0,${stateRows("stars")},${stateRows("relabels")}")
      }
    }

    // the cost a stream consumer avoids: full recompute over the union
    val all = (0 until nBatches).map(batchPairs).reduce(_ unionByName _)
    val t0 = System.nanoTime()
    val (cc, rounds) =
      graft.operators.Components.connectedComponentsWithRounds(all, "a", "b")
    cc.write.format("noop").mode("overwrite").save()
    val t = (System.nanoTime() - t0) / 1e9
    println(f"full-recompute,$t%.2f,rounds=$rounds,,")
    spark.stop()
  }
}
