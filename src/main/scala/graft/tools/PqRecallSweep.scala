package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Pq, Similarity}

/** PQ recall curve at volume (round 11): recall@10 of the PQ tier vs
  * (poolMult, scorer) across corpus amplification factors, against the
  * exact-IVF answer at the same nprobe (isolates PQ quantization loss from
  * coarse-quantizer loss, which the exact tier pays identically). The
  * corpus is the IndexedAnnStress amplifier — replicas re-labeled AND
  * nudged 0.01·rep so each replica set is a genuine new cluster, the
  * honest hard case for PQ: near-identical vectors that quantize to the
  * same codes are indistinguishable to the raw ranking and must be
  * recovered by the exact rerank's pool.
  *
  * Also times the pool stage per scorer (decode-then-cosine vs LUT-ADC) at
  * each factor — the compute-bound comparison the ADC variant exists for.
  * Results → STRESS.md ("PQ recall curve").
  */
object PqRecallSweep {

  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.cpus(32))

    def corpus(k: Int): DataFrame =
      graft.Tables.embeddings(spark, sf)
        .select(col("*"), explode(sequence(lit(0L), lit(k - 1L))).as("rep"))
        .withColumn("vec_id", col("vec_id") * k + col("rep"))
        .withColumn("label", col("label") + lit(10) * col("rep").cast("int"))
        .withColumn("embedding",
          transform(col("embedding"), x => x + col("rep").cast("float") * lit(0.01f)))
        .drop("rep")

    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "1,8,64")
      .split(",").map(_.trim.toInt).toSeq
    val nprobe = sys.env.getOrElse("SPARK_GRAFT_PQ_NPROBE", "4").toInt
    val poolMults = sys.env.getOrElse("SPARK_GRAFT_PQ_POOLMULTS", "2,4,10,40")
      .split(",").map(_.trim.toInt).toSeq

    println("factor,vectors,clusters,train_books_sec,poolmult,scorer,recall10_rerank,recall10_raw,pool_sec_min2")
    for (k <- factors) {
      val c = corpus(k).localCheckpoint(true)
      val nVec = c.count()
      val cents = Similarity.centroidSeq(c)
      val t0 = System.nanoTime()
      val cb = Pq.trainCodebooks(c)
      val tBooks = (System.nanoTime() - t0) / 1e9
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-pqsweep$k").toString
      Pq.buildIndexPq(c, cents, cb, s"$tmp/pq")
      Similarity.buildIndex(c, cents, s"$tmp/exact")
      val probeIds = (1L to 10L).map(_ * k)
      val probePairs = c.filter(col("vec_id").isin(probeIds: _*))
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
      def topSets(df: DataFrame): Map[Long, Set[Long]] = df.collect()
        .groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
      val truth = topSets(Similarity.ivfTopKIndexedVectors(
        spark, s"$tmp/exact", cents, probePairs, k = 10, nprobe = nprobe))
      def recallOf(got: Map[Long, Set[Long]]): Double = {
        val rs = truth.map { case (id, ids) =>
          got.get(id).map(g => (g & ids).size.toDouble / ids.size).getOrElse(0.0) }
        rs.sum / math.max(1, rs.size)
      }
      for (pm <- poolMults; adc <- Seq(false, true)) {
        def pool() =
          if (adc) Pq.ivfTopKPqRawAdc(spark, s"$tmp/pq", cents, cb, probePairs, 10 * pm, nprobe)
          else Pq.ivfTopKPqRaw(spark, s"$tmp/pq", cents, cb, probePairs, 10 * pm, nprobe)
        def timeIt(): Double = {
          val t = System.nanoTime()
          pool().write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t) / 1e9
        }
        timeIt() // warm
        val tPool = math.min(timeIt(), timeIt())
        val rerank = topSets(Pq.ivfTopKPqRerank(spark, s"$tmp/pq", s"$tmp/exact",
          cents, cb, probePairs, k = 10, nprobe = nprobe, poolMult = pm, adc = adc))
        val raw = topSets(pool().withColumn(
          "rn", row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("query_id").orderBy(col("psim").desc, col("cand_id"))))
          .filter(col("rn") <= 10).select("query_id", "cand_id", "psim"))
        println(f"$k,$nVec,${cents.size},$tBooks%.1f,$pm,${if (adc) "adc" else "decode"},${recallOf(rerank)}%.3f,${recallOf(raw)}%.3f,$tPool%.2f")
      }
    }
    spark.stop()
  }
}
