package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.{Pq, Similarity}

/** Scratch probe: PQ pool containment of the exact IVF top-3 at gate
  * settings, per SF and poolMult — picks the gate parameters. */
object PqProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(graft.Sessions.cpus(32))
    import spark.implicits._
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      val e = graft.Tables.embeddings(spark, dir)
      val cents = Similarity.trainedCentroids(e, dir)
      val cb = Pq.trainedCodebooks(e, dir)
      val pq = s"/tmp/pqprobe/$sf/pq"; val ex = s"/tmp/pqprobe/$sf/ex"
      Pq.buildIndexPq(e, cents, cb, pq)
      Similarity.buildIndex(e, cents, ex)
      val probeIds = Seq(0L, 1L, 2L, 3L, 4L)
      val probes = e.filter(col("vec_id").isin(probeIds: _*))
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
      val exact = Similarity.ivfTopK(e, cents, probeIds, k = 3, nprobe = 3)
        .select("query_id", "cand_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      for (pm <- Seq(4, 10, 20, 40, 80)) {
        val pool = Pq.ivfTopKPqRaw(spark, pq, cents, cb, probes, k = 3 * pm, nprobe = 3)
          .select("query_id", "cand_id").as[(Long, Long)].collect()
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val contained = probeIds.count(q => exact(q).subsetOf(pool.getOrElse(q, Set())))
        println(s"$sf pm=$pm contained=$contained/5")
      }
      // residual (IVFADC) tier: same sweep — the tighter quantization
      // should contain at smaller poolMult
      val (anchors, rcb) = Pq.trainedResidualModel(e, cents, dir)
      val pqr = s"/tmp/pqprobe/$sf/pqr"
      Pq.buildIndexPqResidual(e, cents, anchors, rcb, pqr)
      for (pm <- Seq(4, 10, 20, 40, 80)) {
        val pool = Pq.ivfTopKPqResidualRaw(spark, pqr, cents, anchors, rcb,
            probes, k = 3 * pm, nprobe = 3)
          .select("query_id", "cand_id").as[(Long, Long)].collect()
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val contained = probeIds.count(q => exact(q).subsetOf(pool.getOrElse(q, Set())))
        println(s"$sf RESIDUAL pm=$pm contained=$contained/5")
      }
    }
    spark.stop()
  }
}
