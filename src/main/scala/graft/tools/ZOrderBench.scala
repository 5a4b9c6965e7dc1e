package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.Layout

/** Z-order pruning sweep: how the fraction of files a stats-pruning
  * reader must open for a 10% range band shrinks with file count, z-order
  * vs single-column-sorted baseline. The box/hit computation is the same
  * per-file footer-stats geometry LayoutSpec pins; this measures the
  * ASYMPTOTIC claim (the win grows with file count: each extra z bit
  * halves one dimension's span per file). Results → STRESS.md.
  */
object ZOrderBench {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.cpus(32))

    val orders = graft.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") * 100).cast("long").as("price_c"))
      .localCheckpoint(true)
    val s = orders.agg(
      min("o_custkey"), max("o_custkey"), min("price_c"), max("price_c")).head()
    val (cLo, cHi, pLo, pHi) =
      (s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3))

    def boxes(dir: String): Seq[(Long, Long, Long, Long)] =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).toSeq
        .map { f =>
          val r = spark.read.parquet(f.getAbsolutePath)
            .agg(min("o_custkey"), max("o_custkey"), min("price_c"), max("price_c")).head()
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        }

    println("nFiles,layout,price_band_hit_frac,custkey_band_hit_frac")
    for (nFiles <- Seq(16, 64, 256)) {
      val tmp = java.nio.file.Files.createTempDirectory(s"zob-$nFiles").toString
      Layout.writeZOrdered(orders, "o_custkey", "price_c", s"$tmp/z", nFiles)
      orders.repartitionByRange(nFiles, col("o_custkey"))
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite").parquet(s"$tmp/lin")
      // 10% bands centered mid-range on each dimension
      val (pbLo, pbHi) = (pLo + (pHi - pLo) * 45 / 100, pLo + (pHi - pLo) * 55 / 100)
      val (cbLo, cbHi) = (cLo + (cHi - cLo) * 45 / 100, cLo + (cHi - cLo) * 55 / 100)
      for ((name, dir) <- Seq("zorder" -> s"$tmp/z", "linear" -> s"$tmp/lin")) {
        val bs = boxes(dir)
        val pHits = bs.count { case (_, _, lo, hi) => hi >= pbLo && lo <= pbHi }
        val cHits = bs.count { case (lo, hi, _, _) => hi >= cbLo && lo <= cbHi }
        println(f"$nFiles,$name,${pHits.toDouble / bs.size}%.3f,${cHits.toDouble / bs.size}%.3f")
      }
    }
    spark.stop()
  }
}
