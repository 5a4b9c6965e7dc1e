package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.CorpusOverlap

/** Micro-harness behind the BASELINE.md "serve-gate hash constant" row:
  * the overlap serving sketch measured with the portable md5-derived h60
  * base hash (what the GATE pays so DuckDB can hash-compare the estimate
  * directly) vs the xxhash64 production default (same plan, same
  * signature fold — only the per-gram base hash differs). min-of-3 each,
  * noop sink, warm session. */
object ServeHashBench {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.cpus(32))
    // vocab is a def ON PURPOSE: the registered serve query builds the
    // vocabulary inside the query, so both timed arms must pay the same
    // scan+distinct — the comparison isolates the base-hash constant, not
    // a cached-input best case. The count() below warms the session/JIT
    // only.
    def vocab = CorpusOverlap.sliceVocab(
      graft.Tables.documents(spark, dir), "text", "source")
    vocab.count()
    def timeIt(tag: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"MEASURE,$tag,min=${ts.min}%.2f,runs=${ts.map(t => f"$t%.2f").mkString("|")}")
    }
    timeIt("serve_md5_h60")(CorpusOverlap.sourceOverlapSketchServe(spark, dir, 128))
    timeIt("serve_xxhash64_prod")(
      CorpusOverlap.estimateFromSignatures(CorpusOverlap.sliceSignatures(vocab, 128), 128)
        .select(col("slice_a"), col("slice_b"), round(col("est"), 4).as("est"))
        .orderBy("slice_a", "slice_b"))
    spark.stop()
  }
}
