package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Fuzzy, TextAnalysis}
import graft.streaming.LexStatsStream

/** Fuzzy term lookup: deletion-neighborhood candidates + exact Levenshtein
  * verify, hand-checked against the fixture vocabulary, plus the
  * composition into indexed BM25 (correct the misspelling, then serve). */
class FuzzySpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def docs = Tables.documents(spark, Sf0001)

  private lazy val state: String = {
    val s = tempDir("fuzzy")
    LexStatsStream.applyBatch(spark, docs, 0L, s)
    s
  }

  private def vocab = LexStatsStream.currentStats(spark, state)
    .filter($"term" =!= TextAnalysis.LexCorpusRow && $"df" > 0)
    .select("term", "df")

  test("hand-checked resolutions: deletion, substitution, insertion, exact; " +
       "transposition candidate REJECTED by the verify") {
    val out = Fuzzy.termLookup(vocab, Fuzzy.GateQueryTerms)
      .select("query_term", "term", "dist")
      .as[(String, String, Long)].collect().toSeq
    val byQ = out.groupBy(_._1)
    assert(byQ("dupp").map(r => (r._2, r._3)) == Seq(("dup", 1L)))
    assert(byQ("joln").map(r => (r._2, r._3)) == Seq(("join", 1L)))
    assert(byQ("qury").map(r => (r._2, r._3)) == Seq(("query", 1L)))
    assert(byQ("vectr").map(r => (r._2, r._3)) == Seq(("vector", 1L)))
    assert(byQ("sort").map(r => (r._2, r._3)) == Seq(("sort", 0L)))
    // the transposition: a deletion-neighborhood CANDIDATE (scna/scan share
    // 'sca' and 'scn'), but classic Levenshtein = 2 — the verify must drop it
    assert(!byQ.contains("scna"))
  }

  test("the transposition IS generated as a candidate (both stages load-bearing)") {
    val relaxed = Fuzzy.termLookup(vocab, Seq("scna"), maxEd = 2)
      .select("term", "dist").as[(String, Long)].collect().toMap
    assert(relaxed.get("scan").contains(2L),
      s"deletion neighborhood must surface scan as a candidate; got $relaxed")
  }

  test("ranking: distance before df, df desc within distance") {
    // synthetic vocab where one query hits an exact term AND an ED-1 term,
    // plus two ED-1 terms with different df
    val v = Seq(("cat", 5L), ("cart", 50L), ("cut", 9L)).toDF("term", "df")
    val out = Fuzzy.termLookup(v, Seq("cat"))
      .select("term", "dist", "df").as[(String, Long, Long)].collect().toSeq
    assert(out == Seq(("cat", 0L, 5L), ("cart", 1L, 50L), ("cut", 1L, 9L)))
  }

  test("composition: corrected misspellings feed indexed BM25 and reproduce " +
       "the clean-query ranking") {
    val misspelled = Seq("dupp", "vectr", "qury") // → Bm25Terms
    val corrected = Fuzzy.termLookup(vocab, misspelled)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_term")
          .orderBy(col("dist"), col("df").desc, col("term"))))
      .filter($"rn" === 1)
      .select("query_term", "term").as[(String, String)].collect().toMap
    assert(misspelled.map(corrected) == TextAnalysis.Bm25Terms)
    val served = LexStatsStream.bm25TopkIndexed(spark, state,
        terms = misspelled.map(corrected))
      .as[(Long, Double)].collect().toSeq
    val clean = LexStatsStream.bm25TopkIndexed(spark, state)
      .as[(Long, Double)].collect().toSeq
    assert(served == clean && served.nonEmpty)
  }
}
