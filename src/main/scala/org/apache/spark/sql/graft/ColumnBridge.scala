package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Classic-mode bridge between the public `Column` API and Catalyst
  * `Expression`s. Spark 4 moved Column onto the ColumnNode abstraction and
  * made the converters `private[sql]`, so first-party extension libraries
  * (this one, like Delta/Sedona before it) host a tiny adapter inside the
  * `org.apache.spark.sql` namespace instead of reimplementing the
  * conversion.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** [[expression]] with the ColumnNode CONVERTED to its Catalyst form —
    * API-built columns (`lit(...)`, `xxhash64(...)`) come back from
    * [[expression]] as a lazy `ColumnNodeExpression` wrapper, which defeats
    * structural pattern matches (the round-21 kernel-dispatch helpers
    * match on `Literal`/`XxHash64`/`Md5Prefix60` trees). Conversion-only —
    * no resolution against a plan, so unresolved attribute references pass
    * through untouched. */
  def resolvedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)
}

/** Access to the RDD cached by `Dataset.localCheckpoint` — the analyzed
  * plan of a checkpointed Dataset is a `LogicalRDD` over the persisted
  * blocks. Iterative operators need this to UNPERSIST a superseded round's
  * blocks (`Dataset` exposes persist/unpersist only for `cache()`-style
  * plans): without it, a k-round iteration accumulates k full working-set
  * copies in the block manager and a 64M-edge connected-components run
  * OOMs around round 13 (PLANS.md "CC constant", round-7 addendum).
  */
object DatasetInternals {
  def checkpointedRdd(df: org.apache.spark.sql.DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }
}

/** The graft expressions as SQL functions: ONE table, read both by
  * [[register]] (runtime registration on a live session) and by
  * `graft.GraftExtensions` (the `spark.sql.extensions` hook, which only
  * applies at session construction — `getOrCreate` on a live session
  * ignores it).
  */
object GraftSqlFunctions {
  private def litInt(e: Expression): Int = e.eval().asInstanceOf[Number].intValue
  private def litDouble(e: Expression): Double = e.eval().asInstanceOf[Number].doubleValue

  /** name → builder over the argument expressions; scalar config
    * parameters (window size / thresholds) must be literals. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (a => DotProduct(a(0), a(1))),
    "graft_simhash64" -> (a => SimHash64(a.head)),
    "graft_minhash_sig" -> (a => MinHashSig(a(0), a(1), a(2))),
    "graft_winnowing_mins" -> (a => WinnowingMins(a(0), litInt(a(1)))),
    "graft_cosine_pairs" -> (a => CosinePairs(a(0), litDouble(a(1)))),
    "graft_jaccard_pairs" -> (a => JaccardPairs(a(0), litDouble(a(1)))),
    "graft_cosine_pairs_bounded" -> (a => CosinePairsBounded(a(0), a(1), litDouble(a(2)))),
    "graft_jaccard_pairs_bounded" -> (a => JaccardPairsBounded(a(0), a(1), litDouble(a(2)))),
    "graft_hamming_pairs_bounded" -> (a => HammingPairsBounded(a(0), a(1), litInt(a(2)))),
    "graft_md5_prefix60" -> (a => Md5Prefix60(a.head)),
    "graft_word_shingles" -> (a => WordShingles(a(0), litInt(a(1)))),
    "graft_bloom_might_contain" -> (a => BloomMightContain(a(0), a(1), litInt(a(2)))))

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, build) =>
      reg.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}
