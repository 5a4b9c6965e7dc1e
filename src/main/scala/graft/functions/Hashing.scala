package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hash functions for the dedup / fingerprint operators.
  *
  * Two tiers:
  *  - `xxhash64` (Spark built-in, codegen, fastest) — the production
  *    default for every shingle/token hash in [[graft.operators.Dedup]].
  *  - [[h60]] — a PORTABLE 60-bit hash (first 15 hex chars of md5) that is
  *    bit-identical in Spark and DuckDB, so pipelines built on it get an
  *    exact DuckDB oracle in the driver's correctness gate. md5 is ~3×
  *    slower per call than xxhash64 but identical in distribution quality;
  *    the operator logic (signatures, banding, bucket election, verify) is
  *    hash-agnostic, so the gate run on h60 verifies the same plan shapes
  *    the xxhash64 production path executes (their equivalence per hash
  *    input is pinned in CatalystExpressionSpec).
  */
object Hashing {

  /** Portable 60-bit hash of any Spark-hashable column: the first 15 hex
    * chars of the md5 digest as a long (60 bits — always inside BIGINT on
    * both engines). DuckDB mirror: [[h60Sql]]. Computed by the codegen
    * [[org.apache.spark.sql.graft.Md5Prefix60]] expression straight from
    * digest bytes; [[h60Reference]] keeps the hex-string formulation for
    * the equivalence spec.
    */
  def h60(c: Column): Column = {
    import org.apache.spark.sql.graft.{ColumnBridge, Md5Prefix60}
    ColumnBridge.column(Md5Prefix60(ColumnBridge.expression(c.cast("binary"))))
  }

  /** Reference hex-string formulation of [[h60]] (spec-pinned equivalent). */
  def h60Reference(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** DuckDB SQL mirror of [[h60]] for an arbitrary SQL expression. */
  def h60Sql(e: String): String =
    s"('0x' || SUBSTR(MD5($e), 1, 15))::BIGINT"

  /** Which known hash a `Column => Column` shingle hash is — decided
    * STRUCTURALLY by applying it to a probe column and matching the
    * expression tree (function values can't be compared by reference:
    * every `hashFn = h60` eta-expansion is a fresh lambda). Drives the
    * codegen [[org.apache.spark.sql.graft.HashStringArray]] fast path in
    * the per-element hash maps; an unknown hash falls back to the HOF
    * formulation unchanged (round 21 opt). */
  private[graft] def kindOf(hashFn: Column => Column): Option[String] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, XxHash64}
    import org.apache.spark.sql.types.BinaryType
    import org.apache.spark.sql.graft.{ColumnBridge, Md5Prefix60}
    // the kernels hash the raw element, so the hash must take the probe
    // itself as its argument: a pre-transformed argument (h60(lower(s)))
    // or an ignored one is unknown and keeps the HOF
    def isProbe(e: Expression): Boolean = e match {
      case a: UnresolvedAttribute => a.nameParts == Seq("__hash_probe__")
      case _ => false
    }
    ColumnBridge.resolvedExpression(hashFn(col("__hash_probe__"))) match {
      case Md5Prefix60(c: Cast) if c.dataType == BinaryType && isProbe(c.child) =>
        Some("h60")
      // API-built `xxhash64(c)` is an UnresolvedFunction pre-analysis; it
      // resolves to XxHash64 with the default seed 42
      case f: UnresolvedFunction
          if f.nameParts == Seq("xxhash64") && f.arguments.size == 1 &&
            isProbe(f.arguments.head) && !f.isDistinct => Some("xx64")
      case x: XxHash64 if x.children.size == 1 && isProbe(x.children.head) &&
          x.seed == 42L => Some("xx64")
      case _ => None
    }
  }

  /** `transform(arr, s => pmod(hashFn(s), mod))` (mod > 0) or
    * `transform(arr, hashFn)` (mod == 0) — through the codegen
    * [[org.apache.spark.sql.graft.HashStringArray]] kernel when the hash
    * is one of the two known algorithms (bit-identical, spec-pinned), the
    * interpreted HOF otherwise. Every MinHash/SimHash/winnowing shingle
    * map previously paid an interpreted per-element lambda here. */
  private[graft] def hashMapped(arr: Column, hashFn: Column => Column,
                                mod: Long): Column =
    kindOf(hashFn) match {
      case Some(kind) =>
        import org.apache.spark.sql.graft.{ColumnBridge, HashStringArray}
        ColumnBridge.column(
          HashStringArray(ColumnBridge.expression(arr), kind, mod))
      case None =>
        if (mod > 0) transform(arr, s => pmod(hashFn(s), lit(mod)))
        else transform(arr, s => hashFn(s))
    }
}
