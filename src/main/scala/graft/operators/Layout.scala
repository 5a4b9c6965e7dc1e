package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage layout + skew tooling — the 100 TB posture the reference
  * delegated to PostgreSQL B-trees (`migrations/init.sql:16,31-32`;
  * SURVEY.md §4).
  *
  *  - Hive-style partitioning by tenant/date turns the reference's
  *    `WHERE tenant_id = $1` index probes into partition PRUNING: the scan
  *    never lists, opens, or reads non-matching directories. Within a
  *    partition, parquet row-group min/max stats skip further (the
  *    `created_at` index analogue).
  *  - Salted joins pre-split hot keys so one executor never owns a whole
  *    skewed key. AQE's runtime skew-join split (on by default) covers most
  *    cases; the explicit operator is for stable hot keys known in advance
  *    (the multi-tenant reality: one tenant is always 100× the median).
  */
object Layout {

  /** Write `df` partitioned by `cols` (e.g. tenant, order date). At 100 TB
    * this is the difference between scanning one tenant's directory and
    * scanning everything.
    */
  def writePartitioned(df: DataFrame, path: String, cols: Seq[String]): Unit =
    df.write.partitionBy(cols: _*).mode("overwrite").parquet(path)

  /** Reads a partitioned table; equality/range filters on partition columns
    * prune directories (LayoutSpec asserts the plan's PartitionFilters).
    */
  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Bucketed write: rows are hash-distributed into `numBuckets` files per
    * partition by the join key and sorted within buckets. Two tables
    * bucketed the same way join WITHOUT any Exchange — the shuffle happened
    * once at write time and is amortized over every subsequent join
    * (LayoutSpec asserts the exchange-free plan). The co-location lever for
    * repeated 100 TB fact-to-fact joins where broadcast can't apply.
    */
  def writeBucketed(df: DataFrame, table: String, numBuckets: Int,
                    cols: Seq[String]): Unit =
    df.write
      .bucketBy(numBuckets, cols.head, cols.drop(1): _*)
      .sortBy(cols.head, cols.drop(1): _*)
      .mode("overwrite")
      .saveAsTable(table)

  /** Salted equi-join for skewed keys: the large side is salted by a
    * uniformly-distributed column (any high-cardinality column works — a
    * row id, a hash of the row), the small side is replicated `numSalts`
    * ways, and the join key becomes (keys..., salt). A key holding 30% of
    * the large side now lands on `numSalts` reducers instead of one.
    * Result is row-identical to `large.join(small, keys)` (LayoutSpec).
    */
  // --- Z-order (Morton) layout: multi-dimensional file pruning -------------

  /** Bucket an integer column to [0, 2^bits) by min/max scaling — exact
    * integer-in-double arithmetic (values × 2^bits stay far under 2^52),
    * so engines agree bit-for-bit. */
  private def zbucket(c: Column, cmin: Column, cmax: Column, bits: Int): Column =
    floor(((c - cmin) * lit(math.pow(2, bits))) / (cmax - cmin + lit(1))).cast("long")

  /** Z-order key of two bucketed dimensions (codegen
    * [[org.apache.spark.sql.graft.Interleave2]]). */
  def zorderKey(a: Column, b: Column, bits: Int): Column = {
    import org.apache.spark.sql.graft.{ColumnBridge, Interleave2}
    ColumnBridge.column(Interleave2(
      ColumnBridge.expression(a.cast("long")),
      ColumnBridge.expression(b.cast("long")), bits))
  }

  /** Write `df` range-partitioned and sorted by the z-key of two integer
    * columns: every output file then covers a tight min/max BOX in both
    * dimensions, so parquet footer stats prune files/row-groups for range
    * predicates on EITHER column — where a single-column sort prunes only
    * its own column and scans everything for the other (measured A/B in
    * LayoutSpec: bytes read drop ~linearly with the box selectivity on the
    * non-sort dimension). The one tiny min/max aggregate is broadcast into
    * the bucketing expressions; the only corpus-wide work is the range
    * exchange + per-file sort any clustered write pays.
    */
  def writeZOrdered(df: DataFrame, colA: String, colB: String, path: String,
                    nFiles: Int, bits: Int = 16): Unit = {
    val stats = df.agg(
      min(col(colA)).cast("long").as("amin"), max(col(colA)).cast("long").as("amax"),
      min(col(colB)).cast("long").as("bmin"), max(col(colB)).cast("long").as("bmax")).head()
    if (stats.isNullAt(0) || stats.isNullAt(2)) {
      // empty input (or an all-null key column): no stats to bucket by —
      // write the frame as-is instead of NPE'ing on the null aggregate
      df.write.mode("overwrite").parquet(path)
      return
    }
    val (amin, amax, bmin, bmax) =
      (stats.getLong(0), stats.getLong(1), stats.getLong(2), stats.getLong(3))
    val keyed = df.withColumn("__z", zorderKey(
      zbucket(col(colA), lit(amin), lit(amax), bits),
      zbucket(col(colB), lit(bmin), lit(bmax), bits), bits))
    keyed.repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
    writeZMeta(df.sparkSession, path,
      ZMeta(colA, colB, amin, amax, bmin, bmax, bits, nFiles))
  }

  // --- incremental z-order maintenance (round 14) --------------------------

  /** The clustering contract persisted with a z-ordered table (the
    * HistogramStream frozen-grid principle applied to layout): appends
    * MUST bucket into the grid the existing files were clustered under —
    * re-deriving min/max per batch would scatter new rows across
    * incompatible z ranges. Stored in a `_zmeta` subdir (leading
    * underscore ⇒ invisible to parquet readers, the _SUCCESS convention). */
  final case class ZMeta(colA: String, colB: String,
                         amin: Long, amax: Long, bmin: Long, bmax: Long,
                         bits: Int, nFiles: Int)

  private def writeZMeta(spark: SparkSession, path: String, m: ZMeta): Unit = {
    import spark.implicits._
    Seq((m.colA, m.colB, m.amin, m.amax, m.bmin, m.bmax, m.bits, m.nFiles))
      .toDF("colA", "colB", "amin", "amax", "bmin", "bmax", "bits", "nFiles")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_zmeta")
  }

  /** The persisted clustering contract, or None for a pre-meta / plain
    * table. Heals a crash inside [[reclusterZOrdered]]'s swap first, so
    * every maintenance verb (they all start here) sees the whole table. */
  def readZMeta(spark: SparkSession, path: String): Option[ZMeta] = {
    graft.streaming.StateLog.healSwaps(spark, path)
    val p = new org.apache.hadoop.fs.Path(s"$path/_zmeta")
    if (!graft.functions.FsUtils.fs(spark, path).exists(p)) None
    else {
      val r = spark.read.parquet(p.toString).head()
      Some(ZMeta(r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getInt(6), r.getInt(7)))
    }
  }

  /** Append a batch into an existing z-ordered table WITHOUT reclustering
    * it: the batch is z-keyed under the FROZEN persisted grid (values
    * outside the original min/max clamp into the edge buckets — their
    * files' stat boxes simply extend past the grid, still truthful for
    * pruning) and lands as `nAppendFiles` additional internally-sorted
    * files. Reads stay CORRECT unconditionally (predicates evaluate on
    * real columns; layout only decides which files a stats-pruning reader
    * opens); pruning EFFICIENCY degrades gradually as append generations
    * accumulate — each generation adds its own box set — until
    * [[needsRecluster]] trips and [[reclusterZOrdered]] restores the
    * single-generation layout. This is the maintenance loop every
    * clustered 100 TB table runs (Delta/Iceberg OPTIMIZE): cheap sorted
    * appends at ingest cadence, full recluster amortized over many
    * batches. */
  def appendZOrdered(df: DataFrame, path: String, nAppendFiles: Int = 4): Unit = {
    val spark = df.sparkSession
    val m = readZMeta(spark, path).getOrElse(throw new IllegalStateException(
      s"$path has no _zmeta — not a writeZOrdered table"))
    val maxB = (1L << m.bits) - 1L
    def frozen(c: String, mn: Long, mx: Long) =
      greatest(lit(0L), least(lit(maxB),
        zbucket(col(c), lit(mn), lit(mx), m.bits)))
    val keyed = df.withColumn("__z", zorderKey(
      frozen(m.colA, m.amin, m.amax), frozen(m.colB, m.bmin, m.bmax), m.bits))
    keyed.repartitionByRange(nAppendFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("append").parquet(path)
  }

  /** True when the table holds more than `factor` × its design file count
    * — the recluster trigger (one driver-side listing, O(files)). */
  def needsRecluster(spark: SparkSession, path: String,
                     factor: Double = 2.0): Boolean = {
    val m = readZMeta(spark, path).getOrElse(return false)
    val fs = graft.functions.FsUtils.fs(spark, path)
    val n = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .count(_.getPath.getName.endsWith(".parquet"))
    n > m.nFiles * factor
  }

  /** Full recluster: re-elect the grid from the CURRENT data (appends may
    * have stretched the value ranges) and rewrite the whole table
    * z-ordered through `StateLog.swapDir`: a crash leaves either the old or
    * the new table, never a mix, and [[readZMeta]] heals a crash inside the
    * swap. */
  def reclusterZOrdered(spark: SparkSession, path: String,
                        nFilesOpt: Option[Int] = None): Unit = {
    val m = readZMeta(spark, path).getOrElse(throw new IllegalStateException(
      s"$path has no _zmeta — not a writeZOrdered table"))
    graft.streaming.StateLog.swapDir(spark, path)(tmp =>
      writeZOrdered(spark.read.parquet(path), m.colA, m.colB, tmp,
        nFilesOpt.getOrElse(m.nFiles), m.bits))
  }

  /** Gate query: the z-key computation itself over `documents`
    * (doc_id × n_chars, 16 bits per dimension), min/max taken IN-QUERY
    * (one broadcast stats row) so the oracle replays the identical chain.
    * The layout write built on this key is exercised + measured in
    * LayoutSpec (pruning A/B). */
  def zorderKeyGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documentsById(spark, dir)
    val stats = docs.agg(
      min(col("doc_id")).as("amin"), max(col("doc_id")).as("amax"),
      min(col("n_chars")).as("bmin"), max(col("n_chars")).as("bmax"))
    docs.crossJoin(broadcast(stats))
      .select(col("doc_id"),
        zbucket(col("doc_id"), col("amin"), col("amax"), 16).as("za"),
        zbucket(col("n_chars"), col("bmin"), col("bmax"), 16).as("zb"))
      .select(col("doc_id"), col("za"), col("zb"),
        zorderKey(col("za"), col("zb"), 16).as("zkey"))
  }

  /** Gate query (round 14, VERDICT r13 item 3): READ through a z-ordered
    * layout. Orders is rewritten z-clustered by (o_custkey, price cents)
    * into /tmp (idempotent per sf dir — the [[Similarity.ensureBuilt]]
    * registry, same as the on-disk ANN indexes: the build is offline
    * layout maintenance, not query latency), then the query is a
    * two-dimension ~10%-band range predicate over the CLUSTERED files —
    * the scan a 100 TB reader actually issues. Both dimensions prune:
    * every file covers a tight min/max box in both columns, so parquet
    * footer stats skip most files/row-groups (hit fractions measured in
    * ZOrderBench; the executed scan's skipping is asserted byte-for-byte
    * against an unclustered copy in LayoutSpec). The oracle replays the
    * same band over the ORIGINAL orders table — row content is
    * layout-invariant, which is itself the correctness claim for
    * [[writeZOrdered]] as a rewrite.
    *
    * Cents via explicit floor(×100): positive prices make Spark's
    * truncating long-cast equal to floor, and DuckDB's rounding
    * BIGINT-cast of an already-floored double is exact — both engines land
    * on the same integer. Band bounds use pure BIGINT arithmetic
    * (`* 45 / 100` with integer division — `//` on the DuckDB side). */
  def zorderPrunedReadGate(spark: SparkSession, dir: String,
                           nFiles: Int = 64): DataFrame = {
    val base = graft.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        floor(col("o_totalprice") * 100).cast("long").as("price_c"))
    val path = "/tmp/graft-zorder-idx/" + dir.replaceAll("[^A-Za-z0-9.]", "_")
    graft.streaming.StateLog.healSwaps(spark, path)
    Similarity.ensureBuilt(path)(
      writeZOrdered(base, "o_custkey", "price_c", path, nFiles))
    val st = base.agg(
      min("o_custkey").as("clo"), max("o_custkey").as("chi"),
      min("price_c").as("plo"), max("price_c").as("phi")).head()
    val (cLo, cHi, pLo, pHi) =
      (st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3))
    val (pbLo, pbHi) = (pLo + (pHi - pLo) * 45 / 100, pLo + (pHi - pLo) * 55 / 100)
    val (cbLo, cbHi) = (cLo + (cHi - cLo) * 45 / 100, cLo + (cHi - cLo) * 55 / 100)
    spark.read.parquet(path)
      .filter(col("price_c").between(pbLo, pbHi) &&
              col("o_custkey").between(cbLo, cbHi))
      .orderBy("o_orderkey")
  }

  val zorderPrunedReadSql: String =
    """WITH b AS (SELECT o_orderkey, o_custkey,
      |             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_c
      |           FROM orders),
      |s AS (SELECT MIN(o_custkey) AS clo, MAX(o_custkey) AS chi,
      |             MIN(price_c) AS plo, MAX(price_c) AS phi FROM b)
      |SELECT o_orderkey, o_custkey, price_c FROM b CROSS JOIN s
      |WHERE price_c BETWEEN plo + (phi - plo) * 45 // 100
      |                  AND plo + (phi - plo) * 55 // 100
      |  AND o_custkey BETWEEN clo + (chi - clo) * 45 // 100
      |                    AND clo + (chi - clo) * 55 // 100
      |ORDER BY o_orderkey""".stripMargin

  val zorderKeySql: String = {
    val terms = (0 until 16).map(i =>
      s"(((za >> $i) & 1) << ${2 * i}) + (((zb >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    """WITH s AS (SELECT MIN(doc_id) AS amin, MAX(doc_id) AS amax,
      |                  MIN(n_chars) AS bmin, MAX(n_chars) AS bmax FROM documents),
      |b AS (SELECT doc_id,
      |  CAST(FLOOR((doc_id - amin) * 65536.0 / (amax - amin + 1)) AS BIGINT) AS za,
      |  CAST(FLOOR((n_chars - bmin) * 65536.0 / (bmax - bmin + 1)) AS BIGINT) AS zb
      |  FROM documents CROSS JOIN s)
      |SELECT doc_id, za, zb,
      |CAST(""".stripMargin + terms + """ AS BIGINT) AS zkey
      |FROM b ORDER BY doc_id""".stripMargin
  }

  // --- Profile-driven layout advisor (round 14, VERDICT r13 item 6) ------

  /** What the advisor needs from one [[Profile.profile]] row. */
  final case class ColProfile(name: String, n: Long, nNull: Long,
                              nDistinct: Long,
                              minNum: Option[Double], maxNum: Option[Double])

  /** Adapter from a [[Profile.profile]] / [[Profile.profileApprox]] result
    * (col_name, n, n_null, n_distinct[_est], min_num, max_num, …) — one
    * bounded collect: the frame has one row per PROFILED COLUMN. */
  def colProfiles(profile: DataFrame): Seq[ColProfile] = {
    val ndCol =
      if (profile.columns.contains("n_distinct")) "n_distinct" else "n_distinct_est"
    // n_distinct_est is a rounded double in the θ-sketched form — normalize
    profile.select(col("col_name"), col("n"), col("n_null"),
        col(ndCol).cast("long"), col("min_num"), col("max_num"))
      .collect().toSeq.map { r =>
        ColProfile(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)))
      }
  }

  final case class ZOrderAdvice(colA: String, colB: String, bits: Int,
                                nFiles: Int, expectedHitFraction: Double)

  /** Predicted fraction of files a stats-pruning reader opens for a
    * fractional-width `band` predicate on ONE dimension of a two-dimension
    * z-clustered layout: band + 2/resolution, where resolution is the
    * per-dimension file grid √nFiles clamped by the weaker dimension's
    * distinct count (a dim with ndv below the grid can't cut boxes finer
    * than one value). The constant 2 absorbs z-range boxes straddling the
    * band edge and the curve's range jumps — calibrated against
    * ZOrderBench's MEASURED table (STRESS.md round 13: mean hit fraction
    * 0.656 / 0.328 / 0.207 at 16 / 64 / 256 files vs this model's
    * 0.600 / 0.350 / 0.225; LayoutSpec pins the fit to ±0.06). */
  def zorderExpectedHitFraction(band: Double, nFiles: Int,
                                minNdv: Long = Long.MaxValue): Double =
    math.min(1.0, band + 2.0 / math.min(math.sqrt(nFiles.toDouble),
      math.max(1L, minNdv).toDouble))

  /** Pick the two columns that maximize z-order pruning benefit, from
    * profile stats alone. Eligible: numeric min/max present, a nonzero
    * range, ≥2 distinct values, and not all-null. Ranked by per-dimension
    * achievable resolution min(ndv, √nFiles) — beyond the file grid, extra
    * cardinality buys nothing, so ties break on raw ndv then name (total
    * order ⇒ the advice is deterministic from equal profiles). Returns
    * None when fewer than two columns are eligible — a single-dimension
    * RANGE SORT dominates z-order there and the caller should fall back to
    * `repartitionByRange + sortWithinPartitions`.
    *
    * The advisor ranks by PRUNABILITY only; it cannot know which columns
    * user queries actually filter on. Callers restrict `cols` to the
    * filter-bearing candidates first (the same contract as choosing any
    * index). */
  def adviseZOrder(cols: Seq[ColProfile], nFiles: Int,
                   band: Double = 0.1): Option[ZOrderAdvice] = {
    val grid = math.sqrt(nFiles.toDouble)
    val eligible = cols.filter(c =>
      c.minNum.isDefined && c.maxNum.isDefined &&
        c.maxNum.get > c.minNum.get && c.nDistinct >= 2 && c.nNull < c.n)
    val ranked = eligible.sortBy(c =>
      (-math.min(c.nDistinct.toDouble, grid), -c.nDistinct, c.name))
    ranked match {
      case a +: b +: _ =>
        val minNdv = math.min(a.nDistinct, b.nDistinct)
        // bits beyond the weaker dim's cardinality (or the 16-bit key cap)
        // are dead interleave positions
        val bits = math.min(16,
          math.max(1, math.ceil(math.log(minNdv.toDouble) / math.log(2)).toInt))
        Some(ZOrderAdvice(a.name, b.name, bits, nFiles,
          zorderExpectedHitFraction(band, nFiles, minNdv)))
      case _ => None
    }
  }

  /** One-call form: profile the filter-candidate columns, advise. */
  def adviseZOrderFor(df: DataFrame, candidates: Seq[String], nFiles: Int,
                      band: Double = 0.1): Option[ZOrderAdvice] =
    adviseZOrder(colProfiles(Profile.profile(
      df, candidates.map(_ -> Profile.NumCol))), nFiles, band)

  def saltedJoin(large: DataFrame, small: DataFrame, keys: Seq[String],
                 numSalts: Int, saltFrom: Column): DataFrame = {
    val l = large.withColumn("__salt", pmod(xxhash64(saltFrom), lit(numSalts.toLong)))
    val s = small.withColumn("__salt",
      explode(transform(sequence(lit(0), lit(numSalts - 1)), i => i.cast("long"))))
    l.join(s, keys :+ "__salt").drop("__salt")
  }

  /** Targeted variant of [[saltedJoin]] for STABLE hot keys known in advance
    * (the multi-tenant reality: one tenant is always 100× the median).
    * Only rows carrying a hot key are salted, and only the hot keys' build
    * rows are replicated — cold keys join exactly as before (salt 0, one
    * build copy). Blanket salting replicates the ENTIRE build side
    * `numSalts`×, which at bench scale cost more than the skew it cured
    * (see BASELINE.md skew table); the targeted form keeps the fix local to
    * the keys that need it. Row-identical to `large.join(small, keys)`
    * (LayoutSpec).
    */
  def saltedJoinHot(large: DataFrame, small: DataFrame, key: String,
                    numSalts: Int, saltFrom: Column, hotKeys: Seq[Any]): DataFrame = {
    val l = large.withColumn("__salt",
      when(col(key).isin(hotKeys: _*), pmod(xxhash64(saltFrom), lit(numSalts.toLong)))
        .otherwise(lit(0L)))
    val s = small.withColumn("__salt",
      explode(when(col(key).isin(hotKeys: _*),
          transform(sequence(lit(0), lit(numSalts - 1)), i => i.cast("long")))
        .otherwise(array(lit(0L)))))
    l.join(s, Seq(key, "__salt")).drop("__salt")
  }

  /** Sampled hot-key detection for [[saltedJoinAuto]]: a Misra-Gries sketch
    * over a `sampleFraction` sample of the probe side's join keys finds
    * every key holding ≥ `hotShare` of the rows. At 100 TB the hot tenant
    * set DRIFTS — hardcoded hot keys go stale — so the targeted salt list
    * must come from the data at build time. Cost: two narrow passes over
    * the sample (sketch + count), ZERO shuffle — the MG buffer is k
    * bounded entries combined map-side, same machinery as
    * [[FreqSketch.MisraGries]].
    *
    * Guarantee: MG with k = ceil(4/hotShare) capacity undercounts any key
    * by at most n/k, so every key with true share ≥ hotShare survives the
    * `stored + n/k ≥ hotShare·n` test (no false negatives at the sample
    * level); over-detection is capped by the candidate list's size (≤ k
    * keys replicate a few extra build rows — cheap). Keys are compared in
    * STRING form so one code path serves long and string keys (Spark's
    * long→string cast is the canonical rendering on both sides).
    */
  def detectHotKeys(probe: DataFrame, key: String,
                    sampleFraction: Double = 0.01,
                    hotShare: Double = 0.05): Seq[String] = {
    val k = math.max(16, math.ceil(4.0 / hotShare).toInt)
    val mg = udaf(new FreqSketch.MisraGries(k),
      org.apache.spark.sql.Encoders.STRING)
    val sample = probe.select(col(key).cast("string").as("__k"))
      .sample(withReplacement = false, sampleFraction, seed = 42)
    val row = sample
      .agg(mg(col("__k")).as("sk"), count(lit(1)).as("n"))
      .select(col("sk.tokens"), col("sk.counts"), col("n"))
      .head()
    val (tokens, counts, n) =
      (row.getSeq[String](0), row.getSeq[Long](1), row.getLong(2))
    if (n == 0) return Nil
    val slack = n.toDouble / k
    tokens.zip(counts)
      .filter { case (_, c) => c + slack >= hotShare * n }
      .sortBy { case (t, c) => (-c, t) }
      .map(_._1)
  }

  /** [[saltedJoinHot]] with the hot-key list DETECTED from a sample instead
    * of passed in — the production form at 100 TB where the hot tenant set
    * drifts between builds. Detection is one extra sketch pass over a 1%
    * sample; the join itself is the targeted variant: only detected-hot
    * probe rows are salted, only their build rows replicated. Row-identical
    * to `large.join(small, Seq(key))` regardless of what the detector
    * returns (LayoutSpec: empty, exact, and over-detected lists all agree).
    */
  def saltedJoinAuto(large: DataFrame, small: DataFrame, key: String,
                     numSalts: Int, saltFrom: Column,
                     sampleFraction: Double = 0.01,
                     hotShare: Double = 0.05): DataFrame = {
    val hot = detectHotKeys(large, key, sampleFraction, hotShare)
    if (hot.isEmpty) large.join(small, Seq(key))
    else {
      val isHot = col(key).cast("string").isin(hot: _*)
      val l = large.withColumn("__salt",
        when(isHot, pmod(xxhash64(saltFrom), lit(numSalts.toLong)))
          .otherwise(lit(0L)))
      val s = small.withColumn("__salt",
        explode(when(isHot,
            transform(sequence(lit(0), lit(numSalts - 1)), i => i.cast("long")))
          .otherwise(array(lit(0L)))))
      l.join(s, Seq(key, "__salt")).drop("__salt")
    }
  }

  /** Small-file compaction for a date/tenant-partitioned parquet table —
    * the maintenance pass every streaming sink needs: each micro-batch
    * merge leaves `shuffle.partitions`-many small files per touched
    * partition, and at 100 TB a reader's task count (and the namenode)
    * drowns in them. Rewrites ONLY partitions holding more than
    * `maxFilesPerPartition` files, each coalesced to `targetFiles` files,
    * and lands them through the streaming merge's partition swap
    * (`StateLog.landPartitions`; `StateLog.healPartitions` on entry
    * restores a partition a crash left orphaned in staging — untouched
    * dirs never move, a re-run re-compacts). Returns the number of
    * partitions compacted.
    *
    * Listing is one driver-side directory scan (O(partitions) — the same
    * metadata a planner lists); row data never leaves executors.
    */
  def compactPartitions(spark: SparkSession, path: String,
                        maxFilesPerPartition: Int = 8,
                        targetFiles: Int = 1): Int = {
    import graft.streaming.StateLog
    val fs = graft.functions.FsUtils.fs(spark, path)
    StateLog.healPartitions(spark, path)
    val staging = StateLog.partitionStaging(path)
    var compacted = 0
    StateLog.leafDirs(spark, path).foreach { case (rel, part) =>
      val nFiles = fs.listStatus(part)
        .count(f => f.getPath.getName.endsWith(".parquet"))
      if (nFiles > maxFilesPerPartition) {
        spark.read.parquet(part.toString).coalesce(targetFiles)
          .write.mode("overwrite").parquet(s"$staging/$rel")
        compacted += 1
      }
    }
    if (compacted > 0) StateLog.landPartitions(spark, path)
    compacted
  }
}
