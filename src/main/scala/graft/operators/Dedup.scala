package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for LLM-pipeline data curation (charter
  * north-star; SURVEY.md §7.2 step 5): exact content-hash dedup, word-shingle
  * Jaccard, MinHash signatures + LSH banding for near-dup candidate
  * generation, and 64-bit SimHash fingerprints.
  *
  * Everything is built from codegen'd built-ins (`xxhash64`, higher-order
  * functions) — no UDFs, no driver-side loops. The LSH path is the 100 TB
  * design: signatures are one narrow row per doc, banding turns the O(n²)
  * pair problem into a groupBy on band keys, and only same-bucket pairs are
  * verified with the exact Jaccard.
  */
object Dedup {

  /** Exact dedup groups: one row per distinct content hash with the
    * representative (minimum) doc id and the duplicate count.
    */
  def exactGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Exact dedup on CANONICALIZED text ([[graft.functions.TextFunctions
    * .canonicalize]]: NFC → lowercase → whitespace collapse → trim) — the
    * near-free canonicalization pre-pass that merges case/spacing/encoding
    * variants of one document into a single content group before hashing.
    * The gate corpus is already canonical, so the query PERTURBS it
    * deterministically first (doc_id%3: uppercase / double-space / as-is —
    * the pii_scrub synthesized-input precedent) and the oracle replays the
    * identical perturb→canonicalize→group chain: if canonicalization
    * failed to undo any perturbation, the groups (and the gate hash)
    * diverge. Same narrow-map + one-aggregate shape as [[exactGroups]].
    */
  def canonicalDedupGate(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    // ASCII-range translate on BOTH engines, for the perturbation as well
    // as the canonicalizer: Java upper('ß')='SS' vs utf8proc UPPER('ß')='ß'
    // would diverge the perturbed corpus itself on a non-ASCII regeneration
    val up = translate(col("text"), ('a' to 'z').mkString, ('A' to 'Z').mkString)
    val perturbed = docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(3)) === 0, up)
        .when(pmod(col("doc_id"), lit(3)) === 1, regexp_replace(col("text"), " ", "  "))
        .otherwise(col("text")).as("text"))
    exactGroups(
        perturbed.withColumn("text", graft.functions.TextFunctions.canonicalize(col("text"))),
        "text", "doc_id")
      .orderBy("keep_id")
  }

  val canonicalDedupSql: String = {
    val lo = ('a' to 'z').mkString
    val hi = ('A' to 'Z').mkString
    s"""WITH p AS (SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN TRANSLATE(text, '$lo', '$hi')
      |       WHEN doc_id % 3 = 1 THEN REGEXP_REPLACE(text, ' ', '  ', 'g')
      |       ELSE text END AS text
      |  FROM documents),
      |c AS (SELECT doc_id,
      |  TRIM(REGEXP_REPLACE(TRANSLATE(NFC_NORMALIZE(text), '$hi', '$lo'), '[ \t\n\r]+', ' ', 'g')) AS text
      |  FROM p)
      |SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
      |FROM c GROUP BY md5(text) ORDER BY keep_id""".stripMargin
  }

  /** Distinct-on-content filter: keeps the min-id row per content hash. */
  def dropExactDuplicates(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val groups = exactGroups(docs, textCol, idCol).select(col("keep_id").as(idCol))
    docs.join(groups, Seq(idCol), "left_semi")
  }

  /** Evaluate-once binding (see [[graft.functions.ExprUtils.bindOnce]] —
    * measured 64× recompute for LSH band keys without it). */
  private def bindOnce(expensive: Column)(body: Column => Column): Column =
    graft.functions.ExprUtils.bindOnce(expensive)(body)

  /** Word k-shingles as an array column: w₀‥wₖ₋₁, w₁‥wₖ, …  Docs shorter
    * than k words contribute their whole text as a single shingle so they
    * still participate in dedup; NULL text yields NULL shingles (dedup
    * inputs are non-null text by schema — documents.text in the corpus).
    * Backed by the codegen [[org.apache.spark.sql.graft.WordShingles]]
    * expression (the per-gram `concat_ws(element_at…)` lambda of
    * [[wordShinglesHof]] is interpreted and dominated the n-gram queries).
    */
  def wordShingles(textCol: Column, k: Int): Column = {
    import org.apache.spark.sql.graft.{ColumnBridge, WordShingles}
    ColumnBridge.column(WordShingles(
      ColumnBridge.expression(split(textCol, " ", -1)), k))
  }

  /** Reference HOF formulation of [[wordShingles]] — kept for the
    * equivalence spec (incl. the explicit null guard matching the
    * expression's null-in/null-out). */
  def wordShinglesHof(textCol: Column, k: Int): Column =
    when(textCol.isNull, lit(null).cast("array<string>")).otherwise(
    bindOnce(split(textCol, " ", -1)) { words =>
      val n = size(words)
      val grams = transform(
        sequence(lit(0), n - lit(k)),
        i => concat_ws(" ", (0 until k).map(j => element_at(words, (i + lit(j + 1)).cast("int"))): _*))
      when(n >= k, grams).otherwise(array(textCol))
    })

  /** Exact Jaccard similarity of two set-valued array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0.0, 0.0).otherwise(inter / union)
  }

  /** Deterministic MinHash permutation parameters: hᵢ(x) = (aᵢ·x + bᵢ) mod P
    * over the low 32 bits of xxhash64(shingle). P > 2³², aᵢ < 2³¹ keeps the
    * product inside a long. Seeded — same params every run, every executor.
    */
  private[graft] val MersennePrime = // smallest prime > 2^32 — shared single definition
    org.apache.spark.sql.graft.GraftHashConstants.MersennePrime
  def permutations(numPerm: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPerm)((1L + rnd.nextInt(Int.MaxValue - 1).toLong,
                       rnd.nextInt(Int.MaxValue).toLong))
  }

  /** MinHash signature (array<long> of length numPerm) of a shingle array.
    * One nested higher-order expression: min over shingles of each permuted
    * hash — fully codegen, no UDF. `hashFn` picks the shingle hash:
    * xxhash64 (production default) or [[graft.functions.Hashing.h60]]
    * (portable — the DuckDB gate can replicate it exactly).
    */
  def minhashSignature(shingles: Column, perms: Seq[(Long, Long)],
                       hashFn: Column => Column = xxhash64(_)): Column = {
    import org.apache.spark.sql.graft.{ColumnBridge, MinHashSig}
    // hashMapped (r21 opt): the shingle-hash map through the codegen
    // HashStringArray kernel instead of an interpreted transform lambda
    val hashes = graft.functions.Hashing.hashMapped(shingles, hashFn, 1L << 32)
    ColumnBridge.column(MinHashSig(
      ColumnBridge.expression(hashes),
      ColumnBridge.expression(array(perms.map(p => lit(p._1)): _*)),
      ColumnBridge.expression(array(perms.map(p => lit(p._2)): _*))))
  }

  /** Reference HOF formulation of [[minhashSignature]] — kept for the
    * equivalence spec (CatalystExpressionSpec). */
  def minhashSignatureHof(shingles: Column, perms: Seq[(Long, Long)],
                          hashFn: Column => Column = xxhash64(_)): Column = {
    val permArr = array(perms.map { case (a, b) => struct(lit(a).as("a"), lit(b).as("b")) }: _*)
    // shingle hashes are bound once — every permutation lambda re-reads them
    bindOnce(transform(shingles, s => pmod(hashFn(s), lit(1L << 32)))) { hashes =>
      transform(permArr, p =>
        array_min(transform(hashes, x =>
          pmod(p.getField("a") * x + p.getField("b"), lit(MersennePrime)))))
    }
  }

  /** docs → (id, shingles, sig). The narrow signature frame that feeds LSH. */
  def minhashSignatures(docs: DataFrame, textCol: String, idCol: String,
                        numPerm: Int = 64, shingleK: Int = 3,
                        hashFn: Column => Column = xxhash64(_)): DataFrame =
    docs.select(
      col(idCol),
      wordShingles(col(textCol), shingleK).as("shingles"))
      .withColumn("sig", minhashSignature(col("shingles"), permutations(numPerm), hashFn))

  /** LSH banding: split the signature into `bands` bands of numPerm/bands
    * rows each; the band key is the hash of the slice. Same band key in any
    * band ⇒ candidate pair. Returns (band_idx, band_key, id) — grouping by
    * (band_idx, band_key) buckets the corpus.
    */
  def lshBands(sigs: DataFrame, idCol: String, numPerm: Int, bands: Int): DataFrame =
    sigs.select(col(idCol), explode(lshBandKeys(col("sig"), numPerm, bands)).as("band"))
      .select(col(idCol), col("band.band_idx"), col("band.band_key"))

  /** The LSH band keys of one signature as an `array<struct<band_idx: int,
    * band_key: long>>` of `bands` entries — the key expression behind
    * [[lshBands]], shared with the streaming fold so stream state and batch
    * keys cannot drift apart. */
  def lshBandKeys(sig: Column, numPerm: Int, bands: Int): Column = {
    val rows = numPerm / bands
    // the signature array is bound once per row; each band hashes its slice
    // (xxhash64 accepts array input directly — no string concat needed)
    bindOnce(sig) { s =>
      transform(sequence(lit(0), lit(bands - 1)), bi =>
        struct(bi.cast("int").as("band_idx"),
          xxhash64(slice(s, bi * lit(rows) + lit(1), lit(rows))).as("band_key")))
    }
  }

  /** Candidate pairs (id_a < id_b) that collide in at least one LSH band. */
  def lshCandidatePairs(sigs: DataFrame, idCol: String,
                        numPerm: Int, bands: Int): DataFrame = {
    val b = lshBands(sigs, idCol, numPerm, bands)
    val left = b.select(col("band_idx"), col("band_key"), col(idCol).as("id_a"))
    val right = b.select(col("band_idx"), col("band_key"), col(idCol).as("id_b"))
    left.join(right, Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Near-duplicate pairs: LSH candidates verified with exact shingle
    * Jaccard ≥ threshold. The only joins are (a) band-key equi-joins and
    * (b) two id equi-joins to re-attach shingle sets — no cross product
    * anywhere. The verify side carries each doc's shingle set as a compact
    * `array<long>` of xxhash64 values (set semantics are identical modulo
    * negligible 64-bit collisions), so the pair shuffle moves ~8 bytes per
    * shingle instead of the full shingle strings.
    *
    * Scale note: the pair LISTING is inherently O(matches); on a corpus where
    * the threshold admits a quadratic fraction of pairs, cap the input slice
    * for audits and use [[lshDedupKeep]] (linear) for the actual dedup pass.
    */
  def nearDuplicatePairs(docs: DataFrame, textCol: String, idCol: String,
                         threshold: Double, numPerm: Int = 64, bands: Int = 16,
                         shingleK: Int = 3,
                         hashFn: Column => Column = xxhash64(_),
                         bucketCap: Int = 5000): DataFrame = {
    val sigs = minhashSignatures(docs, textCol, idCol, numPerm, shingleK, hashFn)
    val sets = sigs.select(col(idCol),
      array_distinct(graft.functions.Hashing.hashMapped(
        col("shingles"), hashFn, 0L)).as("sset"))
    // bucket-local verification (same model as the embedding LSH path):
    // collect each band bucket's (id, shingle set), verify the pair triangle
    // inside one JaccardPairsBounded call, dedup survivors across bands.
    // Candidate pairs never hit a shuffle; no joins re-attach the sets; a
    // degenerate band bucket (every doc identical ⇒ one band key) is
    // triangle-split into ≤ ~2·bucketCap-element sub-tasks (BucketedPairs)
    // instead of one unbounded collect_list buffer.
    val grouped = BucketedPairs.boundedSubBuckets(
      lshBands(sigs, idCol, numPerm, bands).join(sets, Seq(idCol)),
      Seq("band_idx", "band_key"), col(idCol), col("sset"), bucketCap)
    import org.apache.spark.sql.graft.{ColumnBridge, JaccardPairsBounded}
    val pairs = ColumnBridge.column(JaccardPairsBounded(
      ColumnBridge.expression(col("xs")),
      ColumnBridge.expression(col("cross")), threshold))
    grouped.select(explode(pairs).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.jaccard"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Linear-cost MinHash/LSH dedup filter — the 100 TB path. Instead of
    * materializing candidate PAIRS (O(Σ bucket²), quadratic in degenerate
    * corpora), each LSH bucket elects its minimum id as representative and
    * every doc keeps the smallest representative over its `bands` buckets:
    * `keep = (rep_id == own id)`. Two narrow shuffles, both O(n·bands) rows
    * of (id, band_key) — bucket size never gets squared. Greedy single-pass
    * clustering: a doc is dropped iff it collides with a smaller-id doc in
    * at least one band (collision prob ≈ 1-(1-j^r)^b, r = numPerm/bands).
    */
  def lshDedupKeep(docs: DataFrame, textCol: String, idCol: String,
                   numPerm: Int = 64, bands: Int = 8,
                   shingleK: Int = 3,
                   hashFn: Column => Column = xxhash64(_)): DataFrame = {
    val sigs = minhashSignatures(docs, textCol, idCol, numPerm, shingleK, hashFn)
    val b = lshBands(sigs, idCol, numPerm, bands)
    electKeep(b, idCol, Seq("band_idx", "band_key"), shareInput = true)
  }

  /** The shared bucket-min election tail of every linear keep-filter
    * ([[lshDedupKeep]], [[simhashDedupKeep]],
    * `Similarity.embeddingDedupKeep`): groupBy-min (map-side partial agg)
    * + join back, NOT a window over the bucket — a window would funnel a
    * mega-bucket into one task, while the partial aggregate shrinks it on
    * the map side and AQE splits any skewed join partition. Keeps a row
    * iff it is the elected minimum of every bucket it occupies. */
  /** @param shareInput when true, the bucketed input — consumed by BOTH the
    *   bucket-min aggregate and the probe side of the join-back — is
    *   repartitioned on the bucket keys so the two branches read ONE shared
    *   exchange (AQE stage reuse) instead of each re-executing the subtree
    *   from the scan. Worth it when building the buckets is expensive (the
    *   MinHash signature Generate); a loss when it is cheap (hyperplane
    *   buckets over a narrow embeddings scan) — then the extra full-width
    *   exchange costs more than the recompute it saves.
    */
  private[operators] def electKeep(bucketed: DataFrame, idCol: String,
      keyCols: Seq[String],
      shareInput: Boolean = false): DataFrame = {
    // the explicit isNotNull matters under shareInput: a consumer above
    // (e.g. a semi-join on the elected ids) infers isnotnull(id) and pushes
    // it down the PROBE branch only — the two branches then canonicalize
    // differently and stage reuse is lost. Filtering null ids symmetrically
    // (they can't win or matter in an election) keeps the subtrees identical.
    val parted =
      if (shareInput) bucketed.filter(col(idCol).isNotNull)
        .repartition(keyCols.map(col): _*)
      else bucketed
    val bucketMin = parted.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("bucket_min"))
    parted.join(bucketMin, keyCols)
      .groupBy(col(idCol))
      .agg(min(col("bucket_min")).as("rep_id"))
      .withColumn("keep", col("rep_id") === col(idCol))
  }

  /** 64-bit SimHash over word tokens: bit i is set iff the sum over tokens
    * of ±1 (sign of bit i of xxhash64(token)) is ≥ 0. Near-dups have small
    * Hamming distance. Tokenize + hash stays declarative; the 64-counter
    * sign-pack loop is the custom codegen [[org.apache.spark.sql.graft.SimHash64]]
    * expression (the HOF aggregate formulation was interpreted per element —
    * ~3.5k boxed ops/doc).
    */
  def simhash(textCol: Column, hashFn: Column => Column = xxhash64(_)): Column = {
    val hashes = graft.functions.Hashing.hashMapped(
      split(textCol, " ", -1), hashFn, 0L)
    org.apache.spark.sql.graft.ColumnBridge.column(org.apache.spark.sql.graft.SimHash64(
      org.apache.spark.sql.graft.ColumnBridge.expression(hashes)))
  }

  /** Hamming distance between two simhash longs (popcount of xor). */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Winnowing document fingerprint (Schleimer et al., SIGMOD'03 — public
    * algorithm): hash every k-gram, slide a window of `w` hashes, keep each
    * window's minimum; the distinct sorted mins are the document's sketch.
    * Guarantees any shared substring of length ≥ w+k-1 contributes at least
    * one common fingerprint — the rolling-hash selection standard for
    * plagiarism/near-dup detection. Pure expression (no UDF); the hash
    * array is bound once.
    */
  def winnowingFingerprint(textCol: Column, k: Int = 3, w: Int = 4,
                           hashFn: Column => Column = xxhash64(_)): Column = {
    import org.apache.spark.sql.graft.{ColumnBridge, WinnowingMins}
    ColumnBridge.column(WinnowingMins(
      ColumnBridge.expression(graft.functions.Hashing.hashMapped(
        wordShingles(textCol, k), hashFn, 0L)), w))
  }

  /** Reference HOF formulation of [[winnowingFingerprint]] — kept for the
    * equivalence spec. */
  def winnowingFingerprintHof(textCol: Column, k: Int = 3, w: Int = 4,
                              hashFn: Column => Column = xxhash64(_)): Column =
    bindOnce(transform(wordShingles(textCol, k), s => hashFn(s))) { hashes =>
      val n = size(hashes)
      val mins = transform(
        sequence(lit(0), greatest(n - lit(w), lit(0))),
        i => array_min(slice(hashes, i + 1, lit(w))))
      array_sort(array_distinct(mins))
    }

  /** SimHash near-dup pairs at scale: the 64-bit fingerprint is cut into
    * `bands` chunks; docs colliding on ANY chunk are candidates (pigeonhole:
    * every pair with hamming distance < bands is guaranteed to collide
    * somewhere), then verified with exact hamming ≤ maxDist — bucket-locally,
    * the same shape as the MinHash/embedding paths: each band bucket carries
    * its (id, fp) pairs into one [[org.apache.spark.sql.graft.HammingPairsBounded]]
    * call (fp is ONE long — the lightest payload of the three pipelines), so
    * candidate pairs are never materialized into a shuffle and no joins
    * re-attach fingerprints. The earlier join-based formulation shuffled
    * O(candidates) pair rows plus two fingerprint re-attach joins — O(n²)
    * shuffle volume on a degenerate corpus; per-task memory here is bounded
    * by the triangle-split.
    */
  def simhashNearDupPairs(docs: DataFrame, textCol: String, idCol: String,
                          maxDist: Int = 7, bands: Int = 8,
                          hashFn: Column => Column = xxhash64(_),
                          bucketCap: Int = 8192): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    val chunk = 64 / bands
    val mask = if (chunk == 64) -1L else (1L << chunk) - 1L
    val fps = docs.select(col(idCol), simhash(col(textCol), hashFn).as("fp"))
    // bind the fingerprint once (CollapseProject would otherwise inline the
    // whole simhash aggregate into each of the `bands` chunk extractions)
    val bandArr = bindOnce(array(col("fp"))) { fpArr =>
      transform(sequence(lit(0), lit(bands - 1)), bi =>
        struct(bi.cast("int").as("band_idx"),
          call_function("shiftright", element_at(fpArr, 1), bi * lit(chunk))
            .bitwiseAND(lit(mask)).as("band_key"),
          element_at(fpArr, 1).as("fp")))
    }
    val bucketed = fps.select(col(idCol), explode(bandArr).as("b"))
      .select(col(idCol), col("b.band_idx"), col("b.band_key"), col("b.fp"))
    val grouped = BucketedPairs.boundedSubBuckets(
      bucketed, Seq("band_idx", "band_key"), col(idCol), col("fp"), bucketCap)
    import org.apache.spark.sql.graft.{ColumnBridge, HammingPairsBounded}
    val pairs = ColumnBridge.column(HammingPairsBounded(
      ColumnBridge.expression(col("xs")),
      ColumnBridge.expression(col("cross")), maxDist))
    grouped.select(explode(pairs).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.hamming"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Linear SimHash dedup keep-filter — band-bucket min-id election over
    * the 64-bit fingerprint's bands, completing the {minhash, simhash,
    * embedding} × {pairs-audit, keep-filter} matrix (election shape shared
    * via [[electKeep]]; the Hamming-verified pair audit is
    * [[simhashNearDupPairs]] above). */
  def simhashDedupKeep(docs: DataFrame, textCol: String, idCol: String,
                       bands: Int = 8,
                       hashFn: Column => Column = xxhash64(_),
                       shareInput: Boolean = true): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    val chunk = 64 / bands
    val mask = if (chunk == 64) -1L else (1L << chunk) - 1L
    val fps = docs.select(col(idCol), simhash(col(textCol), hashFn).as("fp"))
    val bandArr = bindOnce(array(col("fp"))) { fpArr =>
      transform(sequence(lit(0), lit(bands - 1)), bi =>
        struct(bi.cast("int").as("band_idx"),
          call_function("shiftright", element_at(fpArr, 1), bi * lit(chunk))
            .bitwiseAND(lit(mask)).as("band_key")))
    }
    val b = fps.select(col(idCol), explode(bandArr).as("b"))
      .select(col(idCol), col("b.band_idx"), col("b.band_key"))
    electKeep(b, idCol, Seq("band_idx", "band_key"), shareInput = shareInput)
  }
}
