package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.Dedup

/** The custom codegen expressions must be drop-in replacements for the HOF
  * formulations they sped up: bit-identical results (oracle hashes depend on
  * it), same null behavior, and reachable from SQL via GraftExtensions.
  */
class CatalystExpressionSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("DotProduct is bit-identical to the HOF aggregate(zip_with) dot") {
    val e = Tables.embeddings(spark, Sf0001)
    val a = e.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs = a.select(col("vec_id").as("ia"), col("v").as("va"))
      .join(a.select(col("vec_id").as("ib"), col("v").as("vb")),
        col("ia") + 1 === col("ib"))
    val diff = pairs.select(
        (VectorFunctions.dot(col("va"), col("vb")) -
         VectorFunctions.dotHof(col("va"), col("vb"))).as("d"))
      .filter(col("d") =!= 0.0).count()
    assert(diff == 0, "codegen dot must equal HOF dot bit-for-bit")
  }

  test("DotProduct handles null arrays (null in, null out)") {
    val r = Seq((Some(Seq(1.0, 2.0)), Option.empty[Seq[Double]]))
      .toDF("a", "b")
      .select(VectorFunctions.dot(col("a"), col("b")).as("d"))
      .collect()
    assert(r.head.isNullAt(0))
  }

  test("SimHash64: identical text -> identical fp; near closer than far") {
    val fp = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different words about spark and catalyst engines"))
      .toDF("id", "t")
      .select(col("id"), Dedup.simhash(col("t")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp(0L) == fp(1L))
    val near = java.lang.Long.bitCount(fp(0L) ^ fp(2L))
    val far = java.lang.Long.bitCount(fp(0L) ^ fp(3L))
    assert(near < far)
  }

  test("HyperplaneBuckets matches the literal-plane HOF bucket formulation") {
    val planes = graft.operators.Similarity.hyperplanes(64, 12) // 3 tables x 4 bits
    val e = Tables.embeddings(spark, Sf0001)
      .select(col("embedding").cast("array<double>").as("v"))
    val fast = org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.graft.HyperplaneBuckets(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("v")),
        planes.toArray, 4))
    val hof = array((0 until 3).map { t =>
      VectorFunctions.hyperplaneBucket(col("v"), planes.slice(t * 4, t * 4 + 4))
    }: _*)
    val diff = e.select(fast.as("a"), hof.as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(diff == 0)
  }

  test("NearestCentroid ≡ the array_min struct formulation on trained centroids") {
    val e = Tables.embeddings(spark, Sf0001)
    val cents = graft.operators.Similarity.centroidSeq(e)
    assert(cents.size > 1)
    val v = col("embedding").cast("array<double>").as("v")
    val fast = org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.graft.NearestCentroid(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("v")),
        cents.map(_._2.toArray).toArray, cents.map(_._1).toArray))
    val hof = array_min(array(cents.map { case (cl, c) =>
      struct(VectorFunctions.l2Sq(col("v"), array(c.map(lit): _*)).as("d"),
        lit(cl).as("cluster"))
    }: _*)).getField("cluster")
    val diff = e.select(v).select(fast.as("a"), hof.as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(diff == 0, "codegen argmin must equal the lexicographic struct min")
  }

  test("CosineI8 equals the double kernel on byte vectors (and NaN on zero norm)") {
    val e = Tables.embeddings(spark, Sf0001)
    // int8-quantize two adjacent vectors per row, score both kernels
    val q = e.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val mx = array_max(transform(col("v"), x => abs(x)))
    val qv = when(mx === 0.0, transform(col("v"), _ => lit(0).cast("byte")))
      .otherwise(transform(col("v"), x => round(x * lit(127.0) / mx).cast("byte")))
    val a = q.select(col("vec_id").as("ia"), qv.as("qa"))
    val b = q.select(col("vec_id").as("ib"), qv.as("qb"))
    val pairs = a.join(b, col("ia") + 1 === col("ib"))
    val i8 = org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.graft.CosineI8(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("qa")),
        org.apache.spark.sql.graft.ColumnBridge.expression(col("qb"))))
    val dbl = VectorFunctions.cosine(
      col("qa").cast("array<double>"), col("qb").cast("array<double>"))
    val bad = pairs.select(i8.as("x"), dbl.as("y"))
      .filter(!(isnan(col("x")) && isnan(col("y"))) &&
        abs(col("x") - col("y")) > 1e-12).count()
    assert(bad == 0, "integer kernel must match the double kernel to fp error")
    // zero-norm → NaN, both sides
    val z = Seq((Seq[Byte](0, 0), Seq[Byte](1, 2))).toDF("qa", "qb").select(i8.as("x"))
    assert(z.collect().head.getDouble(0).isNaN)
  }

  test("NearestClusters ≡ slice(array_sort(struct list)) for nprobe 1, 4, and >k") {
    val e = Tables.embeddings(spark, Sf0001)
    val cents = graft.operators.Similarity.centroidSeq(e)
    val structs = array(cents.map { case (cl, c) =>
      struct(VectorFunctions.l2Sq(col("v"), array(c.map(lit): _*)).as("d"),
        lit(cl).as("cluster"))
    }: _*)
    for (nprobe <- Seq(1, 4, cents.size + 3)) {
      val fast = org.apache.spark.sql.graft.ColumnBridge.column(
        org.apache.spark.sql.graft.NearestClusters(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("v")),
          cents.map(_._2.toArray).toArray, cents.map(_._1).toArray, nprobe))
      val hof = transform(slice(array_sort(structs), 1, nprobe),
        s => s.getField("cluster"))
      val diff = e.select(col("embedding").cast("array<double>").as("v"))
        .select(fast.as("a"), hof.as("b"))
        .filter(!(col("a") <=> col("b"))).count()
      assert(diff == 0, s"nprobe=$nprobe: bounded insertion must equal full sort")
    }
  }

  test("WinnowingMins is identical to the HOF winnowing formulation") {
    val docs = Tables.documents(spark, Sf0001)
    val diff = docs.select(
        Dedup.winnowingFingerprint(col("text")).as("fast"),
        Dedup.winnowingFingerprintHof(col("text")).as("hof"))
      .filter(!(col("fast") <=> col("hof"))).count()
    assert(diff == 0)
  }

  test("MinHashSig is identical to the HOF minhash formulation") {
    val perms = Dedup.permutations(64)
    val docs = Tables.documents(spark, Sf0001).limit(200)
    val sh = Dedup.wordShingles(col("text"), 1)
    val diff = docs.select(
        Dedup.minhashSignature(sh, perms).as("fast"),
        Dedup.minhashSignatureHof(sh, perms).as("hof"))
      .filter(!(col("fast") <=> col("hof"))).count()
    assert(diff == 0)
  }

  test("MinHashSig ≡ HOF under the portable h60 hash (the gate variant)") {
    val perms = Dedup.permutations(64)
    val docs = Tables.documents(spark, Sf0001).limit(200)
    val sh = Dedup.wordShingles(col("text"), 1)
    val h = graft.functions.Hashing.h60 _
    val diff = docs.select(
        Dedup.minhashSignature(sh, perms, h).as("fast"),
        Dedup.minhashSignatureHof(sh, perms, h).as("hof"))
      .filter(!(col("fast") <=> col("hof"))).count()
    assert(diff == 0)
  }

  test("WordShingles ≡ the HOF shingle formulation (k=1 and k=3, incl. short docs)") {
    val docs = Tables.documents(spark, Sf0001)
    for (k <- Seq(1, 3)) {
      val diff = docs.select(
          Dedup.wordShingles(col("text"), k).as("fast"),
          Dedup.wordShinglesHof(col("text"), k).as("hof"))
        .filter(!(col("fast") <=> col("hof"))).count()
      assert(diff == 0, s"k=$k")
    }
    // explicit short-doc fallback (fewer words than k)
    import spark.implicits._
    val short = Seq("one two").toDF("text")
      .select(Dedup.wordShingles(col("text"), 3).as("s"))
      .as[Seq[String]].head()
    assert(short == Seq("one two"))
    // null text: both formulations yield NULL (null-safe compare)
    val nulls = Seq(Option.empty[String]).toDF("text")
      .select(Dedup.wordShingles(col("text"), 3).as("fast"),
        Dedup.wordShinglesHof(col("text"), 3).as("hof"))
      .filter(!(col("fast") <=> col("hof")) || col("fast").isNotNull).count()
    assert(nulls == 0)
  }

  test("HashStringArray ≡ the transform lambda for h60/xx64, mod and raw, " +
       "null elements included") {
    import graft.functions.Hashing
    val docs = Tables.documents(spark, Sf0001).limit(200)
    val arr = Dedup.wordShingles(col("text"), 2)
    val mod = 1L << 32
    def hofMod(h: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      transform(arr, s => pmod(h(s), lit(mod)))
    def hofRaw(h: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      transform(arr, s => h(s))
    val diff = docs.select(
        Hashing.hashMapped(arr, Hashing.h60 _, mod).as("a"),
        hofMod(Hashing.h60 _).as("b"),
        Hashing.hashMapped(arr, xxhash64(_), mod).as("c"),
        hofMod(xxhash64(_)).as("d"),
        Hashing.hashMapped(arr, Hashing.h60 _, 0L).as("e"),
        hofRaw(Hashing.h60 _).as("f"),
        Hashing.hashMapped(arr, xxhash64(_), 0L).as("g"),
        hofRaw(xxhash64(_)).as("h"))
      .filter(!(col("a") <=> col("b")) || !(col("c") <=> col("d")) ||
        !(col("e") <=> col("f")) || !(col("g") <=> col("h"))).count()
    assert(diff == 0)
    // null element maps to null element, like the HOF; an UNKNOWN hash
    // falls back to the HOF formulation (kindOf = None)
    import spark.implicits._
    val withNull = Seq(Seq(Some("a"), None, Some("b"))).toDF("xs")
    val r = withNull.select(
      Hashing.hashMapped(col("xs"), Hashing.h60 _, 0L).as("ks")).head()
    val ks = r.getSeq[Any](0)
    assert(ks(1) == null && ks(0) != null && ks(2) != null)
    assert(Hashing.kindOf(c => Hashing.h60(c) * lit(1)).isEmpty)
  }

  test("a hash over a transformed argument is not a known hash: HOF path, " +
       "same output as the lambda") {
    import graft.functions.Hashing
    import spark.implicits._
    assert(Hashing.kindOf(Hashing.h60 _).contains("h60"))
    assert(Hashing.kindOf(xxhash64(_)).contains("xx64"))
    val inner: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      s => Hashing.h60(lower(s))
    assert(Hashing.kindOf(inner).isEmpty)
    assert(Hashing.kindOf(s => xxhash64(concat(s, lit("x")))).isEmpty)
    assert(Hashing.kindOf(_ => Hashing.h60(lit("k"))).isEmpty)
    val mod = 1L << 32
    val r = Seq(Seq("Hello", "World")).toDF("xs").select(
        Hashing.hashMapped(col("xs"), inner, mod).as("got"),
        transform(col("xs"), s => pmod(inner(s), lit(mod))).as("hof"),
        Hashing.hashMapped(col("xs"), Hashing.h60 _, mod).as("raw"))
      .as[(Seq[Long], Seq[Long], Seq[Long])].head()
    assert(r._1 == r._2, "inner-wrapped hash must equal its HOF form")
    assert(r._1 != r._3, "the raw-element kernel would hash the untransformed string")
  }

  test("NbMeanLogOdds / BigramAvgLogp fused scoring ≡ the HOF struct " +
       "formulations (identity-wrapped hash forces the HOF path)") {
    import graft.operators.HashedModel
    import graft.functions.Hashing
    val docs = Tables.documentsById(spark, Sf0001)
    val (cls, lm) = HashedModel.trainedStack(spark, Sf0001)
    // multiplying the hash by 1 keeps every value identical but makes the
    // expression tree unrecognizable to Hashing.kindOf — same model, HOF path
    val hofCls = cls.copy(hashFn = c => Hashing.h60(c) * lit(1))
    val hofLm = lm.copy(hashFn = c => Hashing.h60(c) * lit(1))
    val diff = docs.select(
        HashedModel.classifierStruct(cls, col("text")).as("a"),
        HashedModel.classifierStruct(hofCls, col("text")).as("b"),
        HashedModel.perplexityStruct(lm, col("text")).as("c"),
        HashedModel.perplexityStruct(hofLm, col("text")).as("d"))
      .filter(!(col("a") <=> col("b")) || !(col("c") <=> col("d"))).count()
    assert(diff == 0, "fused scoring kernels must match the HOF structs bit-for-bit")
  }

  test("ChunkEmbed ≡ the HOF chunk-embedding formulation") {
    import graft.operators.Prep
    val docs = Tables.documents(spark, Sf0001).limit(300)
    val h = graft.functions.Hashing.h60(col("text"))
    val diff = docs.select(
        Prep.chunkEmbedExpr(h).as("a"),
        Prep.chunkEmbedExprHof(h).as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(diff == 0)
    // null in, null out (the kernel's contract; the HOF diverges here)
    import spark.implicits._
    val nulls = Seq(Option.empty[Long], Some(7L)).toDF("h")
      .select(Prep.chunkEmbedExpr(col("h")).as("a"),
        Prep.chunkEmbedExprHof(col("h")).as("b"))
      .as[(Option[Seq[Double]], Option[Seq[Double]])].collect()
    assert(nulls(0)._1.isEmpty && nulls(0)._2.isDefined)
    assert(nulls(1)._1.isDefined && nulls(1)._1 == nulls(1)._2)
  }

  test("Md5Prefix60 ≡ the hex-string conv formulation on the corpus") {
    val docs = Tables.documents(spark, Sf0001)
    val h = graft.functions.Hashing.h60 _
    val r = graft.functions.Hashing.h60Reference _
    val diff = docs.select(h(col("text")).as("a"), r(col("text")).as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(diff == 0)
    // and over tokens (the shingle-hash shape)
    val diffTok = docs
      .select(explode(split(col("text"), " ", -1)).as("t"))
      .select(h(col("t")).as("a"), r(col("t")).as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(diffTok == 0)
  }

  test("Hashing.h60 pins the cross-engine md5-prefix values") {
    // reference values computed independently (python hashlib md5):
    // int(md5(s).hexdigest()[:15], 16) — DuckDB's ('0x'||substr(md5(s),1,15))
    import spark.implicits._
    val got = Seq("abc", "", "the quick brown fox", "的是不了人", "a b c")
      .toDF("s").select(graft.functions.Hashing.h60(col("s")))
      .as[Long].collect().toSeq
    assert(got == Seq(648541476951500027L, 955282973525019424L,
      220461512654075614L, 1113922378683980567L, 31251835280889960L))
  }

  test("graft_dot / graft_simhash64 are callable from SQL after registration") {
    // same builders GraftExtensions injects; runtime path for live sessions
    org.apache.spark.sql.graft.GraftSqlFunctions.register(spark)
    val d = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head().getDouble(0)
    assert(d == 11.0)
    val h = spark.sql(
      "SELECT graft_simhash64(array(xxhash64('a'), xxhash64('b'))) AS h").head().getLong(0)
    assert(h != 0L)
    val wm = spark.sql(
      "SELECT graft_winnowing_mins(array(5L, 3L, 9L, 1L), 2) AS w").head().getSeq[Long](0)
    assert(wm == Seq(1L, 3L)) // windows [5,3] [3,9] [9,1] -> mins {3, 1}
    val jp = spark.sql(
      """SELECT graft_jaccard_pairs(
        |array(named_struct('id', 1L, 'sset', array(1L, 2L, 3L)),
        |      named_struct('id', 2L, 'sset', array(2L, 3L, 4L))), 0.4d) AS p""".stripMargin)
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(jp.length == 1 && jp.head.getDouble(2) == 0.5)
    val mp = spark.sql("SELECT graft_md5_prefix60('abc') AS h").head().getLong(0)
    assert(mp == 648541476951500027L)
    val ws = spark.sql(
      "SELECT graft_word_shingles(array('a', 'b', 'c'), 2) AS s").head().getSeq[String](0)
    assert(ws == Seq("a b", "b c"))
    // every function in the table resolves, not only the six called above
    val names = org.apache.spark.sql.graft.GraftSqlFunctions.functions.map(_._1)
    assert(names.size == 12 && names.distinct == names)
    names.foreach(n => assert(spark.catalog.functionExists(n), n))
  }
  test("TokenRatioLookup is bit-identical to the literal-map-with-floor form") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.{ColumnBridge, TokenRatioLookup}
    val tokens = (0 until 500).map(i => s"tok$i").toArray
    val ratios = tokens.indices.map(i => 1.0 / (i + 2)).toArray
    val floor = 1.0e-7
    val fm = map(tokens.indices.flatMap(i => Seq(lit(tokens(i)), lit(ratios(i)))): _*)
    // hits, misses, and adversarial strings (empty, spaces-adjacent)
    val docs = Seq("tok0 tok499 tokMISS tok250", "zzz tok1", "tokMISS2")
      .toDF("text")
    val mapForm = transform(split(col("text"), " ", -1),
      t => coalesce(element_at(fm, t), lit(floor)))
    val hashForm = transform(split(col("text"), " ", -1), t =>
      ColumnBridge.column(TokenRatioLookup(ColumnBridge.expression(t), tokens, ratios, floor)))
    val rows = docs.select(mapForm.as("a"), hashForm.as("b"))
      .as[(Seq[Double], Seq[Double])].collect()
    rows.foreach { case (a, b) =>
      assert(a.length == b.length)
      a.zip(b).foreach { case (x, y) =>
        assert(java.lang.Double.doubleToRawLongBits(x)
          == java.lang.Double.doubleToRawLongBits(y))
      }
    }
    // and inside a codegen'd projection (not just the interpreted HOF path)
    val one = docs.limit(1).select(
      ColumnBridge.column(TokenRatioLookup(
        ColumnBridge.expression(lit("tok3")), tokens, ratios, floor)).as("v"))
      .head().getDouble(0)
    assert(one == ratios(3))
  }

  test("NfcNormalize: already-NFC input is returned as-is, decomposed input normalizes, codegen ≡ eval") {
    import spark.implicits._
    import graft.functions.TextFunctions.nfcNormalize
    val rows = Seq(
      "plain ascii text",
      "caf\u00e9",            // precomposed é — already NFC
      "cafe\u0301",           // e + combining acute — NFC composes to é
      "A\u030a",              // A + combining ring → Å
      "")
    val df = rows.toDF("s")
    val got = df.select(nfcNormalize(col("s"))).as[String].collect().toSeq
    val expect = rows.map(java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFC))
    assert(got == expect)
    assert(got(2) == "caf\u00e9" && got(3) == "\u00c5")
    // null propagates
    assert(Seq[Option[String]](None).toDF("s")
      .select(nfcNormalize(col("s"))).collect().head.isNullAt(0))
    // interpreted eval agrees with the (codegen'd) projection
    rows.foreach { r =>
      val viaEval = org.apache.spark.sql.graft.NfcNormalize.nfc(
        org.apache.spark.unsafe.types.UTF8String.fromString(r)).toString
      assert(viaEval == java.text.Normalizer.normalize(r, java.text.Normalizer.Form.NFC))
    }
  }

  test("Interleave2: hand cases + agreement with a bit-loop reference") {
    import org.apache.spark.sql.graft.Interleave2
    // a=101b (even positions), b=011b (odd positions): 1 + 16 + 2 + 8 = 27
    assert(Interleave2.zkey(5L, 3L, 3) == 27L)
    assert(Interleave2.zkey(0L, 0L, 16) == 0L)
    assert(Interleave2.zkey((1L << 16) - 1, 0L, 16) == 0x55555555L)
    assert(Interleave2.zkey(0L, (1L << 16) - 1, 16) == 0xAAAAAAAAL)
    val rnd = new scala.util.Random(7)
    def ref(a: Long, b: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L)((acc, i) =>
        acc | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1)))
    (1 to 200).foreach { _ =>
      val (a, b) = (rnd.nextInt(1 << 16).toLong, rnd.nextInt(1 << 16).toLong)
      assert(Interleave2.zkey(a, b, 16) == ref(a, b, 16))
    }
    // column form (codegen path) agrees
    import spark.implicits._
    val got = Seq((5L, 3L)).toDF("a", "b")
      .select(graft.operators.Layout.zorderKey(col("a"), col("b"), 3))
      .as[Long].head()
    assert(got == 27L)
  }

  test("CdcCuts ≡ the HOF xxhash64 boundary formulation (corpus + multi-byte)") {
    import org.apache.spark.sql.graft.{CdcCuts, ColumnBridge}
    import graft.operators.Prep
    import spark.implicits._
    def fast(t: org.apache.spark.sql.Column, win: Int, div: Int) =
      ColumnBridge.column(CdcCuts(ColumnBridge.expression(t), win, div))
    // whole real corpus, both the default and a second geometry
    for ((win, div) <- Seq((8, 64), (5, 16))) {
      val d = Tables.documents(spark, Sf0001)
        .select(col("doc_id"),
          fast(col("text"), win, div).as("a"),
          Prep.cdcCutsHof(col("text"), win, div, xxhash64(_)).as("b"))
      assert(d.filter(not(col("a") <=> col("b"))).count() == 0)
    }
    // multi-byte chars: the byte-offset walk must track char windows
    val texts = Seq("héllo wörld déjà vu ensemble à la carte ©2024 中文文本测试",
      "", "short", "exactly8", "ASCII then 中文 mixed ünïcödé tail padding")
    val mb = texts.toDF("text")
      .select(fast(col("text"), 4, 4).as("a"),
        Prep.cdcCutsHof(col("text"), 4, 4, xxhash64(_)).as("b"))
    assert(mb.filter(not(col("a") <=> col("b"))).count() == 0)
    // interpreted eval agrees with codegen (collect through a filter that
    // defeats constant folding is overkill here: call eval directly)
    val e = CdcCuts(org.apache.spark.sql.catalyst.expressions.Literal(
      org.apache.spark.unsafe.types.UTF8String.fromString(texts.head),
      org.apache.spark.sql.types.StringType), 4, 4)
    val viaEval = e.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray().toSeq
    val viaDf = texts.take(1).toDF("text")
      .select(fast(col("text"), 4, 4)).as[Seq[Int]].head()
    assert(viaEval == viaDf)
  }
}
