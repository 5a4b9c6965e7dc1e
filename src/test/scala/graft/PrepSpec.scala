package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Prep

class PrepSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("html extraction: content text survives, boilerplate content is removed") {
    val docs = Tables.documents(spark, Sf0001).filter($"doc_id" < 50)
    val texts = docs.select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val out = Prep.extractHtmlTextOf(Prep.htmlFromDocuments(docs))
      .as[(Long, String, Long)].collect()
    assert(out.length == 50)
    for ((id, clean, n) <- out) {
      // expected content = title + heading + body paragraph, ws-collapsed
      val expected = s"doc $id doc $id ${texts(id).trim.replaceAll("\\s+", " ")}"
      assert(clean == expected, s"doc $id: extraction mangled content")
      assert(n == clean.length.toLong)
      // boilerplate CONTENT must be gone, not just the tags
      assert(!clean.contains("home about contact"), "nav content leaked")
      assert(!clean.contains("fixture corp"), "footer content leaked")
      assert(!clean.contains("var x="), "script content leaked")
      assert(!clean.contains("color:#000"), "style content leaked")
      assert(!clean.contains("<"), "tags leaked")
    }
  }

  test("chunkOverlap covers all tokens with the declared overlap") {
    val win = 32; val stride = 24
    val chunks = Prep.chunkOverlap(spark, Sf0001, win, stride)
      .as[(Long, Long, Long, Long)].collect()
    val docs = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), size(split(col("text"), " ", -1)).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    chunks.groupBy(_._1).foreach { case (id, cs) =>
      val n = docs(id)
      val sorted = cs.sortBy(_._2)
      // chunk i covers [i*stride, i*stride + n_tokens); the union must be
      // exactly [0, n) and consecutive chunks must overlap by win - stride
      assert(sorted.head._2 == 0L)
      val last = sorted.last
      assert(last._2 * stride + last._3 == n) // last chunk ends at n
      sorted.foreach { case (_, ci, nt, _) =>
        assert(nt == math.min(win.toLong, n - ci * stride)) // full or tail
      }
      if (n > win) assert(sorted.length == 1 + ((n - win + stride - 1) / stride))
      else assert(sorted.length == 1)
    }
  }

  test("chunkOverlap chunk hash identifies chunk content") {
    // two docs with identical text must produce identical chunk hashes
    val c = Prep.chunkOverlap(spark, Sf0001)
    val dup = c.groupBy("chunk_hash", "n_tokens").count().filter(col("count") > 1)
    // sanity only: hashes are deterministic (re-run equal)
    assert(c.collect().sameElements(Prep.chunkOverlap(spark, Sf0001).collect()))
    dup.count() // materializes without error
  }

  test("piiScrub removes every synthesized email and phone") {
    val out = Prep.piiScrub(spark, Sf0001)
    assert(out.filter(col("scrubbed").rlike("[a-z0-9._]+@[a-z0-9.]+")).count() == 0)
    assert(out.filter(col("scrubbed").rlike("[0-9]{3}-[0-9]{4}")).count() == 0)
    // each doc got exactly one email + one phone appended, counts reflect it
    assert(out.filter(col("n_emails") =!= 1 || col("n_phones") =!= 1).count() == 0)
    assert(out.filter(!col("scrubbed").contains("<EMAIL>")).count() == 0)
    assert(out.filter(!col("scrubbed").contains("<PHONE>")).count() == 0)
  }

  test("decontaminate flags exactly the docs sharing a 3-gram with the benchmark") {
    // brute-force oracle: exact string-shingle intersection per train doc
    val docs = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    def sh3(t: String): Set[String] = {
      val w = t.split(" ", -1)
      if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toSet else Set(t)
    }
    val bench = docs.filter(_._1 % 10 == 0).flatMap(x => sh3(x._2)).toSet
    val expected = docs.filter(_._1 % 10 != 0).map { case (id, t) =>
      id -> sh3(t).count(bench.contains)
    }.toMap
    val got = Prep.decontaminate(spark, Sf0001)
      .as[(Long, Boolean, Long)].collect()
    assert(got.length == expected.size)
    got.foreach { case (id, flag, n) =>
      assert(n == expected(id).toLong, s"doc $id")
      assert(flag == (expected(id) > 0))
    }
  }

  test("cdcChunks: chunks reassemble to the original text") {
    val docs = Tables.documents(spark, Sf0001)
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect().toMap
    // re-derive chunk text from (start offsets implied by lengths) — the
    // operator ships only hashes, so reassembly is checked via lengths +
    // re-hashing the reconstructed slices
    val rows = Prep.cdcChunks(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    import graft.functions.Hashing.h60
    val byDoc = rows.groupBy(_._1)
    assert(byDoc.keySet == texts.keySet)
    val recheck = byDoc.toSeq.flatMap { case (id, cs) =>
      val t = texts(id)
      val sorted = cs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == sorted.indices.map(_.toLong),
        s"doc $id chunk_idx gap")
      assert(sorted.map(_._4).sum == t.length, s"doc $id length sum")
      var off = 0
      sorted.map { case (_, idx, hash, len) =>
        val s = t.substring(off, off + len.toInt); off += len.toInt
        (id, idx, s, hash)
      }
    }
    // batch-verify the reconstructed chunk hashes through the same h60
    val ver = recheck.toDF("doc_id", "chunk_idx", "s", "expected")
      .withColumn("got", h60(col("s")))
    assert(ver.filter(col("got") =!= col("expected")).count() == 0)
  }

  test("cdcChunks: boundaries re-synchronize after a prefix edit") {
    // all cuts of T reappear (shifted) in prefix+T: a cut's window never
    // overlaps the prefix (cut ≥ win), so the chunk sequence after T's
    // first cut is a suffix of the edited doc's chunk sequence
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text")
    val multi = Prep.cdcChunks(docs).groupBy("doc_id").count()
      .filter(col("count") >= 3).select("doc_id")
      .as[Long].collect().toSet
    assert(multi.nonEmpty, "need a doc with >= 3 chunks")
    val pick = multi.min
    val base = docs.filter(col("doc_id") === pick)
    val edited = base.select(col("doc_id"),
      concat(lit("EDIT INSERTED PREFIX "), col("text")).as("text"))
    val h0 = Prep.cdcChunks(base).orderBy("chunk_idx")
      .select("chunk_hash").as[Long].collect().toSeq
    val h1 = Prep.cdcChunks(edited).orderBy("chunk_idx")
      .select("chunk_hash").as[Long].collect().toSeq
    assert(h1.endsWith(h0.drop(1)),
      s"tail of $h0 not preserved in $h1")
  }

  test("cdcChunksGate: window occurrence count equals the groupBy count") {
    // slice-first gate (VERDICT r14 item 4): counts are slice-global, so
    // the independent recount runs over the same bounded slice
    val gate = Prep.cdcChunksGate(spark, Sf0001, maxDoc = 100)
    val chunks = Prep.cdcChunks(
      Tables.documents(spark, Sf0001).filter(col("doc_id") < 100))
    val agg = chunks.groupBy("chunk_hash").agg(count(lit(1)).as("exp_occ"))
    val bad = gate.join(agg, "chunk_hash")
      .filter(col("n_occ") =!= col("exp_occ")).count()
    assert(bad == 0)
    assert(gate.filter(col("doc_id") >= 100).count() == 0)
    // the dedup signal is non-trivial on the slice: some chunk recurs
    assert(gate.filter(col("n_occ") > 1).count() > 0)
    // partitioning independence of the full chunk table
    val a = Prep.cdcChunks(Tables.documents(spark, Sf0001).repartition(7))
      .orderBy("doc_id", "chunk_idx").collect()
    val b = Prep.cdcChunks(Tables.documents(spark, Sf0001))
      .orderBy("doc_id", "chunk_idx").collect()
    assert(a.sameElements(b))
  }

  test("cdcChunksFast ≡ cdcChunks(xxhash64) bit-exactly") {
    val docs = Tables.documents(spark, Sf0001)
    val a = Prep.cdcChunksFast(docs).orderBy("doc_id", "chunk_idx").collect()
    val b = Prep.cdcChunks(docs, hashFn = xxhash64(_))
      .orderBy("doc_id", "chunk_idx").collect()
    assert(a.sameElements(b))
  }

  test("cdcChunks: production xxhash64 variant keeps the chunking invariants") {
    val docs = Tables.documents(spark, Sf0001)
    val xx = Prep.cdcChunks(docs, hashFn = xxhash64(_))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val lens = docs.select(col("doc_id"), length(col("text")).cast("long"))
      .as[(Long, Long)].collect().toMap
    // full coverage: per-doc chunk lengths sum to the doc length, indices
    // contiguous — hash choice changes WHERE cuts land, never the contract
    xx.groupBy(_._1).foreach { case (id, cs) =>
      assert(cs.map(_._3).sum == lens(id))
      assert(cs.map(_._2).sorted.toSeq == cs.indices.map(_.toLong))
    }
  }

  test("chunkTextsOf carries exactly chunkOverlapOf's windows (hash-verified)") {
    import graft.functions.Hashing.h60
    val docs = Tables.documents(spark, Sf0001)
    val viaText = Prep.chunkTextsOf(docs)
      .select($"doc_id", $"chunk_idx", h60($"text").as("h"))
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val viaHash = Prep.chunkOverlapOf(docs)
      .select($"doc_id", $"chunk_idx", $"chunk_hash")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(viaText == viaHash && viaText.nonEmpty)
  }

  test("passage retrieval localizes the hit to the matching window") {
    // 40 filler tokens + the query terms at the tail: chunk 0 = [0,32) has
    // no hit, chunk 1 = [24,43) carries them — the chunk-level index must
    // rank (doc, chunk 1), never chunk 0
    val text = (Seq.fill(40)("w") ++ Seq("dup", "vector", "query")).mkString(" ")
    val chunks = Prep.chunkTextsOf(Seq((7L, text)).toDF("doc_id", "text"))
      .select(($"doc_id" * 1000 + $"chunk_idx").as("doc_id"), $"text")
    val state = tempDir("passage")
    graft.streaming.LexStatsStream.applyBatch(spark, chunks, 0L, state)
    val out = graft.streaming.LexStatsStream.bm25TopkIndexed(spark, state, k = 5)
      .as[(Long, Double)].collect().toSeq
    assert(out.map(_._1) == Seq(7001L), s"got $out")
  }
}
