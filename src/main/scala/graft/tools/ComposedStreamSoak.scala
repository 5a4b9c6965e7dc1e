package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Components, CorpusOverlap, Curation, HashedModel, Pq, Similarity, SubstringDedup, TextAnalysis}
import graft.streaming.{AnomalyStream, BpeStream, CdcStream, ComponentsStream, CurationStream, DriftStream, EmbeddingIndexStream, FunnelStream, HashedModelStream, HistogramStream, LexStatsStream, MediaStream, OverlapStream, ProfileStream, QualityStream, RetentionStream, StateHistoryStream, SubstringDedupStream}

/** Composed streaming soak (round 15: sixteen streams; round 17:
  * seventeen; round 18: eighteen — MediaStream, the stateless media tier;
  * round 19: NINETEEN — the passage-grain lexical index joined, and the
  * doc-grain lexical stream now takes an IN-LOOP delete at an interleaved
  * maintenance id, kill-replayed; round 20: the SAME batch-17 churn
  * CASCADES into the passage stream — ids-only pid resolution, replayed —
  * and both lexical grains are checked against their live corpora before
  * and after compaction; round 20 s2: TWENTY — the image-ANN lifecycle
  * tier joined (real PNG decode per batch, exact-Long features, the
  * shared EmbeddingIndexStream dir discipline) and the batch-17 opt-out
  * now hits a THIRD index family, checked against a one-shot build over
  * the live image corpus before and after the purge): OverlapStream,
  * CurationStream, EmbeddingIndexStream (triple-write), ComponentsStream,
  * SubstringDedupStream, HashedModelStream, ProfileStream, BpeStream,
  * HistogramStream (frozen grid), RetentionStream, FunnelStream,
  * DriftStream (frozen grid), AnomalyStream, StateHistoryStream
  * (incremental SCD2), QualityStream (constraint monitoring, frozen ref
  * dim + fixed check suite), CdcStream (chunk-dedup counts on the
  * round-15 StateLog), LexStatsStream (maintained lexical index — stats +
  * posting lists, served + indexed BM25), MediaStream (stateless media
  * tier through the real WAV/PNG codecs) — consuming ONE shared
  * document/embedding drop
  * sequence in the same session for 50+ batches, with at-least-once
  * replays injected at batch boundaries (including immediately after a
  * compaction — the OverlapStream `batch=-1` lesson) and every stream's
  * auto-compaction armed. Individual crash/replay behavior is spec-pinned
  * per stream; what THIS measures is the composition: shared session, one
  * arrival order, state folds and compactions interleaving, and at the end
  * a full batch recompute over the union proving composed exactly-once —
  * every stream's final state equals the one-shot batch answer.
  *
  * Batches are id-RANGES (in-order arrival) because CurationStream's
  * batch-equality contract is exact only for in-order delivery
  * (out-of-order degrades to documented first-arrival-wins).
  * Results → STRESS.md ("Composed streaming soak").
  */
object ComposedStreamSoak {

  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local(graft.Sessions.cpus(32))
    import spark.implicits._

    val amp = sys.env.getOrElse("SPARK_GRAFT_SOAK_AMP", "8").toInt
    val nb = sys.env.getOrElse("SPARK_GRAFT_SOAK_BATCHES", "50").toInt
    val numPerm = 64
    val h = (c: org.apache.spark.sql.Column) => xxhash64(c)

    def rekey(df: DataFrame, idCol: String): DataFrame =
      df.select(col("*"), explode(sequence(lit(0L), lit(amp - 1L))).as("rep"))
        .withColumn(idCol, col(idCol) * amp + col("rep"))
        .drop("rep")
    val docs = rekey(graft.Tables.documents(spark, sf), "doc_id").localCheckpoint(true)
    val embs = rekey(graft.Tables.embeddings(spark, sf), "vec_id").localCheckpoint(true)
    val nDocs = docs.count()
    val sz = (nDocs + nb - 1) / nb
    def docB(i: Int) = docs.filter(col("doc_id") >= i * sz && col("doc_id") < (i + 1) * sz)
    def embB(i: Int) = embs.filter(col("vec_id") >= i * sz && col("vec_id") < (i + 1) * sz)
    // chains of 10 consecutive ids — components deliberately SPAN batches,
    // so cross-batch root merges happen continuously
    def pairB(i: Int) = docB(i).select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
      .filter(pmod(col("a"), lit(10)) =!= 9)
    // derived event stream for the retention fold: users recur across
    // batches (mod key) and a user's EARLIEST week can arrive in any batch
    // (ts is doc_id mod the calendar, not monotone per user) — continuous
    // cohort revisions, the operator's hardest case
    def evDerive(df: org.apache.spark.sql.DataFrame) = df.select(
      pmod(col("doc_id"), lit(997)).as("user_id"),
      to_timestamp(date_add(to_date(lit("2024-01-01")),
        pmod(col("doc_id"), lit(365)).cast("int"))).as("ts"))
    def evB(i: Int) = evDerive(docB(i))
    // funnel's derived stream: ts MONOTONE in doc_id (batches are ascending
    // id ranges ⇒ event-time in-order delivery, the FunnelStream contract);
    // users recur via the mod key, stage types cycle so view→click→purchase
    // sequences complete across batches
    def fvDerive(df: org.apache.spark.sql.DataFrame) = df.select(
      pmod(col("doc_id"), lit(499)).as("user_id"),
      element_at(array(lit("view"), lit("click"), lit("purchase"), lit("error")),
        (pmod(col("doc_id"), lit(4)) + 1).cast("int")).as("event_type"),
      (to_timestamp(lit("2024-01-01 00:00:00")) +
        expr("make_dt_interval(0, 0, 0, doc_id)")).as("ts"))
    def fvB(i: Int) = fvDerive(docB(i))
    // SCD2's derived change log: same in-order contract as the funnel
    // stream (ts monotone in doc_id), but the state changes only every
    // THIRD event per user, so runs regularly SPAN batch boundaries —
    // the cross-batch extend/close merge is exercised continuously
    def shDerive(df: org.apache.spark.sql.DataFrame) = df.select(
      pmod(col("doc_id"), lit(499)).as("user_id"),
      col("doc_id").as("event_id"),
      element_at(array(lit("a"), lit("b"), lit("c"), lit("d")),
        (pmod(floor(col("doc_id") / lit(499 * 3)), lit(4)) + 1).cast("int")).as("state"),
      (to_timestamp(lit("2024-01-01 00:00:00")) +
        expr("make_dt_interval(0, 0, 0, doc_id)")).as("ts"))
    def shB(i: Int) = shDerive(docB(i))

    val profCols = Seq("doc_id" -> graft.operators.Profile.NumCol,
      "lang" -> graft.operators.Profile.StrCol,
      "source" -> graft.operators.Profile.StrCol,
      "n_chars" -> graft.operators.Profile.NumCol)
    val base = graft.Tables.embeddings(spark, sf)
    val cents = Similarity.centroidSeq(base)
    val cb = Pq.trainedCodebooks(base, "soak")
    val (anchors, rcb) = Pq.trainedResidualModel(base, cents, "soak")

    val tmp = java.nio.file.Files.createTempDirectory("graft-soak").toString
    val (ovState, ovOut) = (s"$tmp/ov-state", s"$tmp/ov-out")
    val (curState, curOut) = (s"$tmp/cur-state", s"$tmp/cur-out")
    val ccState = s"$tmp/cc-state"
    val ssState = s"$tmp/ss-state"
    val hmState = s"$tmp/hm-state"
    val pfState = s"$tmp/pf-state"
    val bpState = s"$tmp/bp-state"
    val hgState = s"$tmp/hg-state"
    val rtState = s"$tmp/rt-state"
    val fnState = s"$tmp/fn-state"
    val dfState = s"$tmp/df-state"
    val anState = s"$tmp/an-state"
    val shState = s"$tmp/sh-state"
    val qlState = s"$tmp/ql-state"
    val cdState = s"$tmp/cd-state"
    val lxState = s"$tmp/lx-state"
    val lpState = s"$tmp/lp-state"
    val mdOut = s"$tmp/md-out"
    val imState = s"$tmp/im-state"
    // [r20 s2] the image-ANN tier's frozen coarse quantizer: 8 seed doc
    // VECTORS (real PNG decode), fixed for the state's lifetime — the
    // reseed verb is offline maintenance, not a per-batch concern
    val imCents = graft.operators.ImageAnn.centroidsOf(docs)
    // fixed check suite + frozen ref dim for the QualityStream fold (the
    // contract: both constant for the state's lifetime)
    val qlDim = docs.sparkSession.createDataFrame(
      Seq(Tuple1("web"), Tuple1("books"), Tuple1("wiki"), Tuple1("code"),
        Tuple1("forum"), Tuple1("news"))).toDF("s_name")
    val qlChecks: Seq[graft.operators.Quality.Check] = Seq(
      graft.operators.Quality.NotNull("doc_id"),
      graft.operators.Quality.Unique("doc_id"),
      graft.operators.Quality.Unique("source"),
      graft.operators.Quality.InRange("n_chars", 0.0, 1e7),
      graft.operators.Quality.MatchesPattern("source", "^[a-z]+$"),
      graft.operators.Quality.RefIntegrity("source", "s_name", "dim"))
    val qlRefs = Map("dim" -> qlDim)
    val (idx, qidx, pidx) = (s"$tmp/idx-exact", s"$tmp/idx-int8", s"$tmp/idx-pq")
    val pridx = s"$tmp/idx-pqr"

    def oneBatch(i: Int): Double = {
      val t0 = System.nanoTime()
      OverlapStream.applyBatch(spark, docB(i), i.toLong, ovState, ovOut, numPerm)
      CurationStream.curateBatch(spark, docB(i), curState, i.toLong,
        outDir = Some(curOut), hashFn = h, autoCompactBytes = 512 * 1024)
      EmbeddingIndexStream.applyBatch(embB(i), i.toLong, cents, idx,
        quantizedDir = Some(qidx), pqLoaded = Some((pidx, cb)),
        pqrLoaded = Some((pridx, anchors, rcb)),
        autoCompactBatches = 8)
      ComponentsStream.applyBatch(spark, pairB(i), "a", "b", i.toLong, ccState,
        autoCompactBytes = 256 * 1024)
      SubstringDedupStream.applyBatch(spark, docB(i), i.toLong, ssState,
        L = 5, autoCompactBatches = 8)
      HashedModelStream.applyBatch(spark, docB(i), i.toLong, hmState,
        hashFn = h, autoCompactBatches = 8)
      ProfileStream.applyBatch(spark, docB(i), i.toLong, pfState, profCols,
        k = 256, hash = graft.operators.Profile.Xx64, autoCompactBatches = 8)
      BpeStream.applyBatch(spark, docB(i), i.toLong, bpState,
        autoCompactBatches = 8)
      HistogramStream.applyBatch(spark, docB(i), i.toLong, hgState,
        autoCompactBatches = 8)
      RetentionStream.applyBatch(spark, evB(i), i.toLong, rtState,
        autoCompactBatches = 8)
      FunnelStream.applyBatch(spark, fvB(i), i.toLong, fnState)
      DriftStream.applyBatch(spark, docB(i), i.toLong, dfState,
        autoCompactBatches = 8)
      AnomalyStream.applyBatch(spark, evB(i), i.toLong, anState,
        autoCompactBatches = 8)
      StateHistoryStream.applyBatch(spark, shB(i), i.toLong, shState,
        autoCompactBatches = 8)
      QualityStream.applyBatch(spark, docB(i), i.toLong, qlState, qlChecks,
        qlRefs, autoCompactBatches = 8)
      CdcStream.applyBatch(spark, docB(i), i.toLong, cdState,
        autoCompactBatches = 8)
      // [r19] the lex stream runs on DOUBLED ingest ids (2i) so in-loop
      // maintenance can take the interleaved odd id — the monotone-counter
      // contract: a maintenance id must order between its past and future
      // ingests, or its ceiling would hide batches that arrive later
      LexStatsStream.applyBatch(spark, docB(i), 2L * i, lxState,
        autoCompactBatches = 8)
      // in-loop churn at batch 17 (a batch the i%12==5 kill-replay ALSO
      // re-delivers — the maintenance verb's idempotence is exercised
      // composed, not just spec'd): delete every %10==3 doc at ceiling 35.
      // Docs %10==3 already ingested (batches ≤ 17, src_batch ≤ 34) hide;
      // the SAME predicate's docs arriving in batches 18..49 (src_batch ≥
      // 36 > ceiling) must stay live — the ceiling semantics against
      // future arrivals, under auto-compaction, with 17 other streams
      // interleaving
      if (i == 17)
        LexStatsStream.deleteDocs(spark,
          docs.filter(pmod(col("doc_id"), lit(10)) === 3).select("doc_id"),
          2L * 17 + 1, lxState)
      MediaStream.applyBatch(spark, docB(i), i.toLong, mdOut)
      // [r19] 19th stream: the PASSAGE (chunk-grain) lexical index —
      // chunking is stateless, so each doc batch's chunk rows are disjoint
      // and fold through the same two-log machinery (pid = doc·1000 + idx).
      // [r20] doubled ingest ids, like the doc-grain stream, so the
      // cascaded churn below takes the interleaved odd id.
      graft.streaming.PassageLex.applyBatch(spark, docB(i), 2L * i, lpState,
        autoCompactBatches = 8)
      // [r20] the CASCADED churn (verdict r19 item 1): the SAME batch-17
      // opt-out event that hits the doc-grain index cascades into the
      // chunk grain — ids only (no text at hand), pids resolved from the
      // raw postings log, ceiling 35 tombstones + negative stats
      // corrections. Batch 17 is also the i%12==5 kill-replay batch, so
      // the cascade's replay idempotence (raw-view pid re-resolution
      // recommitting identical tombstones) is exercised IN the loop,
      // under auto-compaction, with 18 other streams interleaving.
      if (i == 17)
        graft.streaming.PassageLex.deleteDocs(spark, lpState,
          docs.filter(pmod(col("doc_id"), lit(10)) === 3).select("doc_id"),
          2L * 17 + 1)
      // [r20 s2] 20th stream: the image-ANN lifecycle tier — REAL PNG
      // decode → exact-Long cell-sum features → the shared
      // EmbeddingIndexStream dir discipline (idempotent batch=<2i> dirs,
      // per-row src_batch). Doubled ingest ids like both lexical grains,
      // so the batch-17 opt-out event takes the interleaved odd id here
      // too: ceiling 35 hides every %10==3 doc already decoded (src_batch
      // ≤ 34) while the SAME predicate's docs arriving in batches 18..49
      // (src_batch ≥ 36) stay retrievable. Batch 17 is a kill-replay
      // batch, so the tombstone commit's idempotence (same batch dir,
      // same per-row ceilings) is exercised in-loop.
      graft.operators.ImageAnn.applyStreamBatch(
        graft.operators.ImageAnn.featuresOf(docB(i)), 2L * i, imCents, imState)
      if (i == 17)
        EmbeddingIndexStream.tombstoneRows(spark,
          docs.filter(pmod(col("doc_id"), lit(10)) === 3)
            .select(col("doc_id").as("vec_id"), lit(2L * 17 + 1).as("ceiling")),
          2L * 17 + 1, imState)
      (System.nanoTime() - t0) / 1e9
    }

    HistogramStream.ensureGrid(spark, hgState,
      graft.operators.Profile.histogramGrid(docs, Seq("doc_id", "n_chars")), 16)
    DriftStream.ensureGrid(spark, dfState,
      graft.operators.Profile.histogramGrid(docs, Seq("n_chars")).head._2, 16)

    println("batch,sec,note")
    for (i <- 0 until nb) {
      val t = oneBatch(i)
      val notes = new scala.collection.mutable.ArrayBuffer[String]
      // at-least-once kill simulation: crash-before-checkpoint re-delivers
      // the SAME batch to every stream
      if (i % 12 == 5) {
        val tr = oneBatch(i)
        notes += f"replay=$tr%.2f"
      }
      // overlap state has no inline trigger — dir-count maintenance pass,
      // immediately followed by a replay of the just-folded tail batch
      // (the batch=-1 regression's exact shape)
      if (i % 16 == 15) {
        OverlapStream.compactState(spark, ovState)
        val tr = oneBatch(i)
        notes += f"ov-compact+replay=$tr%.2f"
      }
      println(f"$i,$t%.2f,${notes.mkString(" ")}")
    }

    // ---- composed exactly-once: final state ≡ one-shot batch recompute ----
    def check(name: String, ok: Boolean): Unit =
      println(s"check,$name,${if (ok) "PASS" else "FAIL"}")

    // overlap: merged signatures == whole-corpus signatures
    val streamSigs = OverlapStream.mergedState(spark, ovState)
      .as[(String, Seq[Long])].collect().toMap
    val batchSigs = CorpusOverlap.sliceSignatures(
        CorpusOverlap.sliceVocab(docs, "text", "source"), numPerm)
      .as[(String, Seq[Long])].collect().toMap
    check("overlap_sigs", streamSigs == batchSigs)

    // curation: accumulated output == batch curate over the union corpus
    val sfDir = s"$tmp/sf"
    docs.write.mode("overwrite").parquet(s"$sfDir/documents.parquet")
    val streamCur = spark.read.parquet(curOut).drop("batch")
      .as[(Long, String, Double, Long, Long, Long)].collect().toSet
    val batchCur = Curation.curate(spark, sfDir, hashFn = h)
      .as[(Long, String, Double, Long, Long, Long)].collect().toSet
    check("curation_rows", streamCur == batchCur)

    // index: streamed+compacted membership == one-shot build; probed query ==
    Similarity.buildIndex(embs, cents, s"$tmp/idx-oneshot")
    def members(p: String) = spark.read.parquet(p).select("vec_id", "cluster")
      .as[(Long, Int)].collect().toSet
    check("index_membership", members(idx) == members(s"$tmp/idx-oneshot"))
    val probes = embs.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    def ans(p: String) = Similarity.ivfTopKIndexedVectors(spark, p, cents, probes, 5, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    check("index_query", ans(idx) == ans(s"$tmp/idx-oneshot"))
    val pqStream = spark.read.parquet(pidx).select("vec_id", "code")
      .as[(Long, Long)].collect().toSet
    Pq.buildIndexPq(embs, cents, cb, s"$tmp/pq-oneshot")
    val pqOne = spark.read.parquet(s"$tmp/pq-oneshot").select("vec_id", "code")
      .as[(Long, Long)].collect().toSet
    check("pq_codes", pqStream == pqOne)
    val pqrStream = spark.read.parquet(pridx).select("vec_id", "code")
      .as[(Long, Long)].collect().toSet
    Pq.buildIndexPqResidual(embs, cents, anchors, rcb, s"$tmp/pqr-oneshot")
    val pqrOne = spark.read.parquet(s"$tmp/pqr-oneshot").select("vec_id", "code")
      .as[(Long, Long)].collect().toSet
    check("pqr_codes", pqrStream == pqrOne)

    // components: streamed labels == one-shot connected components
    val allPairs = (0 until nb).map(pairB).reduce(_ unionByName _)
    // node column deliberately NOT named "id": componentLabels' left join
    // would hit ambiguity against the labels frame's own "id"
    val nodes = allPairs.select(col("a").as("node_id"))
      .union(allPairs.select(col("b").as("node_id"))).distinct()
    val streamed = ComponentsStream.currentLabels(spark, ccState, nodes, "node_id")
      .as[(Long, Long)].collect().toSet
    // componentLabels, not raw connectedComponents: the fixpoint edge list
    // has no (root, root) self-row, while currentLabels labels every node —
    // compare like with like (the ComponentsStreamSpec contract)
    val oneShot = Components.componentLabels(nodes, "node_id", allPairs, "a", "b")
      .as[(Long, Long)].collect().toSet
    check("cc_labels", streamed == oneShot)

    // substring dedup: currentSpans over the union ≡ batch repeatedSpans
    val ssStream = SubstringDedupStream.currentSpans(spark, ssState, docs, L = 5)
      .as[(Long, Long, Long, Long, Double, String)].collect().toSet
    val ssBatch = SubstringDedup.repeatedSpans(docs, "text", "doc_id", L = 5)
      .as[(Long, Long, Long, Long, Double, String)].collect().toSet
    check("substring_spans", ssStream == ssBatch)

    // hashed models: scores under the folded count state ≡ one-shot
    // trainModelStack over the union — bit-identical literal models
    val hmStream = HashedModelStream.currentScores(spark, hmState, docs, hashFn = h)
      .as[(Long, Long, Double, Double, Long, Option[Double], Option[Double])]
      .collect().toSet
    val hmBatch = HashedModelStream.scoreWith(
        HashedModel.trainModelStack(docs, hashFn = h), docs)
      .as[(Long, Long, Double, Double, Long, Option[Double], Option[Double])]
      .collect().toSet
    check("hashed_model_scores", hmStream == hmBatch)

    // calibration read from the folded stack ≡ batch calibration (the
    // continuously-retraining deployment's operating-point read)
    val calStream = HashedModelStream.currentCalibration(spark, hmState, docs, hashFn = h)
      .collect().toSeq
    val calBatch = HashedModel.calibrationOf(docs, "en",
        HashedModel.trainModelStack(docs, hashFn = h)._1)
      .collect().toSeq
    check("calibration_curve", calStream == calBatch && calStream.nonEmpty)

    // profiler: folded state presents the one-shot sketched profile
    val pfStream = ProfileStream.currentProfile(spark, pfState,
        k = 256, hash = graft.operators.Profile.Xx64)
      .collect().toSeq
    val pfBatch = graft.operators.Profile.profileTheta(docs, profCols,
        k = 256, hash = graft.operators.Profile.Xx64)
      .collect().toSeq
    check("profile_columns", pfStream == pfBatch)

    // BPE: tokenizer elected from the folded word state ≡ one-shot train
    // over the union (and the live token accounting matches the batch
    // accounting under it)
    val bpStream = BpeStream.currentTokenizer(spark, bpState)
    val bpBatch = graft.operators.Bpe.train(docs)
    check("bpe_tokenizer", bpStream.merges == bpBatch.merges &&
      bpStream.words.sameElements(bpBatch.words) &&
      bpStream.tokenCounts.sameElements(bpBatch.tokenCounts))
    val tcStream = BpeStream.currentTokenCounts(spark, bpState, docs)
      .orderBy("doc_id").collect().toSeq
    val tcBatch = graft.operators.Bpe.tokenCountsOf(docs, bpBatch)
      .orderBy("doc_id").collect().toSeq
    check("bpe_token_counts", tcStream == tcBatch && tcStream.nonEmpty)

    // histogram: frozen-grid fold over all batches ≡ one-shot histogram
    val hgStream = HistogramStream.currentHistogram(spark, hgState)
      .collect().toSeq
    val hgBatch = graft.operators.Profile.histogram(
        docs, Seq("doc_id", "n_chars"), 16)
      .collect().toSeq
    check("histogram_fold", hgStream == hgBatch && hgStream.nonEmpty)

    // retention: folded (user, week) state ≡ one-shot cohort matrix over
    // the union's derived events
    val rtStream = RetentionStream.currentRetention(spark, rtState)
      .collect().toSeq
    val rtBatch = graft.operators.Behavior.retention(evDerive(docs))
      .collect().toSeq
    check("retention_fold", rtStream == rtBatch && rtStream.nonEmpty)

    // funnel: O(1)-per-user state machine over in-order delivery ≡ the
    // one-shot greedy funnel over the union's derived events
    val fnStream = FunnelStream.currentFunnel(spark, fnState).collect().toSeq
    val fnBatch = graft.operators.Behavior.funnel(fvDerive(docs)).collect().toSeq
    check("funnel_fold", fnStream == fnBatch && fnStream.head.getLong(2) > 0)

    // drift: frozen-grid folded PSI ≡ one-shot sourceDrift over the union
    // (grid elected from the union's min/max, so the one-shot's
    // self-derived grid coincides with the frozen one)
    val dfStream = graft.streaming.DriftStream.currentDrift(spark, dfState)
      .collect().toSeq
    val dfBatch = graft.operators.Monitor.sourceDrift(docs).collect().toSeq
    check("drift_fold", dfStream == dfBatch && dfStream.nonEmpty)

    // anomaly: folded day counts ≡ one-shot dailyAnomalies over the
    // union's derived events (days split across MANY batches — the
    // additive-revision case)
    val anStream = AnomalyStream.currentAnomalies(spark, anState)
      .collect().toSeq
    val anBatch = graft.operators.Monitor.dailyAnomalies(evDerive(docs))
      .collect().toSeq
    check("anomaly_fold", anStream == anBatch && anStream.nonEmpty)

    // SCD2: folded interval history ≡ one-shot run-length collapse over
    // the union change log (ordering included), with runs that crossed
    // batch boundaries merged back into single intervals
    val shStream = StateHistoryStream.currentHistory(spark, shState)
      .collect().toSeq
    val shBatch = graft.operators.History.stateHistory(shDerive(docs))
      .collect().toSeq
    check("scd2_fold", shStream == shBatch && shStream.nonEmpty)

    // quality: folded constraint report ≡ one-shot θ-validate over the
    // union (KMV retained-set union + counter sums, bitwise); the amp'd
    // doc_id rekey keeps ids unique, source cardinality is tiny — both
    // Unique checks exercise the exact-θ regime, the RI check the frozen
    // dim, and the folded verdicts must agree exactly
    val qlStream = QualityStream.currentReport(spark, qlState, qlChecks)
      .collect().toSeq
    val qlBatch = graft.operators.Quality.validateTheta(docs, qlChecks, qlRefs)
      .collect().toSeq
    check("quality_fold", qlStream == qlBatch && qlStream.nonEmpty)

    // CDC: folded chunk-hash counts ≡ one-shot cdcChunksFast counts over
    // the union corpus (count additivity — any batching, any order); the
    // first stream written directly ON the round-15 StateLog helper
    val cdStream = CdcStream.currentCounts(spark, cdState)
      .orderBy("chunk_hash").as[(Long, Long)].collect().toSeq
    val cdBatch = graft.operators.Prep.cdcChunksFast(docs)
      .groupBy("chunk_hash").agg(count(lit(1)).as("cnt"))
      .orderBy("chunk_hash").as[(Long, Long)].collect().toSeq
    check("cdc_fold", cdStream == cdBatch && cdStream.nonEmpty)

    // lexical index: the soak's lex state took an IN-LOOP churn (batch-17
    // delete of %10==3 at the interleaved maintenance id — re-delivered by
    // the kill-replay), so the truth is the LIVE corpus: every %10==3 doc
    // ingested BEFORE the churn is gone, the same predicate's docs that
    // arrived AFTER it survived their lower ceiling. Stats (negative
    // addends summed; zero-cancelled terms filtered for the compare — they
    // fold away at compaction), served + indexed BM25, phrase and facets
    // must all equal one-shot builds over that live set.
    val lexLive = docs.filter(
        !(pmod(col("doc_id"), lit(10)) === 3 && col("doc_id") < lit(18L * sz)))
      .localCheckpoint(true)
    val lxStream = LexStatsStream.currentStats(spark, lxState)
      .filter(col("df") =!= 0L || col("dl") =!= 0L || col("nd") =!= 0L)
      .orderBy("term").as[(String, Long, Long, Long)].collect().toSeq
    val lxBatch = TextAnalysis.lexStatsOf(lexLive)
      .groupBy("term").agg(sum("df").as("df"), sum("dl").as("dl"),
        sum("nd").as("nd"))
      .orderBy("term").as[(String, Long, Long, Long)].collect().toSeq
    check("lex_stats_fold", lxStream == lxBatch && lxStream.nonEmpty)
    val lxServed = LexStatsStream.bm25Topk(spark, lxState, lexLive)
      .as[(Long, Double)].collect().toSeq
    val lxDirect = TextAnalysis.bm25TopkServed(lexLive, TextAnalysis.lexStatsOf(lexLive))
      .as[(Long, Double)].collect().toSeq
    check("lex_bm25_served", lxServed == lxDirect && lxServed.nonEmpty)
    // [r18] the postings path: BM25 served ENTIRELY from the maintained
    // index (stats + posting lists, no corpus access) ≡ the corpus-scan
    // served form over the same folded state — the serving path a 100 TB
    // deployment actually runs
    val lxIndexed = LexStatsStream.bm25TopkIndexed(spark, lxState)
      .as[(Long, Double)].collect().toSeq
    check("lex_bm25_indexed", lxIndexed == lxServed && lxIndexed.nonEmpty)
    // [r18] phrase + facet serving off the streamed postings ≡ one-shot
    // builds over the live corpus
    val lxPhrase = LexStatsStream.phraseMatch(spark, lxState)
      .as[(Long, Long)].collect().toSeq
    val lxPhraseDirect = TextAnalysis.phraseMatchOf(
        TextAnalysis.lexPostingsOf(lexLive), TextAnalysis.PhraseTerms)
      .as[(Long, Long)].collect().toSeq
    check("lex_phrase", lxPhrase == lxPhraseDirect && lxPhrase.nonEmpty)
    val lxFacets = LexStatsStream.facetCounts(spark, lxState,
        lexLive.select("doc_id", "lang", "source"))
      .as[(String, String, Long)].collect().toSeq
    val lxFacetsDirect = TextAnalysis.facetCountsOf(
        TextAnalysis.lexPostingsOf(lexLive)
          .filter(col("term").isin(TextAnalysis.Bm25Terms: _*))
          .select("doc_id").distinct(),
        lexLive.select("doc_id", "lang", "source"), Seq("lang", "source"))
      .as[(String, String, Long)].collect().toSeq
    check("lex_facets", lxFacets == lxFacetsDirect && lxFacets.nonEmpty)
    // [r19] the lexical DELETE/UPDATE lifecycle composed with the soaked
    // state: ONE syncLexCorpus maintenance batch (remove doc_id%10==3,
    // edit doc_id%13==0) under the monotone id `nb`, then the indexed
    // serving ladder ≡ a one-shot build over the LIVE corpus — checked
    // against the un-compacted state, then again after compactState (the
    // physical purge + correction fold) and tombstone retirement
    // oldDocs = what the index currently SERVES (the post-churn live set,
    // not the raw union — the snapshot-diff contract; diffing against an
    // already-deleted doc would double-subtract its stats)
    val v2soak = TextAnalysis.lexLiveV2Of(docs).localCheckpoint(true)
    LexStatsStream.syncLexCorpus(spark, lxState,
      lexLive.select("doc_id", "text"), v2soak.select("doc_id", "text"),
      2L * nb)
    def lexLiveOk(): Boolean = {
      val idxed = LexStatsStream.bm25TopkIndexed(spark, lxState)
        .as[(Long, Double)].collect().toSeq
      val direct = TextAnalysis.bm25TopkOf(v2soak.select("doc_id", "text"))
        .as[(Long, Double)].collect().toSeq
      val stStream = LexStatsStream.currentStats(spark, lxState)
        .filter(col("df") =!= 0L || col("dl") =!= 0L || col("nd") =!= 0L)
        .orderBy("term").as[(String, Long, Long, Long)].collect().toSeq
      val stBatch = TextAnalysis.lexStatsOf(v2soak)
        .groupBy("term").agg(sum("df").as("df"), sum("dl").as("dl"),
          sum("nd").as("nd"))
        .orderBy("term").as[(String, Long, Long, Long)].collect().toSeq
      idxed == direct && idxed.nonEmpty && stStream == stBatch
    }
    check("lex_live_sync", lexLiveOk())
    LexStatsStream.compactState(spark, lxState)
    LexStatsStream.clearDocTombstones(spark, lxState)
    check("lex_live_compacted", lexLiveOk())
    // [r19] the passage index (19th stream); [r20] its truth is now the
    // LIVE chunk corpus — the batch-17 cascade deleted every chunk pid of
    // the %10==3 docs ingested before it, later arrivals of the same
    // predicate survived their ceiling (= the parent-grain lexLive set,
    // chunked). Serve AND stats must equal one-shot builds over it,
    // before and after compaction + tombstone retirement.
    def passageLiveOk(): Boolean = {
      val lpIndexed = LexStatsStream.bm25TopkIndexed(spark, lpState)
        .as[(Long, Double)].collect().toSeq
      val lpDirect = TextAnalysis.bm25TopkOf(
          graft.streaming.PassageLex.chunkDocs(lexLive))
        .as[(Long, Double)].collect().toSeq
      val stStream = LexStatsStream.currentStats(spark, lpState)
        .filter(col("df") =!= 0L || col("dl") =!= 0L || col("nd") =!= 0L)
        .orderBy("term").as[(String, Long, Long, Long)].collect().toSeq
      val stBatch = TextAnalysis.lexStatsOf(
          graft.streaming.PassageLex.chunkDocs(lexLive))
        .groupBy("term").agg(sum("df").as("df"), sum("dl").as("dl"),
          sum("nd").as("nd"))
        .orderBy("term").as[(String, Long, Long, Long)].collect().toSeq
      lpIndexed == lpDirect && lpIndexed.nonEmpty && stStream == stBatch
    }
    check("lex_passage_live", passageLiveOk())
    LexStatsStream.compactState(spark, lpState)
    LexStatsStream.clearDocTombstones(spark, lpState)
    check("lex_passage_compacted", passageLiveOk())

    // [r20 s2] image-ANN tier (20th stream): the churned lifecycle state
    // must serve exactly what a ONE-SHOT index built from a fresh decode
    // of the LIVE image corpus serves — live = every doc except the
    // %10==3 ids whose decode had arrived when the batch-17 opt-out
    // committed (src_batch ≤ 34 ⇔ doc batch ≤ 17 ⇔ doc_id < 18·sz);
    // the same predicate's later arrivals stay retrievable. Checked
    // before AND after the physical purge.
    def imageLiveOk(): Boolean = {
      import graft.operators.ImageAnn
      val qids = Seq(0L, 1L, 2L, 3L, 4L)
      val qv = ImageAnn.collectVecs(ImageAnn.featuresOf(docs, Some(qids)), qids)
      val got = ImageAnn.topKLive(spark, imState, imCents, qv, k = 5, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val live = docs.filter(!(pmod(col("doc_id"), lit(10)) === 3 &&
        col("doc_id") < lit(18L * sz)))
      val oneshot = s"$tmp/imgann-oneshot"
      ImageAnn.buildIndex(ImageAnn.featuresOf(live), imCents, oneshot)
      val want = ImageAnn.topK(spark, oneshot, imCents, qv, k = 5, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      got == want && got.nonEmpty
    }
    check("image_ann_live", imageLiveOk())
    EmbeddingIndexStream.compactIndex(spark, imState)
    check("image_ann_compacted", imageLiveOk())

    // [r18] media tier (18th stream): the stateless per-batch map through
    // the REAL codecs accumulates to exactly the one-shot batch kernels
    // over the union corpus — the streamed face of the oracle-gated
    // multimodal rows
    val mdStream = MediaStream.currentWavMeta(spark, mdOut)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val mdBatch = graft.operators.Multimodal.extractMetaWav(
        graft.operators.Multimodal.wavMediaFromDocuments(docs))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    check("media_wav_meta", mdStream == mdBatch && mdStream.nonEmpty)
    val mwStream = MediaStream.currentWavWindows(spark, mdOut)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val mwBatch = graft.operators.Multimodal.extractWavWindowSums(
        graft.operators.Multimodal.wavMediaFromDocuments(docs))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    check("media_wav_windows", mwStream == mwBatch && mwStream.nonEmpty)
    val miStream = MediaStream.currentImageMeta(spark, mdOut)
      .collect().map(_.toString).toSet
    val miBatch = graft.operators.Multimodal.extractMetaImage(
        graft.operators.Multimodal.pngMediaFromDocuments(docs))
      .collect().map(_.toString).toSet
    check("media_img_meta", miStream == miBatch && miStream.nonEmpty)
    spark.stop()
  }
}
