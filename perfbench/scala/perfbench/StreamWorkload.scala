package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Components, Curation, Prep, Similarity, TextAnalysis}
import graft.streaming.{CdcStream, ComponentsStream, CurationStream, EmbeddingIndexStream, LexStatsStream, OverviewStream}

/** One micro-batch: per-stream apply spans, the serving read, and whether
  * the batch completed. */
final case class Batch(id: Int, traced: Boolean, rows: Long,
    applyMs: Map[String, Double], readMs: Double, ok: Boolean, error: String) {
  def totalMs: Double = applyMs.values.sum + readMs
  def json: String = Json.obj(Seq("id" -> id, "rows" -> rows, "ok" -> ok,
    "total_ms" -> totalMs, "apply_ms" -> applyMs, "read_ms" -> readMs,
    "error" -> error))
}

/** The write-side workload: the sf orders, documents, document pairs and
  * embeddings arrive as seeded micro-batches, in id order as the curation
  * stream's exactness contract requires, and each is folded into six
  * streams through their public batch verbs, then the live overview is
  * read. Batches arrive until the run's time is up; the seed sets the batch
  * boundaries, the replay point (the just-folded batch delivered again)
  * and the maintenance compaction of the overview log. Auto-compaction is
  * armed on every stream that has it. Batch 0 folds into empty state in a
  * cold process and is reported apart. */
final class StreamWorkload(spark: SparkSession, data: String, work: String,
    cents: Seq[(Int, Seq[Double])], seed: Long, seconds: Double,
    tracer: Tracer, cores: Int) {
  import StreamWorkload._

  private val rng = new scala.util.Random(seed)
  private val orders = Tables.orders(spark, data)
  private val docs = Tables.documents(spark, data)
  private val embs = Tables.embeddings(spark, data)
  private val h: Column => Column = xxhash64(_)
  private val batches = ArrayBuffer.empty[Batch]
  private val replayMs = ArrayBuffer.empty[Double]
  private val compactMs = ArrayBuffer.empty[Double]
  private var warmWallS = 0.0

  private def keys(df: DataFrame, c: String): Array[Long] =
    df.select(col(c).cast("long")).collect().map(_.getLong(0)).sorted
  private lazy val orderKeys = keys(orders, "o_orderkey")
  private lazy val docKeys = keys(docs, "doc_id")
  private lazy val embKeys = keys(embs, "vec_id")

  /** Seeded cut points (fractions of each input) of `MaxBatches` batches
    * whose sizes vary within 5:3. */
  private val cut: Seq[Double] = {
    val w = Seq.fill(MaxBatches)(0.75 + rng.nextDouble() / 2)
    w.scanLeft(0.0)(_ + _).map(_ / w.sum)
  }
  // one replay and one overview compaction per run, each after a seeded
  // one of the first two warm batches, so every run does the same work
  private val replayAfter = 1 + rng.nextInt(2)
  private val compactAfter = 1 + rng.nextInt(2)

  /** Rows of `df` whose key falls in the [from, to) share of its keys. */
  private def slice(df: DataFrame, c: String, ks: Array[Long],
      from: Double, to: Double): DataFrame = {
    val loIx = (from * ks.length).toInt
    val hiIx = (to * ks.length).toInt
    val f = if (loIx == 0) lit(true) else col(c) >= ks(loIx)
    df.filter(if (hiIx >= ks.length) f else f && col(c) < ks(hiIx))
  }

  private def rowsIn(from: Double, to: Double): Long =
    Seq(orderKeys, docKeys, docKeys, embKeys)
      .map(ks => (to * ks.length).toInt.min(ks.length) - (from * ks.length).toInt)
      .sum.toLong

  private def pairsOf(d: DataFrame): DataFrame =
    d.select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
      .filter(pmod(col("a"), lit(10)) =!= 9)

  private val dir = s"$work/stream"
  private val ov = s"$dir/overview"
  private val cur = s"$dir/curation"
  private val curOut = s"$dir/curation-out"
  private val cc = s"$dir/components"
  private val idx = s"$dir/embedding-index"
  private val lex = s"$dir/lexstats"
  private val cdc = s"$dir/cdc"

  private def foldBatch(bid: Long, o: DataFrame, d: DataFrame, v: DataFrame,
      span: String): Map[String, Double] = {
    def timed(s: String)(body: => Unit): (String, Double) =
      s -> Clock.timed(tracer.inGroup(s"$span.$s")(body))._2
    Seq(
      timed("overview")(OverviewStream.applyBatch(spark, o, bid, ov)),
      timed("curation")(CurationStream.curateBatch(spark, d, cur, bid,
        outDir = Some(curOut), hashFn = h, autoCompactBytes = 256 * 1024)),
      timed("components")(ComponentsStream.applyBatch(spark, pairsOf(d), "a",
        "b", bid, cc, autoCompactBytes = 64 * 1024)),
      timed("embedding_index")(EmbeddingIndexStream.applyBatch(v, bid, cents,
        idx, autoCompactBatches = 3)),
      timed("lexstats")(LexStatsStream.applyBatch(spark, d, bid, lex,
        autoCompactBatches = 3)),
      timed("cdc")(CdcStream.applyBatch(spark, d, bid, cdc,
        autoCompactBatches = 3))
    ).toMap
  }

  private def input(i: Int) = (
    slice(orders, "o_orderkey", orderKeys, cut(i), cut(i + 1)),
    slice(docs, "doc_id", docKeys, cut(i), cut(i + 1)),
    slice(embs, "vec_id", embKeys, cut(i), cut(i + 1)))

  private def runBatch(i: Int, traced: Boolean): Unit = {
    val span = s"b$i"
    val (o, d, v) = input(i)
    val b = try {
      val apply = foldBatch(i.toLong, o, d, v, span)
      // the serving read: the live per-tenant overview, as a dashboard
      // panel polls it after every batch
      val readMs = Clock.timed(tracer.inGroup(s"$span.read")(
        OverviewStream.overview(spark, ov).collect()))._2
      Batch(i, traced, rowsIn(cut(i), cut(i + 1)), apply, readMs, ok = true, null)
    } catch {
      case ex: Throwable =>
        System.err.println(s"[perfbench] batch $i failed: ${ex.getMessage}")
        Batch(i, traced, rowsIn(cut(i), cut(i + 1)), Map.empty, 0.0,
          ok = false, String.valueOf(ex.getMessage).take(500))
    }
    batches += b
    Main.log(f"batch $i ${b.totalMs}%.0f ms " +
      b.applyMs.map { case (k, x) => f"$k=$x%.0f" }.mkString(" "))
    // at-least-once delivery: the just-folded batch arrives again
    if (i == replayAfter)
      replayMs += Clock.timed(foldBatch(i.toLong, o, d, v, s"$span.replay"))._2
    // maintenance compaction of the overview log, which has no trigger
    if (i == compactAfter)
      compactMs += Clock.timed(tracer.inGroup(s"$span.compact")(
        OverviewStream.compactState(spark, ov)))._2
  }

  /** Batch 0 is cold; warm batches then arrive for the given seconds.
    * When the tracer is on they alternate traced and untraced, so one run
    * yields both the layer spans and the tracing overhead. At least two
    * warm batches always run. */
  def run(): Unit = {
    orderKeys; docKeys; embKeys
    runBatch(0, traced = false)
    val t1 = System.nanoTime()
    var i = 1
    while (i < MaxBatches && (i < 3 || Clock.ms(t1) / 1000 < seconds)) {
      val traced = tracer.enabled && i % 2 == 1
      tracer.setActive(traced)
      runBatch(i, traced)
      i += 1
    }
    tracer.setActive(false)
    warmWallS = Clock.ms(t1) / 1000
  }

  private def warm = batches.drop(1)
  def attempted: Int = batches.size
  def errors: Int = batches.count(!_.ok)
  def coldPassS: Double = batches.head.totalMs / 1000
  def latenciesMs: Seq[Double] =
    warm.filter(b => b.ok && !b.traced).map(_.totalMs).toSeq
  def throughput: Double = warm.size / warmWallS
  def rowsPerS: Double = warm.map(_.rows).sum / warmWallS

  /** Input bytes folded: each input file's size times the share of its
    * rows that arrived. */
  def inputBytes: Double =
    Seq("orders", "documents", "embeddings")
      .map(t => new java.io.File(s"$data/$t.parquet").length).sum * cut(batches.size)

  def stateBytesPerInputByte: Double = Isolation.du(dir)._1 / inputBytes

  /** The final state of every stream against its one-shot batch twin over
    * the rows that arrived. */
  def checks(): Map[String, Boolean] = {
    def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet
    val upto = cut(batches.size)
    val o = slice(orders, "o_orderkey", orderKeys, 0.0, upto)
    val d = slice(docs, "doc_id", docKeys, 0.0, upto)
    val v = slice(embs, "vec_id", embKeys, 0.0, upto)
    // the batch curation pipeline reads its corpus from a data directory
    val twinData = s"$work/stream-twin"
    d.write.mode("overwrite").parquet(s"$twinData/documents.parquet")
    val pairs = pairsOf(d)
    val nodes = pairs.select(col("a").as("node_id"))
      .union(pairs.select(col("b").as("node_id"))).distinct()
    def check(s: String)(ok: => Boolean): (String, () => Boolean) =
      s -> (() => try ok catch {
        case ex: Throwable =>
          System.err.println(s"[perfbench] check $s failed: ${ex.getMessage}")
          false
      })
    val all = Seq(
      check("overview")(rows(OverviewStream.overview(spark, ov)) ==
        rows(OverviewStream.overviewByTenant(o))),
      check("curation")(rows(spark.read.parquet(curOut).drop("batch")) ==
        rows(Curation.curate(spark, twinData, hashFn = h))),
      check("components")(
        rows(ComponentsStream.currentLabels(spark, cc, nodes, "node_id")) ==
          rows(Components.componentLabels(nodes, "node_id", pairs, "a", "b"))),
      check("embedding_index") {
        Similarity.buildIndex(v, cents, s"$twinData/index")
        def members(p: String) = rows(spark.read.parquet(p).select("vec_id", "cluster"))
        members(idx) == members(s"$twinData/index")
      },
      check("lexstats")(rows(LexStatsStream.currentStats(spark, lex)
          .filter(col("df") =!= 0L || col("dl") =!= 0L || col("nd") =!= 0L)
          .select("term", "df", "dl", "nd")) ==
        rows(TextAnalysis.lexStatsOf(d).groupBy("term")
          .agg(sum("df").as("df"), sum("dl").as("dl"), sum("nd").as("nd")))),
      check("cdc")(rows(CdcStream.currentCounts(spark, cdc)
          .select("chunk_hash", "cnt")) ==
        rows(Prep.cdcChunksFast(d).groupBy("chunk_hash")
          .agg(count(lit(1)).as("cnt")))))
    // the checks read disjoint state, so they share the cores
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try {
      val futures = all.map { case (s, f) => s -> pool.submit(() => f()) }
      futures.map { case (s, fu) => s -> fu.get().booleanValue }.toMap
    } finally pool.shutdown()
  }

  /** Per-layer metrics, each a mean per traced batch unless noted. */
  def layers(): Seq[(String, Double)] = {
    tracer.drain()
    val tb = warm.filter(b => b.traced && b.ok)
    val n = math.max(tb.size, 1).toDouble
    val all = new Counters
    tb.foreach(b => all += tracer.counters(s"b${b.id}."))
    val busyMs = tb.map(_.totalMs).sum
    val (stateBytes, stateFiles) = Isolation.du(dir)
    Counters.layers(all, n, busyMs, all.taskRunMs, cores) ++
      Streams.map { s =>
        s"streaming.$s.apply_ms" -> tb.map(_.applyMs.getOrElse(s, 0.0)).sum / n
      } ++ Seq(
        "streaming.compact_ms" -> Stats.percentile(compactMs.toSeq, 50),
        "streaming.replay_ms" -> Stats.percentile(replayMs.toSeq, 50),
        "streaming.read_ms" -> tb.map(_.readMs).sum / n,
        "streaming.state_bytes" -> stateBytes.toDouble,
        "streaming.state_files" -> stateFiles.toDouble) ++
      Stats.overhead(tb.map(_.totalMs).toSeq, latenciesMs)
  }

  def extra: Seq[(String, Double)] = Seq(
    "batch_p50_ms" -> Stats.percentile(latenciesMs, 50),
    "batch_p95_ms" -> Stats.percentile(latenciesMs, 95),
    "ingest_rows_per_s" -> rowsPerS,
    "state_bytes_per_input_byte" -> stateBytesPerInputByte)

  def spanLog(): Unit = batches.foreach { b =>
    val c = if (b.traced) tracer.counters(s"b${b.id}.").json else "null"
    tracer.record(b.json.dropRight(1) + ",\"counters\":" + c + "}")
  }
}

object StreamWorkload {
  val Streams: Seq[String] =
    Seq("overview", "curation", "components", "embedding_index", "lexstats", "cdc")
  val MaxBatches = 16
}
