package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.{SparkEntry, Tables, Verify}
import graft.operators.Similarity

/** One benchmark run in one JVM: set up, measure one workload for the given
  * seconds, then produce the outputs the launcher checks, and write the run
  * report as JSON.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data SF_DIR --work WORK_DIR --out OUT_DIR
  */
object Main {
  /** Setups per run; `setup_s` is their median. */
  val Setups = 3
  /** Rows of the calibration probe (`graft.Bench` uses 200 M). */
  val CalibrationRows = 2000000L

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Everything before the first request can run: session warm-up, the
    * first table read, and the trained quantizer the IVF rows serve from. */
  def ready(spark: SparkSession, data: String): Seq[(Int, Seq[Double])] = {
    log("session up")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$data/region.parquet").count()
    log("warm-up done")
    val cents = Similarity.trainedCentroids(Tables.embeddings(spark, data), data)
    log("quantizer trained")
    cents
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] ${java.time.Instant.now()} $msg")

  /** `graft.Bench`'s fixed-size CPU + shuffle probe, at `rows` longs. */
  def calibrate(spark: SparkSession, rows: Long): Double = {
    val t0 = System.nanoTime()
    spark.range(0, rows, 1, 32)
      .selectExpr("xxhash64(id) % 97 AS b", "pmod(xxhash64(id + 1), 1048576) AS h")
      .groupBy("b").agg(org.apache.spark.sql.functions.sum("h"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def load1(): Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.getLines().next().split(" ")(0).toDouble finally src.close()
  }

  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Highest heap occupancy left after a collection, sampled while the
    * measured loop runs: the live set, not the garbage between GCs. */
  final class LiveHeapWatch extends Thread("perfbench-heap") {
    @volatile var peakBytes = 0L
    @volatile private var on = true
    setDaemon(true)
    override def run(): Unit = while (on) {
      val live = heapPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
      peakBytes = math.max(peakBytes, live)
      Thread.sleep(50)
    }
    def finish(): Double = { on = false; join(); peakBytes / 1048576.0 }
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val (data, work, out) = (a("data"), a("work"), a("out"))
    val cores = Runtime.getRuntime.availableProcessors
    val loadBefore = load1()

    // setup 1 runs from JVM start; the others restart the session
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = session(cores, work)
    var cents = ready(spark, data)
    val setups = ArrayBuffer((System.currentTimeMillis() - jvmStart) / 1000.0)
    for (_ <- 1 until Setups) {
      val t0 = System.nanoTime()
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkEntry.clearSessionRegistries()
      spark = session(cores, work)
      cents = ready(spark, data)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val calibration = calibrate(spark, CalibrationRows)
    log(s"setups $setups, calibration $calibration s")

    val tracer = new Tracer(spark, trace, s"$out/trace.jsonl")
    val gc0 = gcMs()
    val heap = new LiveHeapWatch
    heap.start()
    val report = ArrayBuffer.empty[(String, Any)]
    val layers = ArrayBuffer.empty[(String, Double)]
    def jvmLayers(units: Int): Unit = layers ++= Seq(
      "jvm.gc_ms" -> (gcMs() - gc0).toDouble / math.max(units, 1),
      "jvm.heap_peak_mb" -> heap.finish())

    // the end-to-end metrics; failures are counted by the launcher, which
    // runs the output checks that need DuckDB
    def endToEnd(lat: Seq[Double], qps: Double, coldS: Double, rss: Double) =
      "end_to_end" -> Map(
        "setup_s" -> Stats.percentile(setups.toSeq, 50),
        "latency_p50_ms" -> Stats.percentile(lat, 50),
        "latency_p95_ms" -> Stats.percentile(lat, 95),
        "throughput_qps" -> qps,
        "cold_pass_s" -> coldS,
        "peak_rss_mb" -> rss)

    workload match {
      case "dashboard" | "curation" | "retrieval" =>
        val names = Workloads.queryNames(workload)
        val w = new QueryWorkload(spark, data, names, seed, seconds, tracer, cores)
        w.run()
        log("measured loop done")
        report += endToEnd(w.latenciesMs, w.throughputQps, w.coldPassS, vmHwmMb())
        jvmLayers(w.attempted)
        val (idxBytes, idxFiles) = Isolation.engineIndexes
        layers ++= w.layers(w.registryBuildMs) ++ Seq(
          "registry.index_bytes" -> idxBytes.toDouble,
          "registry.index_files" -> idxFiles.toDouble)
        w.spanLog()
        report ++= Seq("attempted" -> w.attempted, "errors" -> w.errors,
          "requests_by_query" -> w.requestsByQuery,
          "errors_by_query" -> w.errorsByQuery)
        // the outputs the launcher compares against the DuckDB oracles,
        // produced after the measured loop
        val dump = s"$out/dump"
        Verify.dumpQueries(spark, data, dump, Some(names.toSet))
        Verify.writeOracles(dump, Some(names.toSet), Some(data))
        log("outputs dumped")
      case "ingest_stream" =>
        val w = new StreamWorkload(spark, data, work, cents, seed, seconds,
          tracer, cores)
        w.run()
        log("measured loop done")
        report += endToEnd(w.latenciesMs, w.throughput, w.coldPassS, vmHwmMb())
        jvmLayers(w.attempted)
        layers ++= w.layers()
        w.spanLog()
        report ++= Seq("attempted" -> w.attempted, "errors" -> w.errors,
          "extra" -> w.extra.toMap, "checks" -> w.checks())
      case other => sys.error(s"unknown workload: $other")
    }
    tracer.close()
    spark.stop()
    report ++= Seq(
      "workload" -> workload, "seed" -> seed,
      "per_layer" -> (if (trace) layers.toMap else Map.empty),
      "context" -> Map("nproc" -> cores, "seed" -> seed, "data" -> data,
        "setups_s" -> setups.mkString(","),
        "load1_before" -> loadBefore, "load1_after" -> load1(),
        "calibration_s" -> calibration, "calibration_rows" -> CalibrationRows))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/result.json"),
      Json.obj(report.toSeq) + "\n")
  }
}
