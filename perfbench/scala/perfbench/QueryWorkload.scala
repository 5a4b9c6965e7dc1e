package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import graft.SparkEntry

/** One query request: the layer spans and whether it completed. */
final case class Req(id: Int, pass: Int, name: String, traced: Boolean,
    ok: Boolean, totalMs: Double, buildMs: Double, optimizeMs: Double,
    planMs: Double, execMs: Double, exchanges: Int, error: String) {
  def json: String = Json.obj(Seq("id" -> id, "pass" -> pass, "query" -> name,
    "ok" -> ok, "total_ms" -> totalMs, "build_ms" -> buildMs,
    "optimize_ms" -> optimizeMs, "plan_ms" -> planMs, "exec_ms" -> execMs,
    "exchanges" -> exchanges, "error" -> error))
}

/** A closed loop with one client over a fixed query set: a cold pass after
  * the registries and on-disk indexes are wiped, then warm passes in a new
  * seeded order each, until the run's time is up. Every request builds its
  * frame anew and materialises it through the noop sink. */
final class QueryWorkload(spark: SparkSession, data: String, names: Seq[String],
    seed: Long, seconds: Double, tracer: Tracer, cores: Int) {

  private val rng = new scala.util.Random(seed)
  private val reqs = ArrayBuffer.empty[Req]
  private var nextId = 0
  // pass number -> wall seconds
  private val passWall = ArrayBuffer.empty[Double]

  private def request(pass: Int, name: String, traced: Boolean): Req = {
    val id = nextId; nextId += 1
    val g = s"q$id"
    val build = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    var buildMs, optMs, planMs, execMs = 0.0
    var exch = 0
    val r = try {
      val df: DataFrame = tracer.inGroup(s"$g.build")(build(spark, data))
      buildMs = Clock.ms(t0)
      if (traced) {
        val qe = df.queryExecution
        optMs = Clock.timed(tracer.inGroup(s"$g.catalyst")(qe.optimizedPlan))._2
        val (plan, p) = Clock.timed(tracer.inGroup(s"$g.catalyst")(qe.executedPlan))
        planMs = p
        exch = QueryWorkload.exchanges(plan)
      }
      val t3 = System.nanoTime()
      tracer.inGroup(s"$g.exec")(
        df.write.format("noop").mode("overwrite").save())
      execMs = Clock.ms(t3)
      Req(id, pass, name, traced, ok = true, Clock.ms(t0), buildMs, optMs,
        planMs, execMs, exch, null)
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] request $id ($name) failed: ${e.getMessage}")
        Req(id, pass, name, traced, ok = false, Clock.ms(t0), buildMs, optMs,
          planMs, execMs, exch, String.valueOf(e.getMessage).take(500))
    }
    reqs += r
    Main.log(f"request $id pass $pass $name ${r.totalMs}%.0f ms")
    r
  }

  private def runPass(pass: Int, traced: Boolean): Unit = {
    val t0 = System.nanoTime()
    rng.shuffle(names).foreach(request(pass, _, traced))
    passWall += Clock.ms(t0) / 1000
    Main.log(f"pass $pass: ${passWall.last}%.2f s")
  }

  /** Pass 0 is cold; warm passes then run for the given seconds. They
    * alternate traced and untraced when the tracer is on, so one run yields
    * both the layer spans and the tracing overhead. At least three warm
    * passes always run. */
  def run(): Unit = {
    SparkEntry.clearSessionRegistries()
    Isolation.wipeEngineTmp()
    runPass(0, traced = false)
    val t0 = System.nanoTime()
    var pass = 1
    while (pass < 4 || Clock.ms(t0) / 1000 < seconds) {
      val traced = tracer.enabled && pass % 2 == 1
      tracer.setActive(traced)
      runPass(pass, traced)
      pass += 1
    }
    tracer.setActive(false)
  }

  def attempted: Int = reqs.size
  def errors: Int = reqs.count(!_.ok)
  def coldPassS: Double = passWall.head
  private def warm = reqs.filter(_.pass > 0)
  /** Untraced warm requests carry the end-to-end latency. */
  private def timedWarm = warm.filterNot(_.traced)
  def latenciesMs: Seq[Double] = timedWarm.filter(_.ok).map(_.totalMs).toSeq
  def throughputQps: Double = {
    val passes = passWall.indices.drop(1).filterNot(p => tracer.enabled && p % 2 == 1)
    passes.size * names.size / passes.map(passWall).sum
  }
  def requestsByQuery: Map[String, Int] = reqs.groupBy(_.name).view.mapValues(_.size).toMap
  def errorsByQuery: Map[String, Int] =
    reqs.filterNot(_.ok).groupBy(_.name).view.mapValues(_.size).toMap

  /** Per-layer metrics, each a mean per traced request unless noted. */
  def layers(registryBuildMs: Double): Seq[(String, Double)] = {
    tracer.drain()
    val traced = warm.filter(r => r.traced && r.ok)
    val n = math.max(traced.size, 1).toDouble
    val all = new Counters
    val execOnly = new Counters
    val buildOnly = new Counters
    traced.foreach { r =>
      all += tracer.counters(s"q${r.id}.")
      execOnly += tracer.counters(s"q${r.id}.exec")
      buildOnly += tracer.counters(s"q${r.id}.build")
    }
    val execMs = traced.map(_.execMs).sum
    Counters.layers(all, n, execMs, execOnly.taskRunMs, cores) ++ Seq(
      "operators.build_ms" -> traced.map(_.buildMs).sum / n,
      "operators.build_jobs" -> buildOnly.jobs / n,
      "catalyst.optimize_ms" -> traced.map(_.optimizeMs).sum / n,
      "catalyst.plan_ms" -> traced.map(_.planMs).sum / n,
      "catalyst.exchanges" -> traced.map(_.exchanges).sum / n,
      "registry.build_ms" -> registryBuildMs) ++
      Stats.overhead(traced.map(_.totalMs).toSeq, latenciesMs)
  }

  /** Registry build cost: per registry-backed query, its cold latency minus
    * its median warm latency, summed (ms). */
  def registryBuildMs: Double = {
    val backed = names.filter(SparkEntry.registryBacked)
    backed.map { q =>
      val cold = reqs.find(r => r.pass == 0 && r.name == q && r.ok).map(_.totalMs)
      val hot = timedWarm.filter(r => r.name == q && r.ok).map(_.totalMs).toSeq
      cold.map(c => c - (if (hot.isEmpty) 0.0 else Stats.percentile(hot, 50)))
        .getOrElse(0.0)
    }.sum
  }

  def spanLog(): Unit = reqs.foreach { r =>
    val c = if (r.traced) tracer.counters(s"q${r.id}.").json else "null"
    tracer.record(r.json.dropRight(1) + ",\"counters\":" + c + "}")
  }
}

object QueryWorkload {
  /** Exchanges in a physical plan, looking through adaptive execution and
    * into subqueries. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case _ =>
      (p match { case _: Exchange => 1; case _ => 0 }) +
        p.children.map(exchanges).sum + p.subqueries.map(exchanges).sum
  }
}

object Stats {
  /** Linear-interpolated percentile, `q` in [0, 100]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = (s.size - 1) * q / 100
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Tracing overhead: the traced spans' median over the untraced ones'. */
  def overhead(traced: Seq[Double], untraced: Seq[Double]): Seq[(String, Double)] = {
    val (t, u) = (percentile(traced, 50), percentile(untraced, 50))
    Seq("trace.overhead_ms" -> (t - u),
      "trace.overhead_pct" -> (if (u > 0) 100 * (t - u) / u else 0.0))
  }
}
