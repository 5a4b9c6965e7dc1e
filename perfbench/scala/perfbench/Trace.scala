package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Execution counters of one job group (one layer span of one request). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskFailures = 0L
  var taskRunMs = 0L
  var taskCpuMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var bytesRead = 0L
  var rowsRead = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskFailures += o.taskFailures; taskRunMs += o.taskRunMs
    taskCpuMs += o.taskCpuMs; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    gcMs += o.gcMs; bytesRead += o.bytesRead; rowsRead += o.rowsRead
  }

  def json: String = Json.obj(Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_failures" -> taskFailures, "task_run_ms" -> taskRunMs,
    "task_cpu_ms" -> taskCpuMs, "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes,
    "gc_ms" -> gcMs, "bytes_read" -> bytesRead, "rows_read" -> rowsRead))
}

object Counters {
  /** The `exec` and `tables` layer metrics of `n` traced spans that took
    * `execMs` in all and kept the cores busy for `busyTaskMs`. */
  def layers(c: Counters, n: Double, execMs: Double, busyTaskMs: Long,
      cores: Int): Seq[(String, Double)] = Seq(
    "exec.ms" -> execMs / n,
    "exec.jobs" -> c.jobs / n,
    "exec.stages" -> c.stages / n,
    "exec.tasks" -> c.tasks / n,
    "exec.task_failures" -> c.taskFailures.toDouble,
    "exec.task_run_ms" -> c.taskRunMs / n,
    "exec.task_cpu_ms" -> c.taskCpuMs / n,
    "exec.core_busy_ratio" ->
      (if (execMs > 0) busyTaskMs / (execMs * cores) else 0.0),
    "exec.shuffle_write_bytes" -> c.shuffleWriteBytes / n,
    "exec.shuffle_read_bytes" -> c.shuffleReadBytes / n,
    "exec.spill_bytes" -> c.spillBytes / n,
    "exec.gc_ms" -> c.gcMs / n,
    "tables.bytes_read" -> c.bytesRead / n,
    "tables.rows_read" -> c.rowsRead / n)
}

/** Attributes scheduler events to the job group that launched them. The
  * benchmark sets one group per layer span (`<request>.<layer>`), so every
  * job a request causes — eager actions during frame construction included
  * — lands on that request and layer. */
final class LayerListener extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def of(group: String): Counters =
    byGroup.computeIfAbsent(group, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      of(g).synchronized(of(g).jobs += 1)
      e.stageIds.foreach(stageGroup.put(_, g))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val c = of(g); c.synchronized(c.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val c = of(g)
      c.synchronized {
        c.tasks += 1
        if (e.reason != Success) c.taskFailures += 1
        val m = e.taskMetrics
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.taskCpuMs += m.executorCpuTime / 1000000L
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.gcMs += m.jvmGCTime
          c.bytesRead += m.inputMetrics.bytesRead
          c.rowsRead += m.inputMetrics.recordsRead
        }
      }
    }

  /** Counters of every group whose name starts with `prefix`, summed. */
  def sum(prefix: String): Counters = {
    val out = new Counters
    byGroup.forEach((g, c) => if (g.startsWith(prefix)) c.synchronized(out += c))
    out
  }
}

/** The traced side of a run: the listener, span timing, and the span log
  * (one JSON line per request or batch, keyed by its id). A disabled
  * tracer only brackets calls with their job group. The listener is
  * attached only while the tracer is active, so untraced spans of a traced
  * run pay nothing for it. */
final class Tracer(spark: SparkSession, val enabled: Boolean, logPath: String) {
  private val listener = new LayerListener
  private val log = mutable.ArrayBuffer.empty[String]
  private var attached = false

  def setActive(on: Boolean): Unit = if (enabled && on != attached) {
    if (on) spark.sparkContext.addSparkListener(listener)
    else {
      drain()
      spark.sparkContext.removeSparkListener(listener)
    }
    attached = on
  }

  /** Runs `body` with every job it launches in group `group`. */
  def inGroup[T](group: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  def drain(): Unit = if (enabled) PerfbenchBus.drain(spark.sparkContext)

  def counters(prefix: String): Counters = listener.sum(prefix)

  def record(line: String): Unit = if (enabled) log += line

  def close(): Unit = if (enabled) {
    setActive(false)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(logPath),
      log.mkString("", "\n", "\n"))
  }
}

object Clock {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Times `body` in milliseconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, ms(t0))
  }
}

/** Minimal JSON writer for the run report. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
