package graft

import java.util.concurrent.atomic.AtomicReference
import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol

/** A file commit protocol that crashes one write at its job commit: its
  * tasks have written their files, the job commit throws, and the abort
  * cleans nothing up — the output dir keeps its `_temporary` staging
  * exactly as a driver that died mid-write leaves it. Armed for one write
  * by [[CrashingCommitProtocol.during]]; every other write commits
  * normally. */
class CrashingCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {

  @transient private var crashed = false

  override def commitJob(jobContext: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit =
    if (CrashingCommitProtocol.fire(path)) {
      crashed = true
      throw new java.io.IOException(s"injected crash before the commit of $path")
    } else super.commitJob(jobContext, taskCommits)

  override def abortJob(jobContext: JobContext): Unit =
    if (!crashed) super.abortJob(jobContext)
}

object CrashingCommitProtocol {
  private val armed = new AtomicReference[String]

  /** True once, for the first write whose output path contains the armed
    * fragment. */
  private def fire(path: String): Boolean = {
    val fragment = armed.get
    fragment != null && path.contains(fragment) && armed.compareAndSet(fragment, null)
  }

  /** Run `body` with the first write into a path containing `fragment`
    * crashing before its job commit. */
  def during[T](spark: SparkSession, fragment: String)(body: => T): T = {
    val key = "spark.sql.sources.commitProtocolClass"
    val prior = spark.conf.getOption(key)
    armed.set(fragment)
    spark.conf.set(key, classOf[CrashingCommitProtocol].getName)
    try body
    finally {
      armed.set(null)
      prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }
}
