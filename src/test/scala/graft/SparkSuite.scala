package graft

import org.apache.spark.sql.SparkSession

/** Shared session for all suites (getOrCreate → one JVM-wide session). */
trait SparkSuite {
  // fixed at 4 cores whatever SPARK_GRAFT_CPUS says: the job-budget specs
  // count jobs whose number depends on the partition count
  lazy val spark: SparkSession = Sessions.local(4)

  val Sf0001 = "/root/testdata/sf0.001"

  /** The number of Spark jobs `body` starts (counted by job group, so jobs
    * of any other thread are not). */
  def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"job-budget-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job budget")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}
