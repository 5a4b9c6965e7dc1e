package org.apache.spark

/** The live listener bus is package-private; the benchmark needs to drain it
  * so that every task-end event of a span has reached its listener before
  * the span's counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
