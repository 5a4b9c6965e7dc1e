package org.apache.spark

/** Test access to the listener bus: block until every posted event has
  * reached its listeners, so a count taken after an action is complete. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
