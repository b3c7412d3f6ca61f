package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * counts read after a traced phase are complete.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
