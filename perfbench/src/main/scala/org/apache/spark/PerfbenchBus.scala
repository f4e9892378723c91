package org.apache.spark

/** The listener bus is private to Spark; the traced run needs to wait until
  * every task and job event of an op has reached its listeners before it
  * reads their sums.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
