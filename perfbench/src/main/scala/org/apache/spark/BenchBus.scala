package org.apache.spark

/** The listener bus is private to Spark; a listener's counters are only
  * complete for an action once the bus has delivered that action's
  * events, so the traced run drains it at every span boundary.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
