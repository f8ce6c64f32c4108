package org.apache.spark

/** Access to the listener bus's drain, which is private to Spark: the
  * benchmark reads its listener's totals only after every event of the
  * measured phase has been delivered. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
