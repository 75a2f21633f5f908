package org.apache.spark

/** Access to the listener bus, which is package-private to Spark: the
  * benchmark drains it before reading listener totals.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
