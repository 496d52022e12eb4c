package org.apache.spark

/** Waits until every event posted so far has reached the registered
  * listeners. The listener bus is internal to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
