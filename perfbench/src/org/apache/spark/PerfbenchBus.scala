package org.apache.spark

/** The listener bus is internal to Spark; this lets the benchmark wait
  * until every event posted so far has reached its listener.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
