package org.apache.spark

/** Lets the benchmark wait until every scheduler event has reached its
  * listener; the bus is internal to Spark. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
