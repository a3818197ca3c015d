package org.apache.spark

/** The listener bus is private to Spark; a traced pass must see every
  * event its jobs posted before the counters are read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
