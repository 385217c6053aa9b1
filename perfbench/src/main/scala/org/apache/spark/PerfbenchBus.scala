package org.apache.spark

/** Reaches the package-private listener bus so the benchmark can read
  * its counters only after every event of the finished work arrived. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
