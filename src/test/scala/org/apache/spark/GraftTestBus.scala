package org.apache.spark

/** Reaches the package-private listener bus so a spec reads listener
  * counters only after every event of the finished work arrived. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
