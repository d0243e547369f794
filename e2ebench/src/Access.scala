package org.apache.spark

/** The listener bus is private to Spark; draining it lets a benchmark-side
  * listener see every task of a job before the next one starts. */
object E2eBenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
