package org.apache.spark

/** The listener bus is private to Spark; draining it lets a spec-side
  * listener see every job an operator started before the spec reads its
  * count. */
object GraftTestAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
