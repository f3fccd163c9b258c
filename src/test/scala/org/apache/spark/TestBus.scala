package org.apache.spark

/** Access to the package-private listener bus, so a test counts a job only
  * after its start event was delivered. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
