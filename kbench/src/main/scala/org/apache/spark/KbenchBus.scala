package org.apache.spark

/** Access to the package-private listener bus: the traced run reads its
  * listener's counters only after every event of an op was delivered. */
object KbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
