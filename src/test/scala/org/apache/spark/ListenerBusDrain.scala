package org.apache.spark

/** Test access to the driver's listener bus: block until every event posted
  * so far has reached every listener, so a listener's counts are complete
  * when an action returns. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
