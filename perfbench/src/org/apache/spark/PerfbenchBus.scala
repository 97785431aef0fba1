package org.apache.spark

/** Lets the traced run wait until every listener event of the operation that
  * just finished has been delivered, so engine and plan counts are attributed
  * to that operation and not to the next one. Only called between timed
  * operations. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
