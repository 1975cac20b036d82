package org.apache.spark

/** Test access to one Spark-internal call: wait until every listener event
  * posted so far has been delivered, so a listener's totals are complete.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
