package org.apache.spark

/** Test access to the listener bus, which is private to Spark: blocks
  * until every event posted so far (QueryExecutionListener callbacks
  * included) has been delivered. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
