package org.apache.spark

/** The listener bus is private to Spark; this object lives in Spark's
  * package only to wait until every posted event has been delivered, so a
  * traced pass's spans are complete before the next pass starts.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
