package org.apache.spark

/** Test access to the one Spark-internal call job-counting specs
  * need: wait until every queued listener event has been delivered, so
  * a count read afterwards includes every job started before the call.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
