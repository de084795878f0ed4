package org.apache.spark

/** Access to the one Spark-internal call that listener-based counters
  * need (`listenerBus` is private[spark], so this shim lives in the
  * spark package): wait until every queued listener event has been
  * delivered, so a count read afterwards includes every job and stage
  * started before the call.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
