package org.apache.spark

/** Access to the one Spark-internal call the benchmark needs: waiting
  * until every queued listener event has been delivered, so counts read
  * after an action include that action's tasks.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
