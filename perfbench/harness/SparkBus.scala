package org.apache.spark

/** The one Spark-internal hook the traced run needs: block until the
  * listener bus has delivered every posted event. Draining at each phase
  * boundary lets the listeners attribute asynchronously delivered events
  * (job, stage, task and query-execution ends) to the operation and phase
  * that caused them. Only the traced run calls it.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
