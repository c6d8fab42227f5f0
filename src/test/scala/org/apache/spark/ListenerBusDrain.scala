package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so a
  * test listener sees all job and stage events of the work before it.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
