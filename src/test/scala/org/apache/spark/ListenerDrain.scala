package org.apache.spark

/** Test bridge to the `private[spark]` listener bus: blocks until every
  * queued event is delivered, so the status tracker has seen every job
  * a finished action started.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
