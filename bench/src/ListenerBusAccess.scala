package org.apache.spark

import org.apache.spark.scheduler.SparkListenerEvent

/** The two listener-bus operations the benchmark's tracer needs; both are
  * `private[spark]` on SparkContext. */
object ListenerBusAccess {
  def post(sc: SparkContext, event: SparkListenerEvent): Unit = sc.listenerBus.post(event)
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
