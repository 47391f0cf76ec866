package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Measurement-tool access to the private[spark] listener bus: lets
  * `Probe profile` drain queued task-end events before reading its counters
  * instead of sleeping a fixed interval (racy on a loaded box). */
object ListenerBridge {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
