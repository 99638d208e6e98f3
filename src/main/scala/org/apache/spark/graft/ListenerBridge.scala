package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Private-API shim: drain the asynchronous listener bus so metrics
  * accumulated by a SparkListener are complete before they are read
  * ([[graft.Profile]]). `SparkContext.listenerBus` is private[spark]. */
object ListenerBridge {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
