package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; [[graft.obs.Probe]]
  * needs to flush it so every event posted before a snapshot is
  * delivered before the totals are copied. Same one-file-shim pattern
  * as [[org.apache.spark.sql.graftbridge.Bridge]].
  */
object ListenerBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
