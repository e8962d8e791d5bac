package org.apache.spark.graft

import org.apache.spark.SparkContext

/** `listenerBus` is private[spark]; [[graft.tools.Profile]] needs a drain
  * so its per-rep job/stage tables don't race async event delivery.
  * Dev-only.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
