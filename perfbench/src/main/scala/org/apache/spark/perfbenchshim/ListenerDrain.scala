package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so a
  * listener's records are complete when the harness reads them. The bus
  * is `private[spark]`, hence this object's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
