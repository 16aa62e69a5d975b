package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Listener events are delivered on Spark's asynchronous bus. The benchmark
  * reads its listener's records right after an action returns, so it first
  * waits for the bus to deliver everything already posted. `listenerBus` is
  * `private[spark]`, hence this file's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
