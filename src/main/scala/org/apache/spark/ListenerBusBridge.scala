package org.apache.spark

/** Bridge into the `private[spark]` listener bus: counters read after an
  * action are complete only once the bus has delivered every event the
  * action posted.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
