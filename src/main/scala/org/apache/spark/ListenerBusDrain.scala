package org.apache.spark

/** Public door to `LiveListenerBus.waitUntilEmpty` (package-private):
  * a reader of a listener's books right after an action calls this
  * first, so every task end the action posted has been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
