package org.apache.spark

/** Drains the listener bus, so a listener read after an action has seen
  * every event the action posted. `SparkContext.listenerBus` is
  * package-private to `org.apache.spark`, hence this one-line bridge.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
