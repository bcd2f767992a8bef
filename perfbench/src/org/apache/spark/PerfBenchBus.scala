package org.apache.spark

/** Drains the listener bus, so counters read after an operation hold every
  * event the operation posted. `SparkContext.listenerBus` is package-private
  * to `org.apache.spark`, hence this one-line bridge.
  */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
