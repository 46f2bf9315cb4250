package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so
  * far. `LiveListenerBus.waitUntilEmpty` is `private[spark]`, hence this
  * one-line accessor in Spark's package; it replaces a fixed settle sleep
  * before listener counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
