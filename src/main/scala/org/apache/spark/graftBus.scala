package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so
  * far, so listener counters read afterwards are complete.
  * `LiveListenerBus.waitUntilEmpty` is `private[spark]`, hence this
  * one-line accessor in Spark's package (the same pattern as
  * [[org.apache.spark.sql.graftShims]]). */
object graftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
