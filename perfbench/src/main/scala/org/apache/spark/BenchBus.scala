package org.apache.spark

/** Drains Spark's listener bus so listener totals read after a call
  * include every event that call produced. `listenerBus` is
  * `private[spark]`, hence this one-method shim in Spark's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
