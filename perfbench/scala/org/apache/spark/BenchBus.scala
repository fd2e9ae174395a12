package org.apache.spark

/** Drains the listener bus so listener-side counters are complete before
  * they are read (`listenerBus` is `private[spark]`).
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
