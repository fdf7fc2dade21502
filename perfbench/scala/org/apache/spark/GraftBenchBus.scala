package org.apache.spark

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`; the benchmark
  * needs it so listener counts are complete before it reads them.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
