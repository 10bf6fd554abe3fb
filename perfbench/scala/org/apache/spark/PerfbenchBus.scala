package org.apache.spark

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`; the benchmark needs
  * it to drain its listeners deterministically before reading them.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
