package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event. The
  * bus is package-private, hence this file's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
