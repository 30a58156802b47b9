package org.apache.spark

/** Test helper: how many listeners a context's bus holds. The bus is
  * `private[spark]`, so this lives in Spark's package. */
object ListenerBusProbe {
  def size(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
