package org.apache.spark

/** Test access to the listener bus of a SparkContext. */
object BusProbe {
  /** Listeners registered on every queue of `sc`'s bus. */
  def listeners(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
