package org.apache.spark

/** The listener bus is private to Spark; this is the one call into it. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
