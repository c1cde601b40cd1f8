package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * benchmark listener sees all jobs of a span before it is detached. The
  * bus is private to Spark's package, hence this file's location. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
