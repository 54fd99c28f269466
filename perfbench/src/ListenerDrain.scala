package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * counters read after a call include all of its tasks. The method is
  * private to Spark, hence this file's package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
