package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * listener read after a call has seen all of its jobs. The method is
  * private to Spark, hence this file's package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
