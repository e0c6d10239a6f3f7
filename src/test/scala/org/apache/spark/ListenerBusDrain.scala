package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * test's listener has seen all of a finished action. The bus is private
  * to Spark, hence this object lives in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
