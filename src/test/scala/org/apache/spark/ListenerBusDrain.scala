package org.apache.spark

/** Test access to Spark's package-private listener-bus drain: once it
  * returns, every listener has seen every event posted before the call.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
