package org.apache.spark

/** Lets the benchmark wait until its listener has seen every posted event
  * before it reads the trace; the bus drain is package-private to Spark.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
