package org.apache.spark

/** The listener bus's drain call is package-private to Spark; the traced
  * run needs it so that task counters are complete before they are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
