package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark's
  * trace needs it to read complete event records after each phase.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
