package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so an
  * op's counters are complete before they are read. The bus is
  * package-private, hence this one-line bridge in Spark's package. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
