package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so
  * listener-built records (e.g. `Telemetry.Recorder`'s) are complete when
  * read. The bus is `private[spark]`, hence this forwarder in Spark's
  * package, beside [[org.apache.spark.sql.GraftExpressionBridge]]. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
