package org.apache.spark

/** Blocks until Spark has delivered every queued listener event, so the
  * tracer's counts are complete before they are read. The listener bus is
  * package-private, hence this file's package. */
object C4benchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
