package org.apache.spark.longdocbench

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered, so
  * per-span listener totals are complete when a span is read. The listener
  * bus is `private[spark]`, hence this file's package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
