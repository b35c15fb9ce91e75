package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; the traced run drains the bus
  * before reading what its listener collected for an operation. */
object BusFlush {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
