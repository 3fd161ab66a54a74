package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is Spark-private; the traced pass waits on it at each
  * span boundary so that every event of a span is counted in that span. */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
