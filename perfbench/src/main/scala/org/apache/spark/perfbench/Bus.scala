package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. The traced
  * run drains the bus after each query phase, so every job, stage and query
  * execution event of that phase has been delivered before it is attributed. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
