package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus drain, so counters are complete before the
  * run writes them out. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
