package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is package-private to Spark. Counters are read only
  * after every event of a measured region has reached the listeners. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
