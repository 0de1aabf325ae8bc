package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; this seam lets the benchmark
  * wait for delivery instead of sleeping. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
