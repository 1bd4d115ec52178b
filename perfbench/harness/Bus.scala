package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; this package may reach it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
