package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the listener bus, which Spark keeps package-private. */
object Bus {
  /** Blocks until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
