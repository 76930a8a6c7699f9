package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {
  /** Blocks until every event posted so far has reached every listener, so
    * counters read afterwards cover all work that has finished. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
