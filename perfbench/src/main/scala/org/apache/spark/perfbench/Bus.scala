package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far reached the listeners, so counters
  * read after an item include that item's jobs, stages and tasks. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
