package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Deterministic listener-bus drain for `PlanLint.capture`. Job-start and
  * `SparkListenerSQLExecutionStart` events are delivered async on the shared
  * listener bus; every event a captured body caused has been seen only once the
  * bus is drained after it. `listenerBus` is private[spark],
  * hence this one accessor living under the org.apache.spark package — no
  * Spark internals are modified, only the public-in-spirit waitUntilEmpty. */
object BusFlush {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
