package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus's drain, which Spark keeps package-private.
  * The tracer reads its counters only after every event posted so far has
  * been delivered, so a unit's jobs and tasks are never attributed to the
  * next unit. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
