package org.apache.spark.lakebench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so counters
  * read after a phase include all of its jobs.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
