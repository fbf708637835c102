package org.apache.spark.distbench

import org.apache.spark.SparkContext

/** Blocks until every queued listener event has been delivered, so a traced
  * call's job, task and query-execution events are all in before the next
  * call starts. `SparkContext.listenerBus` is `private[spark]`, hence the
  * package. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
