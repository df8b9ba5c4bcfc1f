package org.apache.spark.pipebench

import org.apache.spark.SparkContext

/** Blocks until every queued listener event has been delivered, so the
  * counters a listener accumulated are complete when read. The bus is
  * package-private to Spark, hence this one-line bridge. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
