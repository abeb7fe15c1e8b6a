package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Reaches the listener bus, which Spark keeps package-private. A traced
  * run drains it after every query, so each listener event is charged
  * to the query that caused it before the next query starts.
  */
object Bus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
