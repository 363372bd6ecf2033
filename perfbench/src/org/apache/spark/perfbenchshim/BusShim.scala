package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Reaches the `private[spark]` listener bus so the benchmark can wait until
  * every task and job event of a finished pass has been delivered to its
  * listener before reading the totals. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
