package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Reaches the `private[spark]` listener bus so a spec can wait until every
  * job event of the work it just ran has reached its listener. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
