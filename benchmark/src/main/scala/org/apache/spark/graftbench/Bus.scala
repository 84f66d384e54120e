package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is `private[spark]`: the traced run
  * waits for every queued event before it sums an operation's counters. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
