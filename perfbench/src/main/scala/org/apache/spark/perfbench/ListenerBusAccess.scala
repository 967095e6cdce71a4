package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the `private[spark]` listener bus, so the benchmark can wait for
  * every queued task event before it reads its span counters. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
