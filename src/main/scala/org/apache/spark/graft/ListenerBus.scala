package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Compile-checked access to the `private[spark]` listener bus for
  * readers of [[graft.QueryListener]] (Bench, Probe): stage
  * metrics are delivered asynchronously, so a probe that reads its
  * accumulated records after a fixed sleep can silently drop the heaviest
  * stage. Draining the bus before reading makes the report complete by
  * construction.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
