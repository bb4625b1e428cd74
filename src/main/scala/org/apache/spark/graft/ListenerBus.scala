package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Access to the session's listener bus, which is `private[spark]`, for
  * the probes and specs that read listener counts. */
object ListenerBus {
  /** Blocks until every event posted so far reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
