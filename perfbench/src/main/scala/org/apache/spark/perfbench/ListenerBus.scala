package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark delivers listener events asynchronously; the traced run reads its
  * counters only after every event posted so far has been handled. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
