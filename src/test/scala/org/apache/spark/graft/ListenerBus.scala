package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Spark keeps the listener-bus drain package-private; specs that read
  * listener totals call this first so every event of the measured work
  * has been delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
