package org.apache.spark.grafttest

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener-bus drain, so a spec reads
  * listener events and status-tracker state that are complete. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
