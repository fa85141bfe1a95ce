package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; a traced phase waits on it so
  * every job, stage and task event of the phase has been delivered before
  * its listener is read. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
