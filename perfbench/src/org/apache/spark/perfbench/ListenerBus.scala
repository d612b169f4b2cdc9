package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives under `org.apache.spark` only to reach the listener bus: the
  * traced run waits for every posted event to be delivered before it reads
  * its listener's counters, so no task of a finished span is missed. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
