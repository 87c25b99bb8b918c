package org.apache.spark

/** Listener-bus access the public API does not offer: the traced run reads
  * its counters only after every posted event has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
