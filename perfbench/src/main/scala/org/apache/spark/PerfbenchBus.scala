package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced run's spans are complete before they are written out
  * (`waitUntilEmpty` is package-private to Spark). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
