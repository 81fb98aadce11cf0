package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * measured window's counters are complete when it is read. Lives in the
  * `org.apache.spark` package because the bus is package-private. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
