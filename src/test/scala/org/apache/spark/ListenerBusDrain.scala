package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * spec's `SparkListener` has seen all events of the jobs that ran
  * before the call (the bus is private to the `spark` package). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
