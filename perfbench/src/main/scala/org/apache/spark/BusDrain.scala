package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far.
  * The bus is package-private to Spark; the benchmark's recorder needs it
  * drained to close a span's job and batch logs exactly. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
