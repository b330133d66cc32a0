package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * The bus is `private[spark]`, hence this one-line shim in Spark's
  * package; the benchmark calls it before reading its listener's counts. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
