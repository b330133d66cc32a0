package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * a spec can read its listener's counts right after an action. The bus
  * is `private[spark]`, hence this shim in Spark's package. */
object SpecListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
