package org.apache.spark

/** Drains the listener bus, so a SparkListener has seen every event of
  * the actions that already returned. The bus is package-private; this
  * file sits in Spark's package for that access only.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
