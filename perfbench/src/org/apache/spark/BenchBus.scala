package org.apache.spark

/** The listener bus is private to Spark; the traced run must wait until its
  * listener has seen every task of a pass before reading the totals.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
