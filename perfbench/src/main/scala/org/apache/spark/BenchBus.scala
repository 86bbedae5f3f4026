package org.apache.spark

/** The listener bus is package-private; the harness drains it so a
  * listener has seen every event of a finished action before it is read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
