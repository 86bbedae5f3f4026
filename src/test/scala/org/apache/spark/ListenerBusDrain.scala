package org.apache.spark

/** Test access to the listener bus, whose drain is package-private: after
  * `drain`, every event of a finished action has reached every listener.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
