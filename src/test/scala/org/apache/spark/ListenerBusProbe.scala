package org.apache.spark

/** Test-only drain of the listener bus, which is `private[spark]`: a
  * listener has seen every event posted so far once this returns. */
object ListenerBusProbe {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
