package org.apache.spark

/** Access to the listener-bus drain, which Spark keeps package-private:
  * a traced span must not close before the events of its jobs are seen. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
