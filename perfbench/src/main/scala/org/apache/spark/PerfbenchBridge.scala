package org.apache.spark

/** Access to the listener bus, whose drain is package-private. The traced
  * run waits for every event of an op before it attributes the op's time. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
