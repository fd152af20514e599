package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * counters gathered by listeners can be read at an op boundary. The
  * bus itself is `private[spark]`; this is the only reason the file
  * lives in Spark's package. */
object E2eBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
