package org.apache.spark

/** Access to the `private[spark]` listener bus, so the benchmark reads
  * its listeners' state only after every posted event is delivered. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
