package org.apache.spark

/** Access bridge to the `private[spark]` listener bus: the tracer must read
  * its counters only after every task-end event of the measured calls has
  * been delivered. Lives in the spark package solely to satisfy the access
  * modifier. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
