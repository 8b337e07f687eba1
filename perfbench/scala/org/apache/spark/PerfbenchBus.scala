package org.apache.spark

/** The listener bus is package-private; the benchmark's tracer needs to
  * wait for it to deliver every queued event before it reads its
  * records. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
