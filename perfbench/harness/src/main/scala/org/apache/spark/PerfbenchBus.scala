package org.apache.spark

/** The listener bus is `private[spark]`; this shim lets the benchmark
  * drain it before reading any listener counter, so counts are exact
  * instead of racing asynchronous event delivery. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
