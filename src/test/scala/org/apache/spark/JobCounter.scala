package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts (in this package for the
  * Spark-private listener bus). Listener delivery is asynchronous, so the
  * bus is drained before the listener is added (no earlier job is
  * counted) and again before the count is read (every job the block
  * started is counted) — no sleep can promise either on a loaded host. */
object JobCounter {
  def jobsDuring(sc: SparkContext)(body: => Unit): Int = {
    val count = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = count.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(l)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
    } finally sc.removeSparkListener(l)
    count.get()
  }
}
