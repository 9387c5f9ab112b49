package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. Lives in Spark's package to
  * reach `listenerBus.waitUntilEmpty()`: the bus is drained before the
  * listener attaches (earlier jobs are not counted) and after the block
  * (every job it started has been delivered), so no sleep is needed.
  */
object JobCount {
  def apply(sc: SparkContext)(block: => Unit): Int = {
    sc.listenerBus.waitUntilEmpty()
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try { block; sc.listenerBus.waitUntilEmpty() }
    finally sc.removeSparkListener(l)
    jobs.get
  }
}
