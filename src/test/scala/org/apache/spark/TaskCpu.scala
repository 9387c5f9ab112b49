package org.apache.spark

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Executor CPU nanoseconds of the tasks a block runs, drained like
  * [[JobCount]].
  */
object TaskCpu {
  def apply(sc: SparkContext)(block: => Unit): Long = {
    sc.listenerBus.waitUntilEmpty()
    val ns = new AtomicLong
    val l = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach(m => ns.addAndGet(m.executorCpuTime))
    }
    sc.addSparkListener(l)
    try { block; sc.listenerBus.waitUntilEmpty() }
    finally sc.removeSparkListener(l)
    ns.get
  }
}
