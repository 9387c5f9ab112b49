package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.PlanPhases

/** One timed interval of one layer. Times are seconds on [[Clock]]. The
  * parent link is not stored: the trace reader derives it from the
  * request id and interval containment (see perfbench/spans.py).
  */
final case class Span(req: String, layer: String, name: String,
    start: Double, end: Double, attrs: Map[String, Double] = Map.empty)

/** One clock for client-side spans (nanoTime) and Spark's events (epoch
  * milliseconds), so both kinds of span nest on one time axis.
  */
object Clock {
  private val originMs = System.currentTimeMillis()
  private val originNs = System.nanoTime()
  def now(): Double = (System.nanoTime() - originNs) / 1e9
  def ofEpochMs(ms: Long): Double = (ms - originMs) / 1e3
}

/** In-memory span store, written out once when the run ends. It records
  * only while the timed window is open (`window(true)`); with tracing
  * off nothing is recorded and no Spark listener is attached.
  */
final class Trace(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  @volatile private var armed = false

  def window(open: Boolean): Unit = armed = on && open

  def add(s: Span): Unit = if (armed) spans.add(s)

  /** Runs `body` and records it as a span of `layer` under `req`. */
  def time[T](req: String, layer: String, name: String)(body: => T): T = {
    val t0 = Clock.now()
    try body
    finally add(Span(req, layer, name, t0, Clock.now()))
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Spark job/stage/SQL-execution spans, attributed to the benchmark
    * request that caused them through the job group the client thread
    * set (`Run.exec`), or to a stream batch through Spark's own
    * `streaming.sql.batchId` job property.
    */
  final class SparkTracer extends SparkListener {
    private case class Job(req: String, start: Double)
    private val jobs = TrieMap.empty[Int, Job]
    private val stageReq = TrieMap.empty[Int, String]
    private val firstLaunch = TrieMap.empty[Int, Double]
    private val stageAcc = TrieMap.empty[Int, Array[Double]]
    private val execReq = TrieMap.empty[Long, String]

    private def reqOf(p: java.util.Properties): String =
      Option(p).flatMap(p => Option(p.getProperty("streaming.sql.batchId"))
        .map("batch-" + _)
        .orElse(Option(p.getProperty("spark.jobGroup.id"))))
        .getOrElse("")

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val req = reqOf(e.properties)
      jobs(e.jobId) = Job(req, Clock.ofEpochMs(e.time))
      e.stageIds.foreach(id => stageReq.putIfAbsent(id, req))
      Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execReq.putIfAbsent(x.toLong, req))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId).foreach { j =>
        add(Span(j.req, "scheduler", "job", j.start, Clock.ofEpochMs(e.time)))
      }

    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      firstLaunch.putIfAbsent(e.stageId, Clock.ofEpochMs(e.taskInfo.launchTime))

    // per stage: tasks, run s, cpu s, gc s, input bytes, peak exec mem,
    // shuffle write bytes, shuffle read bytes, fetch wait s, spill bytes
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        val a = stageAcc.getOrElseUpdate(e.stageId, new Array[Double](10))
        a.synchronized {
          a(0) += 1
          a(1) += m.executorRunTime / 1e3
          a(2) += m.executorCpuTime / 1e9
          a(3) += m.jvmGCTime / 1e3
          a(4) += m.inputMetrics.bytesRead
          a(5) = math.max(a(5), m.peakExecutionMemory.toDouble)
          a(6) += m.shuffleWriteMetrics.bytesWritten
          a(7) += m.shuffleReadMetrics.totalBytesRead
          a(8) += m.shuffleReadMetrics.fetchWaitTime / 1e3
          a(9) += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val submitted = Clock.ofEpochMs(si.submissionTime.getOrElse(0L))
      val done = Clock.ofEpochMs(si.completionTime.getOrElse(0L))
      val a = stageAcc.remove(si.stageId).getOrElse(new Array[Double](10))
      val names = Seq("tasks", "task_run_s", "task_cpu_s", "gc_s",
        "input_bytes", "peak_exec_mem_bytes", "shuffle_write_bytes",
        "shuffle_read_bytes", "shuffle_fetch_wait_s", "spill_bytes")
      val wait = firstLaunch.remove(si.stageId).map(_ - submitted)
        .getOrElse(0.0)
      add(Span(stageReq.remove(si.stageId).getOrElse(""), "scheduler",
        "stage", submitted, done,
        names.zip(a).toMap + ("slot_wait_s" -> math.max(0.0, wait))))
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(g => execReq.putIfAbsent(s.executionId, g))
      case end: SparkListenerSQLExecutionEnd =>
        val req = execReq.remove(end.executionId).getOrElse("")
        PlanPhases.of(end).foreach { case (phase, (t0, t1)) =>
          add(Span(req, "catalyst", phase,
            Clock.ofEpochMs(t0), Clock.ofEpochMs(t1)))
        }
      case _ => ()
    }
  }
}
