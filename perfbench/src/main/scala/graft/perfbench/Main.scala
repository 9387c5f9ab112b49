package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.JValue

import graft.SparkEntry

/** One timed operation: an analyst request, a pipeline operator or an
  * ingest read. `result` is the row count a cohort request returned
  * (checked against DuckDB after the run); -1 where nothing is counted.
  */
final case class Op(req: String, client: Int, kind: String, key: String,
    start: Double, end: Double, ok: Boolean, err: String, result: Long)

/** What a workload sees of the run: its plan, ramp and window lengths,
  * recorders. The ramp is untimed load before the window that brings the
  * JVM's JIT to steady state; set-up alone leaves it warming.
  */
final class Run(val plan: JValue, val runDir: String, val ramp: Double,
    val seconds: Double, val trace: Trace) {
  private val ops = new ConcurrentLinkedQueue[Op]()
  @volatile private[perfbench] var codegenAtWindow = 0L

  /** Opens the timed window at `w0`: from then on spans are recorded and
    * codegen compiles counted.
    */
  def openWindowAt(w0: Double): Unit = {
    def open(): Unit = {
      codegenAtWindow = Main.codegen()._1
      trace.window(open = true)
    }
    val wait = w0 - Clock.now()
    if (wait <= 0) open()
    else {
      val t = new Thread(() => { Thread.sleep((wait * 1000).toLong); open() },
        "window-opener")
      t.setDaemon(true)
      t.start()
    }
  }

  /** Extra facts a workload reports (window, batches, generator log). */
  val facts = new java.util.concurrent.ConcurrentHashMap[String, Any]()

  def allOps: Seq[Op] = ops.asScala.toSeq

  /** Runs one operation in the calling thread, tagged with `req` so the
    * tracer can attribute its Spark jobs, and records it. A failure is
    * recorded, never rethrown: it counts against the run's error rate.
    */
  def exec(s: SparkSession, req: String, client: Int, kind: String,
      key: String)(body: => Long): Op = {
    s.sparkContext.setJobGroup(req, kind, interruptOnCancel = false)
    val t0 = Clock.now()
    val op =
      try {
        val r = body
        Op(req, client, kind, key, t0, Clock.now(), ok = true, "", r)
      } catch {
        case e: Throwable =>
          Op(req, client, kind, key, t0, Clock.now(), ok = false,
            String.valueOf(e.getMessage).take(500), -1)
      } finally s.sparkContext.clearJobGroup()
    trace.add(Span(req, "client", "request", op.start, op.end))
    ops.add(op)
    op
  }
}

/** Where operator results go. */
object Outputs {
  /** Runs `df` to completion without keeping its rows. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The oracle SQL file `tools/localgate.py` reads beside the dumps. */
  def oracles(out: String): Unit = {
    Files.createDirectories(Paths.get(out))
    Json.writeLines(s"$out/oracle_sql.json", Seq(Json.render(SparkEntry.oracleSql)))
  }
}

/** A workload: set-up (timed), the timed window, and the
  * untimed dumps its correctness check reads.
  */
trait Workload {
  def fair: Boolean = false
  def setup(s: SparkSession, data: String, run: Run): Unit
  def timed(s: SparkSession, data: String, run: Run): Unit
  def dump(s: SparkSession, data: String, run: Run, out: String): Unit
}

/** Entry point, launched by perfbench/run.py:
  *
  * {{{
  * Main <workload> <dataDir> <runDir> <planJson> <rampSeconds> <seconds> <trace 0|1> <cpus>
  * }}}
  *
  * Writes `result.json` (JVM boot and set-up times, window facts,
  * memory, codegen counters), `ops.jsonl`, `trace.jsonl` (traced runs only) and the
  * verification dumps under `dump/`, all inside `runDir`.
  */
object Main {
  /** Ends the JVM as soon as the run's files are written: Spark's orderly
    * shutdown only cleans directories run.py removes anyway, and a failed
    * run must not hang on Spark's non-daemon threads.
    */
  def main(args: Array[String]): Unit = {
    val code =
      try { execute(args); 0 }
      catch { case t: Throwable => t.printStackTrace(); 1 }
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }

  private def execute(args: Array[String]): Unit = {
    val bootS = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getUptime / 1e3
    val Array(name, data, runDir, planPath, ramp, secs, traced, nproc) = args
    val cpus = nproc.toInt
    val run = new Run(Json.parse(planPath), runDir, ramp.toDouble,
      secs.toDouble, new Trace(traced == "1"))
    val wl: Workload = name match {
      case "analyst" => new Analyst
      case "pipeline" => new Pipeline
      case "ingest" => new Ingest
      case other => throw new IllegalArgumentException(s"workload $other")
    }

    // One cold set-up; graft's build-once roots go to the run's own
    // GRAFT_SCRATCH, so the set-up pays every build.
    val t0 = Clock.now()
    val spark = Session.build(data, cpus, runDir, wl.fair)
    wl.setup(spark, data, run)
    val setupS = Clock.now() - t0

    val tracer = if (run.trace.on) {
      val t = new run.trace.SparkTracer
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    wl.timed(spark, data, run)
    org.apache.spark.sql.perfbench.PlanPhases.drainListeners(spark.sparkContext)
    run.trace.window(open = false)
    val cg1 = codegen()
    val rssMb = peakRssMb()
    tracer.foreach(spark.sparkContext.removeSparkListener)

    wl.dump(spark, data, run, s"$runDir/dump")

    Json.writeLines(s"$runDir/ops.jsonl", run.allOps.map(o => Json.render(Map(
      "req" -> o.req, "client" -> o.client, "kind" -> o.kind, "key" -> o.key,
      "start" -> o.start, "end" -> o.end, "ok" -> o.ok, "err" -> o.err,
      "result" -> o.result))))
    if (run.trace.on)
      Json.writeLines(s"$runDir/trace.jsonl", run.trace.all.map(sp =>
        Json.render(Map("req" -> sp.req, "layer" -> sp.layer,
          "name" -> sp.name, "start" -> sp.start, "end" -> sp.end,
          "attrs" -> sp.attrs))))
    Json.writeLines(s"$runDir/result.json", Seq(Json.render(Map(
      "jvm_boot_s" -> bootS,
      "setup_s" -> setupS,
      "cpus" -> cpus,
      "peak_rss_mb" -> rssMb,
      "codegen_compiles" -> (cg1._1 - run.codegenAtWindow),
      "codegen_mean_ms" -> cg1._2) ++ run.facts.asScala)))
  }

  /** (compile count, mean compile ms) from Spark's CodegenMetrics. The
    * histogram keeps a sample, not a sum, so compile seconds are
    * estimated as count × mean.
    */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  /** The process's resident-set high-water mark (VmHWM), in MB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}
