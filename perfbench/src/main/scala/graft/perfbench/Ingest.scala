package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types._

import graft.sources.Snapshots
import graft.streaming.EventStreams

/** `ingest`: CDC landing into a versioned table beside a reader.
  *
  * An open-loop generator thread lands one pre-generated, seeded delta
  * file of `orders` updates per tick into a directory that Spark reads
  * as a file stream through `EventStreams.mergeCdcSink` into a
  * `Snapshots` table. The table starts from the sf0.1 `orders`: the
  * stream's first file is the base, committed during set-up. One
  * closed-loop reader runs a status/revenue report at HEAD meanwhile.
  */
final class Ingest extends Workload {
  private var query: StreamingQuery = _
  private var dir = ""
  private val batches = new ConcurrentLinkedQueue[Map[String, Double]]()

  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType), StructField("__v", LongType)))

  private def root = s"$dir/table"

  /** Each micro-batch's end (freshness is computed from it) and Spark's
    * breakdown of its time; recorded whether or not the run is traced.
    */
  private final class Progress(trace: Trace) extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => s"${k}_s" -> v.toDouble / 1e3 }.toMap
      val start = Clock.ofEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val end = start + d.getOrElse("triggerExecution_s", 0.0)
      batches.add(d ++ Map("id" -> p.batchId.toDouble, "start" -> start,
        "end" -> end))
      trace.add(Span(s"batch-${p.batchId}", "streaming", "batch", start, end,
        d + ("num_input_rows" -> p.numInputRows.toDouble)))
    }
  }

  def setup(s: SparkSession, data: String, run: Run): Unit = {
    import s.implicits._
    dir = s"${run.runDir}/ingest"
    val incoming = Files.createDirectories(Paths.get(s"$dir/incoming"))
    Files.createLink(incoming.resolve("base.csv"),
      Paths.get(Json.str(run.plan, "base")))
    s.streams.addListener(new Progress(run.trace))
    val raw = s.readStream.schema(schema).csv(incoming.toString)
    val updates = EventStreams.withUpdHash(raw).as[EventStreams.Upd]
    query = EventStreams.mergeCdcSink(s, updates, root, s"$dir/checkpoint")
    query.processAllAvailable()
    val warm = read(s, run, "setup-read")
    require(warm.ok, s"set-up read failed: ${warm.err}")
  }

  private def read(s: SparkSession, run: Run, req: String): Op =
    run.exec(s, req, 0, "read", "status_revenue") {
      val t = run.trace.time(req, "snapshots", "read_resolve")(
        Snapshots.read(s, root))
      run.trace.time(req, "action", "noop_write")(Outputs.noop(report(t)))
      -1L
    }

  private def report(t: DataFrame): DataFrame =
    t.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), graft.Det.dsum(col("o_totalprice")).as("revenue"))

  def timed(s: SparkSession, data: String, run: Run): Unit = {
    val tick = Json.num(run.plan, "tick_s")
    val deltas = Json.arr(run.plan, "deltas").map(d =>
      Json.str(d, "file") -> Json.num(d, "rows").toLong)
    val landed = new ConcurrentLinkedQueue[Seq[Any]]()
    val start = Clock.now()
    val w0 = start + run.ramp
    val deadline = w0 + run.seconds
    run.openWindowAt(w0)
    val gen = new Thread(() => {
      deltas.iterator.zipWithIndex
        .takeWhile { case (_, i) => start + i * tick < deadline }
        .foreach { case ((file, rows), i) =>
          val due = start + i * tick
          val wait = due - Clock.now()
          if (wait > 0) Thread.sleep((wait * 1000).toLong, ((wait * 1e9) % 1e6).toInt)
          val src = Paths.get(file)
          // new mtime first: the file source orders files by it
          src.toFile.setLastModified(System.currentTimeMillis())
          Files.move(src, Paths.get(s"$dir/incoming").resolve(src.getFileName),
            StandardCopyOption.ATOMIC_MOVE)
          landed.add(Seq(i, due, Clock.now(), rows.toDouble))
        }
    }, "ingest-generator")
    gen.start()
    var n = 0
    while (Clock.now() < deadline) { read(s, run, s"r-$n"); n += 1 }
    gen.join()
    val w1 = Clock.now()
    query.processAllAvailable()
    run.facts.put("window", Seq(w0, w1))
    run.facts.put("tick_s", tick)
    run.facts.put("landed", landed.asScala.toSeq)
  }

  /** Final HEAD rows and the report over them, for the model check. */
  def dump(s: SparkSession, data: String, run: Run, out: String): Unit = {
    query.stop()
    val head = Snapshots.headVersion(s, root)
    run.facts.put("batches_log", batches.asScala.toSeq.sortBy(_("id")))
    run.facts.put("snap_versions", head)
    run.facts.put("snap_files", Snapshots.fileCount(s, root, head))
    run.facts.put("table_root", root)
    val t = Snapshots.read(s, root)
    t.select("o_orderkey", "o_orderstatus", "o_totalprice", "__v")
      .write.parquet(s"$out/head")
    report(t).write.parquet(s"$out/report")
  }
}
