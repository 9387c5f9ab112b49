package graft.streaming

import graft.Gate
import graft.Tables._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState

/** §2.D st01–st02 — streaming analytics.
  *
  * The reference DWH is an incremental-feed system (continuous imports
  * into the CRC); Structured Streaming is the Spark-native form of that
  * capability. Each streaming job here shares its core transformation
  * with a batch twin, so the oracle gate checks the exact semantics the
  * stream computes.
  */
object EventStreams {

  private val TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
  private val GAP_US = 30L * 60 * 1000000

  // ---------------------------------------------------------------- st01
  /** Shared tumbling-window transform: applied to a batch frame below and
    * to a watermarked stream in `hourlyCountsStream`.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(date_format(col("window.start"), TS_FMT).as("window_start"),
        col("n_events"), col("approx_users"))

  /** Batch twin — the `queries` entry (SQL oracle). Exact countDistinct
    * here; the streaming variant uses approx_count_distinct because exact
    * per-window distincts require unbounded state on an infinite stream.
    */
  def st01(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .select(date_format(col("window.start"), TS_FMT).as("window_start"),
        col("n_events"), col("n_users"))
      .transform(Gate.ordered("window_start"))

  /** Streaming form: 2-hour watermark bounds state; late events beyond it
    * are dropped, windows finalize and evict.
    */
  def hourlyCountsStream(stream: DataFrame): DataFrame =
    hourlyCounts(stream.withWatermark("ts", "2 hours"))

  // ---------------------------------------------------------------- st08
  // SLIDING windows — the census shape st01's tumbling windows can't
  // give: "the last 2 hours, refreshed every 30 minutes" (ED load
  // monitoring reads overlapping windows, not hour buckets). Each event
  // belongs to exactly window/slide = 4 windows; Spark expands the
  // membership at the map side and the aggregate stays one shuffle of
  // per-window partials — state and shuffle scale by the overlap
  // factor, not by events². On a stream the same transform runs with a
  // watermark: a window finalizes (and its state evicts) once the
  // watermark passes its END, so at most ~(window+lateness)/slide
  // windows per key are ever open.
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "2 hours", "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(date_format(col("window.start"), TS_FMT).as("window_start"),
        date_format(col("window.end"), TS_FMT).as("window_end"),
        col("n_events"), col("approx_users"))

  /** Batch twin — the `queries` entry (SQL oracle; exact distincts, the
    * st01 convention).
    */
  def st08(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "2 hours", "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .select(date_format(col("window.start"), TS_FMT).as("window_start"),
        date_format(col("window.end"), TS_FMT).as("window_end"),
        col("n_events"), col("n_users"))
      .transform(Gate.ordered("window_start"))

  /** Streaming form: the 2-hour watermark bounds open-window state. */
  def slidingCountsStream(stream: DataFrame): DataFrame =
    slidingCounts(stream.withWatermark("ts", "2 hours"))

  // ---------------------------------------------------------------- st02
  case class Ev(user_id: Long, event_id: Long, ts_us: Long)
  case class Session(user_id: Long, session_id: Long, n_events: Long,
      session_start: String, dur_sec: Double)
  /** Open-session state carried across micro-batches. */
  case class OpenSession(sessionId: Long, nEvents: Long, startUs: Long, lastUs: Long)

  private def fmtMicros(us: Long): String = {
    val inst = java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
    java.time.LocalDateTime.ofInstant(inst, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern(TS_FMT))
  }

  private def close(u: Long, o: OpenSession): Session =
    Session(u, o.sessionId, o.nEvents, fmtMicros(o.startUs),
      (o.lastUs - o.startUs) / 1e6)

  /** Fold sorted events into an open-session chain: emits each session
    * the moment a later event proves it closed. Shared by the batch twin
    * (flatMapGroups) and the streaming path (flatMapGroupsWithState) —
    * identical semantics to Cohort.c09's window formulation.
    */
  def advance(user: Long, prior: Option[OpenSession], sorted: Seq[Ev])
      : (Vector[Session], Option[OpenSession]) =
    sorted.foldLeft((Vector.empty[Session], prior)) {
      case ((closed, None), e) =>
        (closed, Some(OpenSession(1L, 1L, e.ts_us, e.ts_us)))
      case ((closed, Some(o)), e) =>
        if (e.ts_us - o.lastUs > GAP_US)
          (closed :+ close(user, o),
            Some(OpenSession(o.sessionId + 1, 1L, e.ts_us, e.ts_us)))
        else
          (closed, Some(o.copy(nEvents = o.nEvents + 1, lastUs = e.ts_us)))
    }

  /** Batch twin — typed Dataset path, gate-checked against c09's SQL
    * oracle, via a SECONDARY SORT: one shuffle on user_id, a
    * per-partition sort on (user, ts, event_id) — Spark's external sort,
    * spillable — then a single streaming fold over each partition. No
    * per-group materialization anywhere: a pathological user with 10M
    * events flows through in constant memory (one OpenSession of state),
    * where a per-group `toVector.sortBy` would OOM the task.
    */
  def st02(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val evs: Dataset[Ev] = events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .as[Ev]
    evs
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts_us"), col("event_id"))
      .as[Ev]
      .mapPartitions { it =>
        // lazy fold over the sorted run: `advance` (the shared session
        // fold) one event at a time; user boundaries close the previous
        // user's open tail. The trailing `++` iterator flushes the last
        // open session only after the partition is exhausted.
        var curUser = Long.MinValue
        var open: Option[OpenSession] = None
        val closedRuns = it.flatMap { e =>
          val boundary = if (open.isDefined && e.user_id != curUser) {
            val c = close(curUser, open.get); open = None; Seq(c)
          } else Nil
          curUser = e.user_id
          val (closed, stillOpen) = advance(e.user_id, open, Seq(e))
          open = stillOpen
          boundary ++ closed
        }
        closedRuns ++ new Iterator[Session] {
          def hasNext: Boolean = open.isDefined
          def next(): Session = { val c = close(curUser, open.get); open = None; c }
        }
      }
      .toDF()
      .transform(Gate.ordered("user_id", "session_id"))
  }

  /** Streaming sessionization: state = the one open session per user.
    * Emits sessions as they close; the open tail stays in state until a
    * later batch closes it. Bounded state (one OpenSession per active
    * user), Update output mode.
    */
  def sessionizeState(user: Long, batch: Iterator[Ev],
      state: GroupState[OpenSession]): Iterator[Session] = {
    val sorted = batch.toVector.sortBy(e => (e.ts_us, e.event_id))
    val (closed, open) = advance(user, state.getOption, sorted)
    open match {
      case Some(o) => state.update(o)
      case None => state.remove()
    }
    closed.iterator
  }

  def sessionizeStream(s: SparkSession, stream: Dataset[Ev]): Dataset[Session] = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    stream.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(sessionizeState)
  }

  // ---------------------------------------------------------------- st09
  // Streaming funnel: c10's view→click→purchase stage timestamps as a
  // per-user fold. Processed in ascending (ts, event_id) order the fold
  // IS c10's window formulation (fv = global min view because no later
  // event can precede it in the sort; first click strictly after fv is
  // the first qualifying one encountered; ties skip under either
  // processing order since the > is strict). State is three epoch-µs
  // slots per user — constant, never an event buffer.
  case class TEv(user_id: Long, event_id: Long, ts_us: Long,
      event_type: String)
  /** -1 = stage not reached; ts_us is always >= 0 in this corpus. */
  case class FunnelState(fv: Long, fc: Long, fp: Long)
  private[graft] val FunnelEmpty = FunnelState(-1L, -1L, -1L)

  /** The shared stage fold — batch twin and stream apply the same
    * function, so the streaming semantics chain to c10's SQL oracle.
    */
  def funnelAdvance(st: FunnelState, sorted: Seq[TEv]): FunnelState =
    sorted.foldLeft(st) { (s, e) =>
      e.event_type match {
        case "view" if s.fv < 0 => s.copy(fv = e.ts_us)
        case "click" if s.fc < 0 && s.fv >= 0 && e.ts_us > s.fv =>
          s.copy(fc = e.ts_us)
        case "purchase" if s.fp < 0 && s.fc >= 0 && e.ts_us > s.fc =>
          s.copy(fp = e.ts_us)
        case _ => s
      }
    }

  /** Batch twin — the `queries` entry (c10's oracle verbatim): st02's
    * secondary-sort shape (one user_id shuffle, spillable partition
    * sort, constant-memory fold) then one tiny global aggregate.
    */
  def st09(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val evs = events(s, d)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .as[TEv]
    evs
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts_us"), col("event_id"))
      .as[TEv]
      .mapPartitions { it =>
        var curUser = Long.MinValue
        var open: Option[FunnelState] = None
        val runs = it.flatMap { e =>
          val boundary = if (open.isDefined && e.user_id != curUser) {
            val r = Seq((curUser, open.get)); open = None; r
          } else Nil
          curUser = e.user_id
          open = Some(funnelAdvance(open.getOrElse(FunnelEmpty), Seq(e)))
          boundary
        }
        runs ++ new Iterator[(Long, FunnelState)] {
          def hasNext: Boolean = open.isDefined
          def next(): (Long, FunnelState) = {
            val r = (curUser, open.get); open = None; r
          }
        }
      }
      .toDF("user_id", "f")
      .agg(count(when(col("f.fv") >= 0, 1)).as("n_view"),
        count(when(col("f.fc") >= 0, 1)).as("n_view_click"),
        count(when(col("f.fp") >= 0, 1)).as("n_view_click_purchase"))
  }

  /** Streaming form: each batch's events fold onto the per-user stage
    * state (batch sorted like st02; the feed is time-ordered across
    * batches, the st02 convention). Update mode emits the user's state
    * after every batch that touches it — the latest emission per user
    * is the funnel row.
    */
  def funnelState(user: Long, batch: Iterator[TEv],
      state: GroupState[FunnelState]): Iterator[(Long, Long, Long, Long)] = {
    val sorted = batch.toVector.sortBy(e => (e.ts_us, e.event_id))
    val st = funnelAdvance(state.getOption.getOrElse(FunnelEmpty), sorted)
    state.update(st)
    Iterator.single((user, st.fv, st.fc, st.fp))
  }

  def funnelStream(s: SparkSession, stream: Dataset[TEv])
      : Dataset[(Long, Long, Long, Long)] = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    stream.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, (Long, Long, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(funnelState)
  }

  // ---------------------------------------------------------------- st10
  // Readmission as a LIVE metric (c37's KPI without waiting for the
  // nightly batch): a visit's discharge verdict is decidable the
  // moment the SAME patient's next event arrives — if it opens a new
  // session (> 30-min gap), the closed visit's readmission flag is
  // (new start − old end ≤ 24 h), final, and emitted immediately. The
  // still-open tail visit per patient has no successor yet, so the
  // live view covers exactly the CLOSED discharges — c37 minus each
  // patient's final visit (which batch counts as a non-readmission).
  // State is st02's one OpenSession per user; the verdict needs only
  // the pre-advance open session's end, so the session fold itself
  // stays the ONE shared `advance` definition.
  case class Verdict(user_id: Long, discharge_us: Long, readmit: Boolean)

  /** Batch twin — the `queries` entry (oracle = c37's session+LEAD SQL
    * restricted to decided discharges). Day-level rollup of verdicts
    * over closed visits.
    */
  def st10(s: SparkSession, d: String): DataFrame =
    graft.operators.Cohort.dischargeVerdicts(s, d) // ONE verdict def
      .filter(col("next_start_us").isNotNull)
      .groupBy(date_format(timestamp_micros(col("last_us")), "yyyy-MM-dd")
        .as("discharge_day"))
      .agg(count(lit(1)).as("n_closed"),
        sum(col("readmit")).as("n_readmit_24h"))
      .transform(Gate.ordered("discharge_day"))

  /** Streaming form: each batch's sorted events drive st02's `advance`
    * fold; BEFORE each state transition, an event that would close the
    * open session fixes that visit's verdict (its own ts is the next
    * visit's start). Update mode; one Verdict per closed visit, ever.
    */
  def readmitState(user: Long, batch: Iterator[Ev],
      state: GroupState[OpenSession]): Iterator[Verdict] = {
    val sorted = batch.toVector.sortBy(e => (e.ts_us, e.event_id))
    var open = state.getOption
    val out = Vector.newBuilder[Verdict]
    sorted.foreach { e =>
      open.foreach { o =>
        if (e.ts_us - o.lastUs > GAP_US)
          out += Verdict(user, o.lastUs,
            e.ts_us - o.lastUs <= graft.operators.Cohort.READMIT_US)
      }
      val (_, next) = advance(user, open, Seq(e))
      open = next
    }
    open match {
      case Some(o) => state.update(o)
      case None => state.remove()
    }
    out.result().iterator
  }

  def readmitStream(s: SparkSession, stream: Dataset[Ev]): Dataset[Verdict] = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    stream.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Verdict](
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(readmitState)
  }

  // ---------------------------------------------------------------- st03
  /** Shared view→click attribution join: every click paired with the
    * same user's views in the 6 hours before it (inclusive both ends).
    * The batch twin and the stream-stream join below apply the identical
    * function, so the streaming semantics chain back to the SQL oracle.
    *
    * Scale shape: an equi-join on user_id with a time-range RESIDUAL —
    * Spark plans a shuffled sort-merge join on the key, never a nested
    * loop (spec-asserted). State in the streaming form is bounded by the
    * watermarks: the range condition lets the join evict a buffered view
    * once the click watermark passes `v_ts + 6h`.
    */
  def attributionJoin(views: DataFrame, clicks: DataFrame): DataFrame = {
    val v = views.select(col("user_id").as("v_user"),
      col("event_id").as("view_id"), col("ts").as("v_ts"))
    val c = clicks.select(col("user_id").as("c_user"),
      col("event_id").as("click_id"), col("ts").as("c_ts"))
    c.join(v, col("c_user") === col("v_user") &&
        col("v_ts") >= col("c_ts") - expr("INTERVAL 6 HOURS") &&
        col("v_ts") <= col("c_ts"))
      .select(col("c_user").as("user_id"), col("click_id"), col("view_id"),
        date_format(col("c_ts"), TS_FMT).as("click_ts"),
        // integer µs difference divided in double: exact below 2^53,
        // bit-equal across engines and partitionings
        ((unix_micros(col("c_ts")) - unix_micros(col("v_ts"))) / lit(1e6))
          .as("gap_sec"))
  }

  /** Batch twin — the `queries` entry (SQL oracle vs DuckDB). */
  def st03(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    attributionJoin(
      ev.filter(col("event_type") === "view"),
      ev.filter(col("event_type") === "click"))
      .transform(Gate.ordered("click_id", "view_id"))
  }

  /** Stream-stream form: both sides watermarked so the join's buffered
    * state is evictable. Views wait up to 6h (the join window) plus 1h
    * of allowed lateness; clicks only need their own lateness bound.
    */
  def attributionStream(views: DataFrame, clicks: DataFrame): DataFrame =
    attributionJoin(
      views.withWatermark("ts", "7 hours"),
      clicks.withWatermark("ts", "1 hour"))

  // ---------------------------------------------------------------- st07
  /** LEFT-OUTER attribution — the funnel-loss face st03's inner join
    * cannot produce: EVERY view, paired with the same user's clicks in
    * the 6 hours after it, or with NULL click columns when nothing
    * converted. The unconverted rows are the ones marketing actually
    * reports on ("views that never clicked"), and in the streaming form
    * they are exactly what a watermark buys: an outer result may only
    * emit once the CLICK watermark proves no click can still arrive in
    * the view's window — emit earlier and a late click falsifies the
    * NULL row; never emit and the row is lost. Same equi-join-on-user +
    * time-range-residual scale shape as st03 (sort-merge, never a
    * nested loop; state evicted as the watermark passes v_ts + 6 h).
    */
  def attributionOuter(views: DataFrame, clicks: DataFrame): DataFrame = {
    val v = views.select(col("user_id").as("v_user"),
      col("event_id").as("view_id"), col("ts").as("v_ts"))
    val c = clicks.select(col("user_id").as("c_user"),
      col("event_id").as("click_id"), col("ts").as("c_ts"))
    v.join(c, col("v_user") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 6 HOURS"), "left_outer")
      .select(col("v_user").as("user_id"), col("view_id"),
        date_format(col("v_ts"), TS_FMT).as("view_ts"),
        col("click_id"),
        // NULL-propagating on the unmatched rows, exact elsewhere
        ((unix_micros(col("c_ts")) - unix_micros(col("v_ts"))) / lit(1e6))
          .as("gap_sec"))
  }

  /** Batch twin — the `queries` entry (SQL oracle vs DuckDB). */
  def st07(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    attributionOuter(
      ev.filter(col("event_type") === "view"),
      ev.filter(col("event_type") === "click"))
      .transform(Gate.ordered("view_id", "click_id"))
  }

  /** Stream-stream left-outer form. Watermark roles mirror st03's: the
    * preserved (view) side buffers through its join window (6 h + 1 h
    * lateness); clicks only need their own lateness bound — the range
    * residual plus the click watermark is what licenses both state
    * eviction AND the null-row emission.
    */
  def attributionOuterStream(views: DataFrame, clicks: DataFrame): DataFrame =
    attributionOuter(
      views.withWatermark("ts", "7 hours"),
      clicks.withWatermark("ts", "1 hour"))

  // ------------------------------------------- continuous monthly report
  /** The c18 report as a continuous query: the same section explode
    * (Cohort.reportSections), aggregated per day × section × key over a
    * watermarked stream. Exact per-section user distincts would hold
    * unbounded per-key state on an infinite stream, so the streaming
    * form uses approx_count_distinct — the same exact→sketch tradeoff
    * st01 makes, and the one ApproxAtScale applies to the batch report
    * at 100 TB. Shared batch twin below for the equality spec.
    */
  def dailyReport(ev: DataFrame): DataFrame =
    graft.operators.Cohort.reportSections(ev)
      .groupBy(window(col("ts"), "1 day"), col("section"), col("sec_key"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(date_format(col("window.start"), TS_FMT).as("day_start"),
        col("section"), col("sec_key"), col("n_events"), col("approx_users"))

  def dailyReportStream(stream: DataFrame): DataFrame =
    dailyReport(stream.withWatermark("ts", "2 hours"))

  /** Exact batch twin of the daily report — the `queries` entry (SQL
    * oracle): countDistinct where the continuous form holds sketches,
    * the same exact→approx split st01 makes. StreamingSpec pins the
    * group keys and event counts of the two forms to each other, so
    * the oracle transitively checks the stream's sectioning too.
    */
  def st04(s: SparkSession, d: String): DataFrame =
    graft.operators.Cohort.reportSections(events(s, d))
      .groupBy(window(col("ts"), "1 day"), col("section"), col("sec_key"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .select(date_format(col("window.start"), TS_FMT).as("day_start"),
        col("section"), col("sec_key"), col("n_events"), col("n_users"))
      .transform(Gate.ordered("day_start", "section", "sec_key"))

  // ------------------------------------------------- exactly-once sink
  /** Idempotent per-batch writer: the micro-batch lands as an overwrite
    * of its own `batch_id=<n>` partition (dynamic partition overwrite),
    * so a replayed batch — the crash-between-write-and-commit window —
    * rewrites the identical partition instead of duplicating rows.
    * Exposed separately from the sink so the spec can replay a batch id
    * directly and assert idempotence.
    */
  def writeSessionBatch(batch: Dataset[Session], batchId: Long,
      outDir: String): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outDir)

  /** Exactly-once incremental session feed — the reference's
    * transactional-import face (continuous feeds into the CRC schema,
    * imported once each): checkpointed source offsets + stateful
    * sessionization + the idempotent foreachBatch sink above. Restarting
    * after a kill resumes from the checkpoint: committed batches are not
    * re-read, an uncommitted batch is replayed onto its own partition.
    */
  def sessionSink(s: SparkSession, stream: Dataset[Ev], outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    sessionizeStream(s, stream)
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: Dataset[Session], batchId: Long) =>
        writeSessionBatch(batch, batchId, outDir))
      .start()

  // ------------------------------------------------------ streaming dedup
  /** Ingest-time exact dedup — d01 as a continuous query: keep the FIRST
    * document seen per content hash across micro-batches. State is
    * BOUNDED by the watermark: a hash is remembered for the horizon and
    * then evicted, which is exactly the guarantee an incremental feed
    * needs (double-imports and replays arrive close together; a
    * legitimate re-publication months later is a new document). The
    * batch twin of the decision is d01's keep-min-id groupBy — the spec
    * feeds arrivals in doc_id order so "first seen" and "min id"
    * coincide and the stream's survivors must equal d01's keep set.
    *
    * Intra-batch caveat: "first seen" is deterministic only ACROSS
    * micro-batches — within one batch `dropDuplicatesWithinWatermark`
    * keeps an arbitrary row per key, so the min-id equivalence holds
    * only when duplicates never co-arrive in a single batch (the spec
    * arranges exactly that; a feed that can co-deliver duplicates
    * needs a per-batch min-id pre-aggregation in foreachBatch first).
    */
  def dedupStream(docs: DataFrame): DataFrame =
    docs
      .withColumn("content_hash", md5(col("text").cast("binary")))
      .withWatermark("arr_ts", "1 hour")
      .dropDuplicatesWithinWatermark("content_hash")

  // ------------------------------------------- continuous document ingest
  // src13's daily-ETL framing is batch, but at an AKTIN site the CDA
  // documents ARRIVE continuously (the wildfly ear accepts them all
  // day); the Spark-native form is a file stream over the landing
  // directory: each arriving XML file is parsed schema-first by the
  // SAME documentExtract transform the batch ingest uses — stateless
  // parse + explode, so append mode, no state, no watermark, and
  // exactly-once ingest comes from the file source's checkpointed
  // offsets. Malformed documents quarantine per micro-batch exactly as
  // in batch (PERMISSIVE + _corrupt_record). StreamingSpec drives the
  // corpus through one-file-per-trigger micro-batches and proves the
  // accumulated extraction equals src13's batch answer row-for-row.

  /** The landing-directory stream: typed event rows as documents land.
    * `maxFilesPerTrigger` bounds per-batch intake (None = Spark's
    * default: everything available per trigger — the production
    * setting; the spec passes 1 to force a many-batch arrival order).
    */
  def documentIngestStream(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = s.readStream
      .schema(graft.sources.RoundTrip.cdaDocSchema)
      .option("rowTag", "document")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
    graft.sources.RoundTrip.documentExtract(
      maxFilesPerTrigger.fold(reader)(n =>
        reader.option("maxFilesPerTrigger", n))
        .format("xml").load(dir))
  }

  /** Exact batch twin — the `queries` entry (SQL oracle): the per-day
    * ingest report over the document corpus (what a site's daily feed
    * monitor shows). Counts come from the DOCUMENTS, the oracle from
    * the events table the corpus was generated from — so the gate
    * checks the full document→fact→report path.
    */
  def st05(s: SparkSession, d: String): DataFrame =
    graft.sources.RoundTrip.documentExtract(
      graft.sources.RoundTrip.cdaParsed(s, d))
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .transform(Gate.ordered("day"))

  // ---------------------------------------------------------------- st06
  // Continuous latest-wins upsert: the CDC materialization face. src08
  // applies a finished delta BATCH; a live feed delivers update rows
  // continuously, and the materialized table must always show each
  // key's latest version. ONE decision rule serves both paths —
  // `better` mirrors upsertLatest's (version desc, whole-row-hash)
  // order exactly, including the replayed-import tie-break, so the
  // stream's converged state IS the batch answer (StreamingSpec proves
  // it across micro-batches, and that a replayed delta emits nothing).
  // `better` stays the reference; [[latestWins]] is its Catalyst form
  // (st17's micro-batch reduce), pinned equal to the `better` fold per
  // key by a property test over equal versions, replays and extreme
  // hashes.
  case class Upd(o_orderkey: Long, o_orderstatus: String,
      o_totalprice: Double, __v: Long, __h: Long)
  case class Latest(o_orderkey: Long, o_orderstatus: String,
      o_totalprice: Double, __v: Long)

  /** upsertLatest's winner decision as a pure total-order comparator
    * (max under it is commutative + associative → safe for partial
    * aggregation and arrival-order-free streaming state).
    */
  private[graft] def better(a: Upd, b: Upd): Boolean =
    a.__v > b.__v || (a.__v == b.__v && a.__h < b.__h)

  /** The whole-row hash upsertLatest tie-breaks on, computed BEFORE the
    * typed fold (columns in frame order, __h excluded — identical to
    * the batch path's xxhash64(struct(*))).
    */
  private[graft] def withUpdHash(updates: DataFrame): DataFrame =
    updates.withColumn("__h",
      xxhash64(struct(updates.columns.map(col): _*)))

  /** Upd's columns after the key, in field order. */
  private val UPD_PAYLOAD = Seq("o_orderstatus", "o_totalprice", "__v", "__h")

  /** `better`'s winner per `o_orderkey` as ONE Catalyst aggregate: the
    * row maximal under (__v, ~__h) — `~h` reverses `__h`'s order with no
    * overflow (`-h` would overflow at Long.MinValue). Output is Upd's
    * columns; the key is the grouping attribute itself, so the
    * aggregate's hash partitioning carries into a downstream per-key
    * window (the MERGE dup check) with no second exchange.
    */
  private[graft] def latestWins(updates: DataFrame): DataFrame =
    updates.groupBy(col("o_orderkey"))
      .agg(max_by(struct(UPD_PAYLOAD.map(col): _*),
        struct(col("__v"), bitwise_not(col("__h")))).as("_w"))
      .select(col("o_orderkey") +: UPD_PAYLOAD.map(c => col(s"_w.$c")): _*)

  private def upsertState(key: Long, rows: Iterator[Upd],
      state: GroupState[Upd]): Iterator[Latest] = {
    var best = state.getOption.orNull
    var changed = false
    rows.foreach { r =>
      if (best == null || better(r, best)) { best = r; changed = true }
    }
    if (!changed) Iterator.empty
    else {
      state.update(best)
      Iterator.single(Latest(best.o_orderkey, best.o_orderstatus,
        best.o_totalprice, best.__v))
    }
  }

  /** The live materialization: emits a key's new latest row whenever an
    * update wins; a losing or replayed update emits nothing.
    */
  def upsertStream(s: SparkSession, updates: Dataset[Upd]): Dataset[Latest] = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    updates.groupByKey(_.o_orderkey)
      .flatMapGroupsWithState[Upd, Latest](
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(upsertState)
  }

  /** Idempotent CDC-emission sink for [[upsertStream]] — the same
    * overwrite-by-batch contract as [[writeSessionBatch]]: emissions
    * land partitioned by batch_id, so a crash-replayed batch rewrites
    * its own partition instead of appending duplicates.
    */
  def writeUpsertBatch(batch: Dataset[Latest], batchId: Long,
      outDir: String): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outDir)

  /** Exactly-once continuous upsert: checkpointed offsets + per-key
    * latest-wins state + the idempotent sink above. Kill + restart
    * resumes from the checkpoint; a replayed update loses against the
    * state it already wrote and emits nothing (StreamingSpec kills the
    * query between generations and replays the full history).
    */
  def upsertSink(s: SparkSession, updates: Dataset[Upd], outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    upsertStream(s, updates)
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: Dataset[Latest], batchId: Long) =>
        writeUpsertBatch(batch, batchId, outDir))
      .start()

  /** Exact batch twin — the `queries` entry (src08's oracle): the same
    * comparator folded with reduceGroups, which — unlike src08's
    * window — partial-aggregates map-side (at 100 TB the shuffle
    * carries one candidate row per key per map task, not the feed).
    */
  def st06(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val u = graft.sources.RoundTrip.src08Base(s, d)
      .unionByName(graft.sources.RoundTrip.src08Delta(s, d))
    withUpdHash(u).as[Upd]
      .groupByKey(_.o_orderkey)
      .reduceGroups((a: Upd, b: Upd) => if (better(b, a)) b else a)
      .map(_._2)
      .toDF()
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .transform(Gate.ordered("o_orderkey"))
  }

  // ---------------------------------------------------------------- st15
  // CDC with DELETES: st06 materializes a latest-wins upsert feed, but
  // a real change-data-capture stream carries removals too (row
  // deleted upstream, GDPR erasure propagating through the feed). The
  // winner rule is st06's total order extended over ops: the highest
  // (version, hash) op at a key decides its fate — a 'D' winner means
  // the key is ABSENT from the materialized table, and the tombstone
  // STAYS in state so a late replay of an older upsert can never
  // resurrect the key (the classic CDC resurrection bug; StreamingSpec
  // replays history out of order to prove it). One comparator serves
  // the batch twin (reduceGroups — map-side partial aggregation, the
  // shuffle carries one candidate per key per map task) and the
  // stream; the batch twin is the gate entry with a full SQL oracle.
  case class CdcOp(o_orderkey: Long, o_orderstatus: String,
      o_totalprice: Double, __v: Long, __h: Long, op: String)
  case class CdcChange(o_orderkey: Long, op: String, o_orderstatus: String,
      o_totalprice: Double, __v: Long)

  private[graft] def betterOp(a: CdcOp, b: CdcOp): Boolean =
    a.__v > b.__v || (a.__v == b.__v && a.__h < b.__h)

  /** The three deterministic CDC generations: the base table (v0), the
    * src08 update delta (v1), and a delete wave (v2, keys %20==3) —
    * op rows carry the same whole-row hash tie-break as st06.
    */
  private[graft] def cdcFeed(s: SparkSession, d: String): DataFrame = {
    val base = graft.sources.RoundTrip.src08Base(s, d)
      .withColumn("op", lit("U"))
    val delta = graft.sources.RoundTrip.src08Delta(s, d)
      .withColumn("op", lit("U"))
    val deletes = graft.Tables.orders(s, d)
      .filter(col("o_orderkey") % 20 === 3)
      .select(col("o_orderkey"), lit("").as("o_orderstatus"),
        lit(0.0).as("o_totalprice"), lit(2L).as("__v"), lit("D").as("op"))
    val all = base.unionByName(delta).unionByName(deletes)
    all.withColumn("__h", xxhash64(struct(
      all.columns.filter(_ != "op").map(col) :+ col("op"): _*)))
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "__v", "__h",
        "op")
  }

  /** Batch twin — the gate entry: fold the whole feed under the one
    * comparator, then drop keys whose winner is a delete.
    */
  def st15(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    cdcFeed(s, d).as[CdcOp]
      .groupByKey(_.o_orderkey)
      .reduceGroups((a: CdcOp, b: CdcOp) => if (betterOp(b, a)) b else a)
      .map(_._2)
      .filter(_.op != "D")
      .toDF()
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .transform(Gate.ordered("o_orderkey"))
  }

  private def cdcState(key: Long, rows: Iterator[CdcOp],
      state: GroupState[CdcOp]): Iterator[CdcChange] = {
    var best = state.getOption.orNull
    var changed = false
    rows.foreach { r =>
      if (best == null || betterOp(r, best)) { best = r; changed = true }
    }
    if (!changed) Iterator.empty
    else {
      state.update(best) // a 'D' winner stays: the anti-resurrection rule
      Iterator.single(CdcChange(best.o_orderkey, best.op,
        best.o_orderstatus, best.o_totalprice, best.__v))
    }
  }

  /** The live materialization: emits the key's new latest row when an
    * upsert wins, ONE tombstone when a delete wins, nothing for losers
    * and replays.
    */
  def cdcDeleteStream(s: SparkSession, ops: Dataset[CdcOp])
      : Dataset[CdcChange] = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    ops.groupByKey(_.o_orderkey)
      .flatMapGroupsWithState[CdcOp, CdcChange](
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(cdcState)
  }

  /** c35's sessionization as a STREAM through Spark's native streaming
    * session windows — the API face whose batch twin (Cohort.c35,
    * gate-checked) shares the groupBy(user, session_window) verbatim.
    * The watermark bounds open-session state: a session closes (and
    * evicts) once the watermark passes its end + gap. StreamingSpec
    * proves stream == batch session-for-session.
    */
  def sessionWindowStream(stream: DataFrame): DataFrame =
    stream.withWatermark("ts", "2 hours")
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("last_us"))
      .select(col("user_id"), col("n_events"), col("start_us"),
        col("last_us"))

  // ---------------------------------------------------------------- st11
  // Rate-spike detection as a LIVE metric (error-burst alerting, the
  // ops face of c04's census): an hour's event count per type is a
  // SPIKE when it more than doubles the hourly average of the trailing
  // 24 observed hours (and at least SPIKE_MIN_N of them exist — no
  // alerts off a cold start). All-integer verdict arithmetic
  // (n·t_n·1000 > factorMilli·t_sum — no float mean, no float
  // compare, and the milli-scaled factor admits fractional
  // sensitivity like 1.5×), so batch and stream agree bit-for-bit.
  // Batch twin: one (type, hour) aggregate,
  // then a RANGE frame over the integer hour index per type — the
  // frame scans a TYPE-VOCABULARY-sized frame, never events.
  private[graft] val SPIKE_WIN = 24L
  private[graft] val SPIKE_MIN_N = 12L
  private[graft] val SPIKE_FACTOR_MILLI = 2000L
  private val HOUR_US = 3600L * 1000000

  // geometry from spark.graft.spike.* (defaults = the constants above,
  // which the recorded oracle mirrors — the dfCap convention)
  def st11(s: SparkSession, d: String): DataFrame = {
    val (win, minN, factorMilli) = (graft.GraftConf.spikeWindowHours(s),
      graft.GraftConf.spikeMinObs(s), graft.GraftConf.spikeFactorMilli(s))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("h"))
      .rangeBetween(-win, -1)
    events(s, d)
      .select(col("event_type"), expr(s"unix_micros(ts) div $HOUR_US").as("h"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("n"))
      .withColumn("t_sum", coalesce(sum(col("n")).over(w), lit(0L)))
      .withColumn("t_n", count(col("n")).over(w))
      .withColumn("spike",
        (col("t_n") >= minN &&
          col("n") * col("t_n") * lit(1000L) >
            lit(factorMilli) * col("t_sum")).cast("int"))
      .select(col("event_type"),
        date_format(timestamp_micros(col("h") * HOUR_US), TS_FMT)
          .as("hour_ts"),
        col("n"), col("t_sum"), col("t_n"), col("spike"))
      .transform(Gate.ordered("event_type", "hour_ts"))
  }

  /** Streaming state per event type: the trailing closed hours (ring of
    * ≤ SPIKE_WIN entries) plus the currently-open hour's running count,
    * plus a count of LATE events dropped (arrived for an hour already
    * closed in an earlier micro-batch — re-opening would force Append
    * mode to revise an emitted verdict, so they are counted, not
    * merged; the state store surfaces the totals for monitoring).
    */
  case class HourCount(h: Long, n: Long)
  case class SpikeState(closed: List[HourCount], cur: Long, curN: Long,
      lateN: Long)
  private[graft] val SpikeEmpty = SpikeState(Nil, Long.MinValue, 0L, 0L)
  case class SpikeVerdict(event_type: String, h: Long, n: Long,
      t_sum: Long, t_n: Long, spike: Int)

  /** The shared fold: events in ascending hour order bump the open
    * hour; an event in a LATER hour closes it — the closed hour's
    * verdict is final (its trailing window can only contain earlier
    * hours) and is emitted exactly once. The trailing stats count only
    * OBSERVED hours, exactly like the batch RANGE frame (rows exist
    * only for hours with events).
    */
  private[graft] def spikeAdvance(tp: String, st: SpikeState,
      hoursAsc: Seq[HourCount], win: Long = SPIKE_WIN,
      minN: Long = SPIKE_MIN_N, factorMilli: Long = SPIKE_FACTOR_MILLI)
      : (SpikeState, Seq[SpikeVerdict]) =
    hoursAsc.foldLeft((st, Seq.empty[SpikeVerdict])) {
      case ((s, out), HourCount(h, add)) =>
        if (s.cur == Long.MinValue) (s.copy(cur = h, curN = add), out)
        else if (h == s.cur) (s.copy(curN = s.curN + add), out)
        else if (h < s.cur)
          // late arrival from a later micro-batch (within a batch the
          // caller sorts ascending): its hour's verdict is already
          // emitted and Append mode cannot revise it — drop + count
          // instead of killing the whole streaming query
          (s.copy(lateN = s.lateN + add), out)
        else {
          val trail = s.closed.filter(c => c.h >= s.cur - win)
          val (tSum, tN) = (trail.map(_.n).sum, trail.length.toLong)
          val v = SpikeVerdict(tp, s.cur, s.curN, tSum, tN,
            if (tN >= minN && s.curN * tN * 1000L > factorMilli * tSum) 1
            else 0)
          val kept = (HourCount(s.cur, s.curN) :: s.closed)
            .filter(c => c.h >= h - win)
          (SpikeState(kept, h, add, s.lateN), out :+ v)
        }
    }

  case class TypedHour(event_type: String, h: Long)

  /** The live view: verdicts for every CLOSED (type, hour) — the open
    * tail hour per type is undecided until a later event closes it,
    * so the stream covers exactly st11 minus each type's last hour.
    * The spark.graft.spike.* geometry is read HERE (at stream
    * construction) and closed over, so a conf'd deployment's stream
    * uses the same rule as its batch twin — the fold's defaults alone
    * would silently pin the stream to the compiled constants.
    */
  def spikeStream(s: SparkSession, stream: Dataset[TypedHour])
      : Dataset[SpikeVerdict] = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val (win, minN, factorMilli) = (graft.GraftConf.spikeWindowHours(s),
      graft.GraftConf.spikeMinObs(s), graft.GraftConf.spikeFactorMilli(s))
    stream.groupByKey(_.event_type)
      .flatMapGroupsWithState[SpikeState, SpikeVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        spikeStateFn(win, minN, factorMilli))
  }

  /** The per-batch state transition as a closure over PLAIN geometry
    * values — built at object level so the task serializes nothing but
    * the three longs (a def nested in spikeStream would drag the
    * SparkSession into the closure).
    */
  private def spikeStateFn(win: Long, minN: Long, factorMilli: Long)
      : (String, Iterator[TypedHour], GroupState[SpikeState]) =>
        Iterator[SpikeVerdict] =
    (tp, batch, state) => {
      val hours = batch.toVector.groupBy(_.h).toSeq
        .map { case (h, g) => HourCount(h, g.size.toLong) }.sortBy(_.h)
      val (st, out) = spikeAdvance(tp,
        state.getOption.getOrElse(SpikeEmpty), hours, win, minN, factorMilli)
      state.update(st)
      out.iterator
    }

  // ---------------------------------------------------------------- st12
  // The CDC stream LANDED AS A TABLE CONTRACT: st06 materializes the
  // latest-wins state, src15 gives snapshot-isolated versioned reads —
  // st12 composes them. Every micro-batch commits the merged state as
  // the next snapshot version through ONE idempotency rule: version
  // v = batchId + 1 must be the next HEAD, so a crash-replayed batch
  // (same batchId) sees HEAD already past it and commits nothing —
  // exactly-once versions from the HEAD pointer alone, no side
  // markers. A crashed HALF-commit left HEAD untouched, and the
  // replay's names derive from the same version, overwriting the
  // orphans (src15's discipline). Readers pinned to any version see
  // immutable bytes while commits land.
  //
  // Scale note: the gate face re-merges the full state per batch —
  // honest for this corpus, and the right DEMO of the commit protocol;
  // a 100 TB deployment would bucket the state by key and rewrite only
  // touched buckets per commit (src11's partition discipline), with
  // the same manifest/HEAD machinery swapping bucket file sets.
  import graft.sources.Snapshots

  /** Idempotent micro-batch commit: merge the delta onto HEAD with
    * st06's comparator, commit as version batchId+1 (replace form).
    * Returns the version in effect after the call.
    */
  private[graft] def commitCdcBatch(s: SparkSession, root: String,
      batchId: Long, delta: DataFrame): Int = {
    import s.implicits._
    val head = Snapshots.headVersion(s, root)
    if (head >= batchId + 1) head // replay: already committed, absorb
    else {
      // the exactly-once rule is version == batchId + 1, which only
      // holds when HEAD == batchId at commit time. HEAD behind batchId
      // means the root was wiped while the checkpoint survived; ahead-
      // but-not-caught-above is unreachable here — either way a silent
      // commit would fork the version line, so fail loudly instead
      require(head == batchId,
        s"CDC commit expects HEAD == $batchId, found $head: snapshot " +
          "root and stream checkpoint have diverged (single-writer " +
          "invariant violated or root wiped with checkpoint kept)")
      val in =
        if (head == 0) delta
        else Snapshots.read(s, root).unionByName(delta)
      val merged = in.as[Upd]
        .groupByKey(_.o_orderkey)
        .reduceGroups((a: Upd, b: Upd) => if (better(b, a)) b else a)
        .map(_._2)
        .toDF()
      Snapshots.commitReplace(s, root, merged)
    }
  }

  /** Continuous CDC into the versioned table: checkpointed offsets +
    * the idempotent commit above — exactly-once VERSIONS end to end.
    */
  def cdcSnapshotSink(s: SparkSession, updates: Dataset[Upd], root: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: Dataset[Upd], batchId: Long) => {
        commitCdcBatch(batch.sparkSession, root, batchId, batch.toDF()); ()
      })
      .start()

  // ---------------------------------------------------------------- st17
  // The CDC sink AT SCALE: st12 proves the exactly-once version rule
  // but re-merges the FULL state per micro-batch (its own scale note —
  // honest for the gate corpus, a rewrite-per-batch at 100 TB). st17
  // is the same rule landed through Snapshots.mergeInto instead:
  // matched keys die by deletion-vector sidecar, the batch appends,
  // ONE manifest publish — per-batch cost is the delta's size plus a
  // key-column scan of the table, never a rewrite of state that
  // didn't change. In-batch duplicates reduce by the SAME `better`
  // rule first (mergeInto's one-row-per-key contract), in its Catalyst
  // form [[latestWins]] — `better` stays the reference, and a property
  // test pins the aggregate to the `better` fold per key. The batch is
  // read once: the reduced rows are written once and mergeInto takes
  // its matched keys back from that write; ACROSS
  // batches the feed must be per-key in-order (the compacted-topic
  // contract) — a late batch carrying an older version would win by
  // arrival. Out-of-order feeds belong on st12's comparator path.

  /** Idempotent merge-on-read micro-batch commit: exactly-once by the
    * version == batchId + 1 rule (HEAD past it → replay, absorbed).
    * Returns the version in effect after the call.
    */
  private[graft] def mergeCdcBatch(s: SparkSession, root: String,
      batchId: Long, delta: DataFrame): Int = {
    val head = Snapshots.headVersion(s, root)
    if (head >= batchId + 1) head // replay: already committed, absorb
    else {
      require(head == batchId,
        s"CDC merge expects HEAD == $batchId, found $head: snapshot " +
          "root and stream checkpoint have diverged (single-writer " +
          "invariant violated or root wiped with checkpoint kept)")
      val reduced = latestWins(delta)
      if (head == 0) Snapshots.commit(s, root, reduced)
      else Snapshots.mergeInto(s, root, reduced, Seq("o_orderkey"))
    }
  }

  /** Continuous merge-on-read CDC into the versioned table. */
  def mergeCdcSink(s: SparkSession, updates: Dataset[Upd], root: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: Dataset[Upd], batchId: Long) => {
        mergeCdcBatch(batch.sparkSession, root, batchId, batch.toDF()); ()
      })
      .start()

  /** Gate face: st12's three deterministic CDC batches landed through
    * mergeCdcBatch — the converged table must STILL be src08's answer
    * (same oracle by reference), now reached without ever rewriting
    * unchanged state. Build-once per sf dir; batch 0 is re-driven to
    * prove replay absorption.
    */
  def st17(s: SparkSession, d: String): DataFrame = {
    val root = s"${graft.Scratch.dir}/st17_cdc/${graft.Scratch.tag(d)}"
    val delta = graft.sources.RoundTrip.src08Delta(s, d)
    val batches = Seq(
      graft.sources.RoundTrip.src08Base(s, d),
      delta.filter(col("o_orderkey") % 20 === 0),
      delta.filter(col("o_orderkey") % 20 =!= 0))
    if (Snapshots.headVersion(s, root) != batches.length) {
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      batches.zipWithIndex.foreach { case (b, i) =>
        mergeCdcBatch(s, root, i.toLong, withUpdHash(b))
      }
      // a crash-replayed batch commits nothing (exactly-once rule)
      mergeCdcBatch(s, root, 0L, withUpdHash(batches.head))
    }
    Snapshots.read(s, root)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .transform(Gate.ordered("o_orderkey"))
  }

  /** Gate face: the src08 feed as three deterministic CDC batches
    * (base, then the delta split by key parity) committed through the
    * SAME commitCdcBatch, final HEAD read back through the manifest
    * machinery — hash-checked against src08's oracle. Build-once per
    * sf dir; a half-built root (killed run) rebuilds.
    */
  def st12(s: SparkSession, d: String): DataFrame = {
    val root = s"${graft.Scratch.dir}/st12_cdc/${graft.Scratch.tag(d)}"
    val delta = graft.sources.RoundTrip.src08Delta(s, d)
    val batches = Seq(
      graft.sources.RoundTrip.src08Base(s, d),
      delta.filter(col("o_orderkey") % 20 === 0),
      delta.filter(col("o_orderkey") % 20 =!= 0))
    if (Snapshots.headVersion(s, root) != batches.length) {
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      batches.zipWithIndex.foreach { case (b, i) =>
        commitCdcBatch(s, root, i.toLong, withUpdHash(b))
      }
    }
    Snapshots.read(s, root)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .transform(Gate.ordered("o_orderkey"))
  }

  // ---------------------------------------------------------------- st13
  // The change feed CONSUMED AS A STREAM: src19 hands a delta to a
  // batch consumer on demand; a continuous consumer wants the snapshot
  // table to BE a source — every append commit's files arriving as
  // exactly-once micro-batch input, offsets checkpointed, old commits
  // never rescanned. Spark's file stream source already implements the
  // hard parts (seen-file log, globbed discovery, AvailableNow
  // drains), so pointing it at the append root's immutable data dirs
  // makes the snapshot table a streaming table with ZERO custom source
  // code — the Spark-first move. Replace/compaction commits rewrite
  // file sets and are not tailable (src19's refusal, here by
  // contract): tail append-only roots.

  /** The snapshot root as a raw streaming source — a directory-glob
    * file stream over data/. HARD CONTRACT (why [[drainChangeFeed]] is
    * the committed-only path and this is not): the glob sees FILES, not
    * commits — a crashed attempt's never-published orphan dir, or an
    * in-flight writer's staged files written before its manifest
    * publish, match the glob and would be emitted downstream even
    * though they may never appear in (or later be vacuumed from) the
    * table. Tail a root this way ONLY when it is single-writer, its
    * writer never crashed mid-commit (or Snapshots.vacuumOrphans swept
    * before the tail started), and no replace/delete commits occur.
    * Consumers that need the stream to equal the committed table use
    * [[drainChangeFeed]], which resolves from manifests.
    */
  def changeFeedStream(s: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.readStream.schema(schema).parquet(s"$root/data/*")

  /** Drain everything committed-but-unshipped into `outDir`, resolved
    * from MANIFESTS — never a directory glob, so never-committed bytes
    * (orphan dirs of crashed attempts, an in-flight writer's staged
    * files) are invisible by construction: a file ships iff a manifest
    * references it. Exactly-once without a separate offset store: each
    * append version's delta lands under `outDir/delta_v<n>` via a
    * staged write + rename publish (the table's own exclusive-publish
    * discipline), so the output directory IS the ledger — a re-run
    * skips shipped versions, a crash between stage and publish leaves
    * only a swept .tmp dir. Replace/delete commits in the range are
    * refused loudly by changesBetween (their logical change is not a
    * file-add feed). Single drain consumer per outDir; the
    * nightly-consumer loop (p03's cadence) is just repeated calls.
    * `checkpointDir` is unused (kept for call-site compatibility —
    * offsets live in outDir).
    *
    * RETENTION interaction: [[Snapshots.vacuum]] truncates manifests
    * below its keepFrom, and a delta for v resolves from manifests
    * v-1 AND v — so a consumer must drain again BEFORE the retention
    * floor passes its last shipped version. The scan therefore anchors
    * on the ledger (last shipped + 1) instead of blindly starting at
    * v1, and a consumer that fell behind the floor — or a FRESH
    * consumer pointed at an already-vacuumed root — is refused with
    * the recovery path spelled out (bootstrap via a full read, then
    * mark the feed caught-up to head) rather than crashing opaquely in
    * the manifest probe. The dir ledger cannot distinguish a vacuumed
    * root whose history was re-appended from the original history;
    * pair a vacuum policy with a drain cadence shorter than retention.
    */
  def drainChangeFeed(s: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType, outDir: String,
      checkpointDir: String): Unit = {
    val out = new org.apache.hadoop.fs.Path(outDir)
    val f = out.getFileSystem(s.sparkContext.hadoopConfiguration)
    f.mkdirs(out)
    // debris of a previous crashed drain (single-consumer contract)
    f.listStatus(out).filter(_.getPath.getName.startsWith(".tmp_v"))
      .foreach(st => f.delete(st.getPath, true))
    val head = Snapshots.headVersion(s, root)
    val shipped = f.listStatus(out).map(_.getPath.getName)
      .filter(_.matches("delta_v\\d+")).map(_.stripPrefix("delta_v").toInt)
    val from = if (shipped.isEmpty) 1 else shipped.max + 1
    val floor = Snapshots.oldestVersion(s, root)
    require(from > floor || floor <= 1,
      s"change feed at $root is truncated below v$floor (vacuumed): " +
        s"this consumer needs delta v$from, whose parent manifest is " +
        "gone — bootstrap with a full Snapshots.read at HEAD, ship it " +
        "as the consumer's new base, and resume draining from there " +
        "(then drain more often than the retention policy vacuums)")
    (from to head).foreach { v =>
      val dst = new org.apache.hadoop.fs.Path(s"$outDir/delta_v$v")
      if (!f.exists(dst)) {
        val delta = Snapshots.changesBetween(s, root, v - 1, v)
        val tmp = new org.apache.hadoop.fs.Path(
          s"$outDir/.tmp_v${v}_${java.util.UUID.randomUUID.toString.take(8)}")
        if (delta.isEmpty) f.mkdirs(tmp) // data-free commit: marker dir
        else delta.write.mode("overwrite").parquet(tmp.toString)
        require(f.rename(tmp, dst) || f.exists(dst),
          s"change-feed publish $tmp -> $dst failed")
      }
    }
  }

  /** Read everything [[drainChangeFeed]] has shipped to `outDir`. */
  def readDrained(s: SparkSession, outDir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.read.schema(schema)
      .option("basePath", outDir)
      .parquet(s"$outDir/delta_v*")

  /** Gate face: three deterministic ten-day append commits (src19's
    * slices), drained through the streaming tail into a parquet sink,
    * the result rolled up per day — the full raw table must come out
    * the other end (src05's oracle). Fresh checkpoint per run so the
    * gate drains the whole feed; StreamingSpec holds the checkpoint
    * across commits to prove the second drain ships ONLY the new
    * commit.
    */
  def st13(s: SparkSession, d: String): DataFrame = {
    val tag = graft.Scratch.tag(d)
    val root = s"${graft.Scratch.dir}/st13_feed/$tag"
    val ev = graft.Tables.events(s, d)
    if (Snapshots.headVersion(s, root) != 3) {
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val Seq(c1, c2) = Seq("2024-01-11", "2024-01-21")
        .map(lit(_).cast("timestamp"))
      Snapshots.commit(s, root, ev.filter(col("ts") < c1))
      Snapshots.commit(s, root, ev.filter(col("ts") >= c1 && col("ts") < c2))
      Snapshots.commit(s, root, ev.filter(col("ts") >= c2))
    }
    val out = s"${graft.Scratch.dir}/st13_out/$tag"
    val cp = s"${graft.Scratch.dir}/st13_cp/$tag"
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    fs.delete(new org.apache.hadoop.fs.Path(cp), true)
    drainChangeFeed(s, root, ev.schema, out, cp)
    readDrained(s, out, ev.schema)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .transform(Gate.ordered("day"))
  }

  // ---------------------------------------------------------------- st14
  // Streaming era building: c44's gap-merge (per (patient, concept),
  // day-level activity within C44_GAP_DAYS merges into one era) as a
  // live fold — the feed face of the era table a clinical deployment
  // maintains continuously. One fold function [[eraAdvance]] is shared
  // by the batch twin (st02's secondary-sort shape: one shuffle on the
  // era key, spillable partition sort, constant-memory walk) and the
  // stream (flatMapGroupsWithState, state = ONE OpenEra per active
  // (patient, concept) — never a day buffer); the batch twin is the
  // gate entry and carries c44's oracle VERBATIM, so the stream's
  // semantics chain to the same SQL. Ordered-ingestion assumption as
  // st02: days arrive non-decreasing per key across batches (same-day
  // facts may split across batches and accumulate); a day older than
  // the open era's end folds its facts in without reopening history.
  case class DayFact(user_id: Long, event_type: String, epoch_day: Int,
      n_facts: Long)
  case class OpenEra(eraSeq: Long, startDay: Int, endDay: Int,
      nDays: Long, nFacts: Long)
  case class Era(user_id: Long, event_type: String, era_seq: Long,
      n_active_days: Long, n_facts: Long, era_start: String,
      era_end: String, span_days: Int)

  private def fmtDay(epochDay: Int): String =
    java.time.LocalDate.ofEpochDay(epochDay.toLong).toString

  private def closeEra(u: Long, t: String, o: OpenEra): Era =
    Era(u, t, o.eraSeq, o.nDays, o.nFacts, fmtDay(o.startDay),
      fmtDay(o.endDay), o.endDay - o.startDay + 1)

  /** The one era-merge rule (== c44Core's lag/gap window): extend within
    * the persistence gap, close-and-open past it, accumulate same-day
    * (or late) facts without double-counting active days.
    */
  def eraAdvance(user: Long, etype: String, prior: Option[OpenEra],
      sorted: Seq[DayFact]): (Vector[Era], Option[OpenEra]) =
    sorted.foldLeft((Vector.empty[Era], prior)) {
      case ((closed, None), f) =>
        (closed, Some(OpenEra(1L, f.epoch_day, f.epoch_day, 1L, f.n_facts)))
      case ((closed, Some(o)), f) =>
        if (f.epoch_day <= o.endDay)
          (closed, Some(o.copy(nFacts = o.nFacts + f.n_facts)))
        else if (f.epoch_day - o.endDay <= graft.operators.Cohort.C44_GAP_DAYS)
          (closed, Some(o.copy(endDay = f.epoch_day, nDays = o.nDays + 1,
            nFacts = o.nFacts + f.n_facts)))
        else
          (closed :+ closeEra(user, etype, o),
            Some(OpenEra(o.eraSeq + 1, f.epoch_day, f.epoch_day, 1L,
              f.n_facts)))
    }

  /** The day-level rollup both faces consume (c44Core's first
    * aggregate): map-side partials collapse facts to (key, day) rows
    * BEFORE the era key's exchange.
    */
  private def dayFacts(s: SparkSession, d: String): Dataset[DayFact] = {
    import s.implicits._
    events(s, d)
      .groupBy(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_facts"))
      .select(col("user_id"), col("event_type"),
        datediff(col("day"), lit("1970-01-01").cast("date")).as("epoch_day"),
        col("n_facts"))
      .as[DayFact]
  }

  /** Batch twin — the gate entry (c44's oracle verbatim). */
  def st14(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    dayFacts(s, d)
      .repartition(col("user_id"), col("event_type"))
      .sortWithinPartitions(col("user_id"), col("event_type"), col("epoch_day"))
      .as[DayFact]
      .mapPartitions { it =>
        var curKey: (Long, String) = (Long.MinValue, "")
        var open: Option[OpenEra] = None
        val closedRuns = it.flatMap { f =>
          val key = (f.user_id, f.event_type)
          val boundary = if (open.isDefined && key != curKey) {
            val c = closeEra(curKey._1, curKey._2, open.get)
            open = None; Seq(c)
          } else Nil
          curKey = key
          val (closed, stillOpen) = eraAdvance(f.user_id, f.event_type,
            open, Seq(f))
          open = stillOpen
          boundary ++ closed
        }
        closedRuns ++ new Iterator[Era] {
          def hasNext: Boolean = open.isDefined
          def next(): Era = {
            val c = closeEra(curKey._1, curKey._2, open.get)
            open = None; c
          }
        }
      }
      .toDF()
      .transform(Gate.ordered("user_id", "event_type", "era_seq"))
  }

  /** Streaming path: one OpenEra of state per active (patient,
    * concept); eras emit the moment a later day proves them closed.
    */
  def eraState(key: (Long, String), batch: Iterator[DayFact],
      state: GroupState[OpenEra]): Iterator[Era] = {
    val sorted = batch.toVector.sortBy(_.epoch_day)
    val (closed, open) = eraAdvance(key._1, key._2, state.getOption, sorted)
    open match {
      case Some(o) => state.update(o)
      case None => state.remove()
    }
    closed.iterator
  }

  def eraStream(s: SparkSession, stream: Dataset[DayFact]): Dataset[Era] = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    stream.groupByKey(f => (f.user_id, f.event_type))
      .flatMapGroupsWithState[OpenEra, Era](
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(eraState)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st16_stream_index_maintenance" -> (IndexMaintenance.st16 _),
    "st18_stream_drift" -> (DriftMonitor.st18 _),
    "st15_stream_cdc_deletes" -> (st15 _),
    "st14_stream_eras" -> (st14 _),
    "st13_stream_change_feed" -> (st13 _),
    "st11_stream_spike" -> (st11 _),
    "st12_stream_snapshot_cdc" -> (st12 _),
    "st17_stream_merge_cdc" -> (st17 _),
    "st01_stream_window" -> (st01 _),
    "st02_stream_dedup_sessions" -> (st02 _),
    "st03_stream_attribution_join" -> (st03 _),
    "st04_stream_daily_report" -> (st04 _),
    "st05_stream_document_ingest" -> (st05 _),
    "st06_stream_upsert" -> (st06 _),
    "st07_stream_attribution_outer" -> (st07 _),
    "st08_stream_sliding_census" -> (st08 _),
    "st09_stream_funnel" -> (st09 _),
    "st10_stream_readmission" -> (st10 _)
  )

  val oracle: Map[String, String] = Map(
    // the streamed complete-mode counts must yield t23's answer
    // row-for-row — same binning, same scoring, t23's oracle verbatim
    "st18_stream_drift" ->
      graft.operators.TextAnalysis.oracle("t23_psi_drift"),
    // the batch twin must equal c44's era table row-for-row — the
    // stream chains to the same SQL through the shared fold
    "st14_stream_eras" ->
      graft.operators.Cohort.oracle("c44_condition_eras"),
    // src08's upsert answer minus the deleted keys — the whole
    // three-generation feed re-derived declaratively
    "st15_stream_cdc_deletes" ->
      """SELECT o_orderkey,
        | CASE WHEN o_orderkey % 10 = 0 THEN 'U' ELSE o_orderstatus END
        |   AS o_orderstatus,
        | CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0
        |   ELSE o_totalprice END AS o_totalprice
        |FROM orders WHERE NOT (o_orderkey % 20 = 3)
        |ORDER BY o_orderkey""".stripMargin,
    // the whole raw table must come out the other end of the tail —
    // src05's day rollup, verbatim by reference
    "st13_stream_change_feed" ->
      graft.sources.RoundTrip.oracle("src05_compaction"),
    // all-integer spike rule (n·t_n·1000 > milli·t_sum) over the same
    // RANGE frame; empty-frame SUM is NULL in both engines → COALESCE 0
    "st11_stream_spike" ->
      s"""SELECT event_type,
         | strftime(make_timestamp(h * $HOUR_US), '%Y-%m-%d %H:%M:%S.%f') AS hour_ts,
         | n, t_sum, t_n,
         | CASE WHEN t_n >= $SPIKE_MIN_N
         |  AND n * t_n * 1000 > $SPIKE_FACTOR_MILLI * t_sum
         |  THEN 1 ELSE 0 END AS spike
         |FROM (
         | SELECT event_type, h, n,
         |  COALESCE(CAST(SUM(n) OVER w AS BIGINT), 0) AS t_sum,
         |  CAST(COUNT(n) OVER w AS BIGINT) AS t_n
         | FROM (SELECT event_type, epoch_us(ts) // $HOUR_US AS h,
         |   COUNT(*) AS n FROM events GROUP BY 1, 2)
         | WINDOW w AS (PARTITION BY event_type ORDER BY h
         |  RANGE BETWEEN $SPIKE_WIN PRECEDING AND 1 PRECEDING))
         |ORDER BY event_type, hour_ts""".stripMargin,
    // the converged CDC table IS src08's — oracle by reference, the
    // snapshot machinery must not change a single row
    "st12_stream_snapshot_cdc" ->
      graft.sources.RoundTrip.oracle("src08_upsert_latest"),
    // the merge-on-read sink converges to the SAME src08 answer —
    // oracle by reference; only the landing cost changed, never a row
    "st17_stream_merge_cdc" ->
      graft.sources.RoundTrip.oracle("src08_upsert_latest"),
    // the funnel fold IS c10's window formulation (see st09 doc) — the
    // oracle is c10's, verbatim by reference, so they cannot fork
    "st09_stream_funnel" -> graft.operators.Cohort.oracle("c10_funnel"),
    // c37's shared verdict CTEs (spliced by reference — cannot fork)
    // restricted to DECIDED discharges: the live view
    "st10_stream_readmission" ->
      s"""WITH ${graft.operators.Cohort.VERDICTS_SQL}
         |SELECT strftime(make_timestamp(last_us), '%Y-%m-%d')
         |  AS discharge_day,
         | COUNT(*) AS n_closed,
         | CAST(SUM(readmit) AS BIGINT) AS n_readmit_24h
         |FROM r WHERE next_start_us IS NOT NULL
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // each event expands to its 4 containing slide-aligned windows
    // (k = 0..3 strictly: window/slide = 4, and ts - start_k < (k+1) *
    // slide <= window holds for every k <= 3, so membership is exact —
    // Spark's window() expansion produces the identical set)
    "st08_stream_sliding_census" ->
      """WITH m AS (SELECT user_id,
        |  (epoch_us(ts) // 1800000000 - k) * 1800000000 AS start_us
        | FROM events, LATERAL (SELECT unnest(range(0, 4)) AS k) r)
        |SELECT strftime(make_timestamp(start_us),
        |  '%Y-%m-%d %H:%M:%S.%f') AS window_start,
        | strftime(make_timestamp(start_us + 7200000000),
        |  '%Y-%m-%d %H:%M:%S.%f') AS window_end,
        | COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
        |FROM m GROUP BY start_us ORDER BY start_us""".stripMargin,
    "st01_stream_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S.%f')
        |  AS window_start,
        | COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // st02's typed path must reproduce c09's windowed-SQL semantics
    // exactly, so it shares c09's oracle.
    "st02_stream_dedup_sessions" ->
      graft.operators.Cohort.oracle("c09_sessionize"),
    "st03_stream_attribution_join" ->
      """SELECT c.user_id AS user_id, c.event_id AS click_id,
        | v.event_id AS view_id,
        | strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
        | (epoch_us(c.ts) - epoch_us(v.ts)) / 1000000.0 AS gap_sec
        |FROM events c JOIN events v
        |  ON c.user_id = v.user_id
        | AND v.ts BETWEEN c.ts - INTERVAL 6 HOUR AND c.ts
        |WHERE c.event_type = 'click' AND v.event_type = 'view'
        |ORDER BY click_id, view_id""".stripMargin,
    // c18's section explode with a day dimension: tumbling 1-day
    // windows align to UTC date_trunc
    "st04_stream_daily_report" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S.%f')
        |  AS day_start,
        | section, sec_key, COUNT(*) AS n_events,
        | COUNT(DISTINCT user_id) AS n_users
        |FROM (
        | SELECT user_id, ts, 'hour' AS section, strftime(ts, '%H') AS sec_key
        |  FROM events
        | UNION ALL SELECT user_id, ts, 'weekday', dayname(ts) FROM events
        | UNION ALL SELECT user_id, ts, 'month', strftime(ts, '%Y-%m') FROM events
        | UNION ALL SELECT user_id, ts, 'concept', event_type FROM events)
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // the per-day ingest report computed FROM the document corpus must
    // equal the same report over the events the corpus encodes
    "st05_stream_document_ingest" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n_events,
        | COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // the typed comparator must reproduce src08's windowed upsert
    // exactly, so it shares src08's oracle
    "st06_stream_upsert" ->
      graft.sources.RoundTrip.oracle("src08_upsert_latest"),
    // st03's oracle mirrored to the preserved-view direction: LEFT JOIN
    // keeps the unconverted views as NULL click rows
    "st07_stream_attribution_outer" ->
      """SELECT v.user_id AS user_id, v.event_id AS view_id,
        | strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
        | c.event_id AS click_id,
        | (epoch_us(c.ts) - epoch_us(v.ts)) / 1000000.0 AS gap_sec
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        | LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = v.user_id
        |  AND c.ts BETWEEN v.ts AND v.ts + INTERVAL 6 HOUR
        |ORDER BY view_id, click_id""".stripMargin
  )
}
