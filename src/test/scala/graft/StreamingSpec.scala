package graft

import graft.streaming.{DriftMonitor, EventStreams}
import graft.streaming.EventStreams.{Ev, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.streaming.OutputMode

/** Streaming specs: each job's stream output must equal its batch twin,
  * which in turn is gate-checked against the DuckDB oracle — so the
  * stream semantics chain back to SQL ground truth.
  */
case class TsEv(ts: java.sql.Timestamp, user_id: Long)
case class AttrEv(ts: java.sql.Timestamp, user_id: Long, event_id: Long,
    event_type: String)

class StreamingSpec extends SparkSpec {

  test("st01 streaming windowed counts equal the batch twin") {
    import spark.implicits._
    val batchDf = Tables.events(spark, sfDir).select("ts", "user_id")
    val rows = batchDf.as[TsEv].collect().toSeq

    val input = MemoryStream[TsEv](spark)
    val q = EventStreams.hourlyCountsStream(input.toDF())
      .writeStream.format("memory").queryName("st01_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(rows)
      q.processAllAvailable()
      val streamed = spark.table("st01_out")
        .orderBy("window_start").collect().toSeq
      val batch = EventStreams.hourlyCounts(batchDf)
        .orderBy("window_start").collect().toSeq
      assert(streamed.nonEmpty)
      assert(streamed == batch,
        s"missing=${(batch.toSet -- streamed.toSet).take(3)} " +
          s"extra=${(streamed.toSet -- batch.toSet).take(3)}")
    } finally q.stop()
  }

  test("st08 sliding-window census stream equals the batch twin") {
    import spark.implicits._
    val batchDf = Tables.events(spark, sfDir).select("ts", "user_id")
    val rows = batchDf.as[TsEv].collect().toSeq

    val input = MemoryStream[TsEv](spark)
    val q = EventStreams.slidingCountsStream(input.toDF())
      .writeStream.format("memory").queryName("st08_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(rows)
      q.processAllAvailable()
      val streamed = spark.table("st08_out")
        .orderBy("window_start").collect().toSeq
      val batch = EventStreams.slidingCounts(batchDf)
        .orderBy("window_start").collect().toSeq
      assert(streamed.nonEmpty)
      // the overlap factor is exact: every event sits in window/slide
      // = 4 sliding windows, no more, no fewer
      assert(streamed.map(_.getLong(2)).sum == rows.size * 4L)
      assert(streamed == batch,
        s"missing=${(batch.toSet -- streamed.toSet).take(3)} " +
          s"extra=${(streamed.toSet -- batch.toSet).take(3)}")
    } finally q.stop()
  }

  test("st02 streaming sessionization equals c09 across micro-batches") {
    import spark.implicits._
    val evs = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .as[Ev].collect().toSeq
    // split into two micro-batches on event time (cross-batch open
    // sessions must survive in state), then a sentinel batch far in the
    // future that closes every user's tail session
    val cut = evs.map(_.ts_us).sorted.apply(evs.size / 2)
    val (b1, b2) = evs.partition(_.ts_us < cut)
    val sentinelTs = evs.map(_.ts_us).max + 365L * 24 * 3600 * 1000000
    val sentinels = evs.map(_.user_id).distinct
      .map(u => Ev(u, Long.MaxValue, sentinelTs))

    val input = MemoryStream[Ev](spark)
    val q = EventStreams.sessionizeStream(spark, input.toDS())
      .writeStream.format("memory").queryName("st02_out")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(sentinels); q.processAllAvailable()
      val streamed = spark.table("st02_out").as[Session].collect()
        .map(s => (s.user_id, s.session_id, s.n_events, s.session_start, s.dur_sec))
        .toSet
      val batch = graft.operators.Cohort.c09(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
          r.getDouble(4))).toSet
      assert(streamed == batch,
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    } finally q.stop()
  }

  test("st01 file-source stream (incremental feed files) equals batch twin") {
    import spark.implicits._
    // the reference's feed shape: import files arriving in a directory;
    // stream them with the FILE source under an explicit schema
    val dir = s"${graft.Scratch.dir}/st01_feed"
    val batchDf = Tables.events(spark, sfDir).select("ts", "user_id")
    val rows = batchDf.as[TsEv].collect().toSeq
    val (h1, h2) = rows.splitAt(rows.size / 2)
    spark.createDataset(h1).write.mode("overwrite").parquet(dir)
    spark.createDataset(h2).write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(batchDf.schema).parquet(dir)
    val q = EventStreams.hourlyCountsStream(stream)
      .writeStream.format("memory").queryName("st01_file_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("st01_file_out")
        .orderBy("window_start").collect().toSeq
      val batch = EventStreams.hourlyCounts(batchDf)
        .orderBy("window_start").collect().toSeq
      assert(streamed == batch)
    } finally q.stop()
  }

  test("watermark drops events later than the 2-hour bound") {
    import spark.implicits._
    def ev(hour: Int, u: Long) =
      TsEv(java.sql.Timestamp.valueOf(f"2024-06-01 $hour%02d:30:00"), u)
    val input = MemoryStream[TsEv](spark)
    // Append mode: a window only emits once its end passes the watermark,
    // and events older than the watermark are dropped on arrival
    val q = EventStreams.hourlyCountsStream(input.toDF())
      .writeStream.format("memory").queryName("wm_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Seq(ev(0, 1), ev(0, 2)))   // window 00:00
      q.processAllAvailable()
      input.addData(Seq(ev(6, 3)))             // watermark -> 04:30
      q.processAllAvailable()
      input.addData(Seq(ev(0, 4)))             // LATE: before watermark
      q.processAllAvailable()
      input.addData(Seq(ev(12, 5)))            // flush window 06:00
      q.processAllAvailable()
      val counts = spark.table("wm_out").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts("2024-06-01 00:00:00.000000") == 2,
        s"late event must be dropped, got $counts")
      assert(counts("2024-06-01 06:00:00.000000") == 1)
    } finally q.stop()
  }

  test("exactly-once sink survives kill + checkpoint restart and batch replay") {
    import spark.implicits._
    import org.apache.commons.io.FileUtils
    val base = s"${graft.Scratch.dir}/st03"
    val (feed, out, ckpt) = (s"$base/feed", s"$base/out", s"$base/ckpt")
    FileUtils.deleteQuietly(new java.io.File(base))

    val evs = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .as[Ev].collect().toSeq
    val cut = evs.map(_.ts_us).sorted.apply(evs.size / 2)
    val (b1, b2) = evs.partition(_.ts_us < cut)
    val sentinelTs = evs.map(_.ts_us).max + 365L * 24 * 3600 * 1000000
    val sentinels = evs.map(_.user_id).distinct
      .map(u => Ev(u, Long.MaxValue, sentinelTs))

    def mkQuery() = EventStreams.sessionSink(spark,
      spark.readStream.schema(spark.createDataset(b1).schema).parquet(feed)
        .as[Ev], out, ckpt)

    // incremental feed: first file arrives, query processes it, then the
    // query is KILLED; more files land while it is down; a new query
    // instance resumes from the checkpoint
    spark.createDataset(b1).write.mode("overwrite").parquet(feed)
    val q1 = mkQuery()
    try q1.processAllAvailable() finally q1.stop()
    spark.createDataset(b2).write.mode("append").parquet(feed)
    spark.createDataset(sentinels).write.mode("append").parquet(feed)
    val q2 = mkQuery()
    try q2.processAllAvailable() finally q2.stop()

    def sunk(): Seq[(Long, Long, Long, String, Double)] =
      spark.read.parquet(out)
        .select("user_id", "session_id", "n_events", "session_start", "dur_sec")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getDouble(4))).toSeq.sorted
    val expected = graft.operators.Cohort.c09(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4))).toSeq.sorted
    assert(sunk() == expected, "kill + restart must lose and duplicate nothing")

    // crash-window replay: re-running a committed batch id must rewrite
    // its partition, not append — the sink is idempotent per batch
    // partition discovery infers batch_id=N dirs as int — normalize
    val lastBatch = spark.read.parquet(out)
      .agg(org.apache.spark.sql.functions.max(col("batch_id").cast("long")))
      .collect()(0).getLong(0)
    val replay = spark.read.parquet(s"$out/batch_id=$lastBatch").as[Session]
    EventStreams.writeSessionBatch(replay, lastBatch, out)
    assert(sunk() == expected, "replaying a batch must be a no-op")
  }

  test("st03 stream-stream attribution join equals the batch twin") {
    import spark.implicits._
    val rows = Tables.events(spark, sfDir)
      .select("ts", "user_id", "event_id", "event_type")
      .where(col("event_type").isin("view", "click"))
      .as[AttrEv].collect().toSeq.sortBy(_.ts.getTime)

    val input = MemoryStream[AttrEv](spark)
    val df = input.toDF()
    // stream-stream SELF-join: both sides branch off one source
    val q = EventStreams.attributionStream(
      df.where(col("event_type") === "view"),
      df.where(col("event_type") === "click"))
      .writeStream.format("memory").queryName("st03_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // time-ordered micro-batches: cross-batch pairs (a view in batch 1
      // attributed to a click in batch 3) must come out of buffered state
      rows.grouped(math.max(1, rows.size / 3)).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
      val streamed = spark.table("st03_out").collect()
        .map(_.toSeq).toSet
      val batchDf = spark.createDataset(rows).toDF()
      val batch = EventStreams.attributionJoin(
        batchDf.where(col("event_type") === "view"),
        batchDf.where(col("event_type") === "click")).collect()
        .map(_.toSeq).toSet
      assert(streamed.nonEmpty)
      assert(streamed == batch,
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    } finally q.stop()
  }

  test("st07 left-outer attribution equals batch; null rows flush on watermark") {
    import spark.implicits._
    val rows = Tables.events(spark, sfDir)
      .select("ts", "user_id", "event_id", "event_type")
      .where(col("event_type").isin("view", "click"))
      .as[AttrEv].collect().toSeq.sortBy(_.ts.getTime)
    // far-future events on unused users: the global watermark is the MIN
    // over both inputs, so BOTH sides must advance for the tail views'
    // windows to close — a click alone leaves the view-side watermark at
    // the last real view and the final ~13h of null rows stuck in state.
    // Distinct users (-1 vs -2) keep the sentinels from joining anything;
    // sentinel output (at most the -2 view's own null row) is filtered
    // out before the comparison.
    val farFuture = rows.last.ts.getTime + 30L * 86400000
    val sentinel = Seq(
      AttrEv(new java.sql.Timestamp(farFuture), -1L, -1L, "click"),
      AttrEv(new java.sql.Timestamp(farFuture), -2L, -2L, "view"))

    val input = MemoryStream[AttrEv](spark)
    val df = input.toDF()
    val q = EventStreams.attributionOuterStream(
      df.where(col("event_type") === "view"),
      df.where(col("event_type") === "click"))
      .writeStream.format("memory").queryName("st07_out")
      .outputMode(OutputMode.Append()).start()
    try {
      rows.grouped(math.max(1, rows.size / 3)).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
      val beforeFlush = spark.table("st07_out")
        .where(col("click_id").isNull).count()
      // outer rows may not emit before the watermark proves them final
      input.addData(sentinel); q.processAllAvailable()
      input.addData(sentinel); q.processAllAvailable()
      val streamed = spark.table("st07_out")
        .where(col("user_id") >= 0).collect().map(_.toSeq).toSet
      val batchDf = spark.createDataset(rows).toDF()
      val batch = EventStreams.attributionOuter(
        batchDf.where(col("event_type") === "view"),
        batchDf.where(col("event_type") === "click")).collect()
        .map(_.toSeq).toSet
      assert(batch.exists(_(3) == null), "corpus must contain unconverted views")
      assert(streamed == batch,
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
      assert(streamed.count(_(3) == null) > beforeFlush,
        "the watermark advance is what licenses the null emissions")
    } finally q.stop()
  }

  test("st03 batch twin plans a sort-merge join, not a nested loop") {
    val plan = EventStreams.st03(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"),
      "equi-key + range residual must not degrade to a nested-loop join")
    // any equi-join is fine: broadcast-hash at tiny SF, sort-merge or
    // shuffled-hash once both sides outgrow the broadcast threshold
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"))
  }

  test("continuous daily report equals its batch twin across micro-batches") {
    import spark.implicits._
    val batchDf = Tables.events(spark, sfDir)
      .select("ts", "user_id", "event_id", "event_type")
    val rows = batchDf.as[AttrEv].collect().toSeq.sortBy(_.ts.getTime)

    val input = MemoryStream[AttrEv](spark)
    val q = EventStreams.dailyReportStream(input.toDF())
      .writeStream.format("memory").queryName("report_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      rows.grouped(math.max(1, rows.size / 3)).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
      val streamed = spark.table("report_out").collect().map(_.toSeq).toSet
      val batch = EventStreams.dailyReport(batchDf).collect().map(_.toSeq).toSet
      assert(streamed.nonEmpty)
      assert(streamed == batch,
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    } finally q.stop()
  }

  test("st04 exact twin agrees with the continuous report on keys and counts") {
    val exact = EventStreams.st04(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3))
      .toMap
    val sketched = EventStreams.dailyReport(
      Tables.events(spark, sfDir)
        .select("ts", "user_id", "event_id", "event_type")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3))
      .toMap
    // identical groups and exact event counts; only the user-distinct
    // column trades exact for sketch
    assert(exact == sketched)
  }

  test("streaming dedup keeps d01's survivors across micro-batches") {
    import spark.implicits._
    // documents arriving in doc_id order over three micro-batches, PLUS
    // planted re-imports (same text, new id, later batch) — the corpus
    // itself has no exact duplicates at this SF, so cross-batch
    // suppression must be proven on planted ones
    val originals = Tables.documents(spark, sfDir)
      .select("doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val maxId = originals.map(_._1).max
    val replays = originals.take(40)
      .map { case (id, t) => (maxId + 1 + id, t) }
    // arr_ts by ordinal position, not raw id: the arrival span must stay
    // inside the 1-hour suppression horizon regardless of id density
    val docs = (originals ++ replays).sortBy(_._1).zipWithIndex
      .map { case ((id, t), i) =>
        (id, t, new java.sql.Timestamp(1700000000000L + i * 1000L)) }
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
    val named = input.toDF().toDF("doc_id", "text", "arr_ts")
    val q = EventStreams.dedupStream(named)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      val third = (docs.length + 2) / 3
      docs.grouped(third).foreach { g =>
        input.addData(g.toSeq); q.processAllAvailable()
      }
      val kept = spark.table("dedup_out")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // batch twin of the decision: keep min doc_id per distinct text
      val batchKeep = (originals ++ replays).groupBy(_._2)
        .map { case (_, g) => g.map(_._1).min }.toSet
      assert(kept == batchKeep,
        s"missing=${(batchKeep -- kept).take(5)} extra=${(kept -- batchKeep).take(5)}")
      assert(replays.forall { case (id, _) => !kept.contains(id) },
        "every planted re-import arrives in a later batch and must be dropped")
    } finally q.stop()
  }

  test("st02 batch twin equals c09 row-for-row") {
    val twin = EventStreams.st02(spark, sfDir).collect().toSeq
    val c09 = graft.operators.Cohort.c09(spark, sfDir).collect().toSeq
    assert(twin.map(_.toSeq) == c09.map(_.toSeq))
  }

  test("st06 streaming upsert converges to src08 and ignores replays") {
    import spark.implicits._
    def updRows(df: org.apache.spark.sql.DataFrame): Seq[EventStreams.Upd] =
      EventStreams.withUpdHash(df).as[EventStreams.Upd].collect().toSeq
    val base = updRows(graft.sources.RoundTrip.src08Base(spark, sfDir))
    val delta = updRows(graft.sources.RoundTrip.src08Delta(spark, sfDir))

    val input = MemoryStream[EventStreams.Upd](spark)
    val q = EventStreams.upsertStream(spark, input.toDS())
      .writeStream.format("memory").queryName("st06_out")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(base); q.processAllAvailable()
      input.addData(delta); q.processAllAvailable()
      val afterFeed = spark.table("st06_out").collect().length
      // a full replay of both generations must not emit a single row:
      // every update loses (or ties, by the same stable hash) against
      // the state it already wrote
      input.addData(base ++ delta); q.processAllAvailable()
      assert(spark.table("st06_out").collect().length == afterFeed,
        "replayed updates must be absorbed by state, not re-emitted")
      // materialized view = per-key latest emission (emissions are
      // strictly improving, so max __v per key is the converged state)
      val latest = spark.table("st06_out")
        .as[EventStreams.Latest].collect()
        .groupBy(_.o_orderkey)
        .map { case (_, rows) => rows.maxBy(_.__v) }
        .map(l => (l.o_orderkey, l.o_orderstatus, l.o_totalprice)).toSet
      val batch = graft.sources.RoundTrip.src08(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(latest == batch,
        s"missing=${(batch -- latest).take(3)} extra=${(latest -- batch).take(3)}")
    } finally q.stop()
  }

  test("st15 CDC deletes: one tombstone, no resurrection on replay") {
    import spark.implicits._
    import graft.streaming.EventStreams.{CdcOp, CdcChange}
    val feed = EventStreams.cdcFeed(spark, sfDir).as[CdcOp].collect().toSeq
    val byV = feed.groupBy(_.__v)
    val input = MemoryStream[CdcOp](spark)
    val q = EventStreams.cdcDeleteStream(spark, input.toDS())
      .writeStream.format("memory").queryName("st15_out")
      .outputMode(OutputMode.Update()).start()
    try {
      Seq(0L, 1L, 2L).foreach { v =>
        input.addData(byV(v)); q.processAllAvailable()
      }
      // a late full replay of the pre-delete history: nothing emits,
      // and no deleted key is resurrected — the tombstone's version
      // wins against every replayed upsert (the CDC resurrection bug)
      val afterFeed = spark.table("st15_out").count()
      input.addData(byV(0L) ++ byV(1L)); q.processAllAvailable()
      assert(spark.table("st15_out").count() == afterFeed,
        "replayed history must be absorbed by tombstone/upsert state")
      val changes = spark.table("st15_out").as[CdcChange].collect()
      // every deleted key emitted exactly ONE tombstone
      val tombs = changes.filter(_.op == "D")
      assert(tombs.nonEmpty)
      assert(tombs.groupBy(_.o_orderkey).forall(_._2.length == 1))
      // materialized view (final emission per key, deletes applied)
      // == the gate-checked batch twin
      val mat = changes.groupBy(_.o_orderkey).view
        .mapValues(_.maxBy(_.__v)).toMap
        .collect { case (k, c) if c.op != "D" =>
          (k, c.o_orderstatus, c.o_totalprice) }.toSet
      val batch = EventStreams.st15(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(mat == batch,
        s"missing=${(batch -- mat).take(3)} extra=${(mat -- batch).take(3)}")
    } finally q.stop()
  }

  test("st06 CDC sink survives kill + restart + full-history replay") {
    import spark.implicits._
    import org.apache.commons.io.FileUtils
    val baseDir = s"${graft.Scratch.dir}/st06_chaos"
    val (feed, out, ckpt) = (s"$baseDir/feed", s"$baseDir/out", s"$baseDir/ckpt")
    FileUtils.deleteQuietly(new java.io.File(baseDir))
    def updRows(df: org.apache.spark.sql.DataFrame): Seq[EventStreams.Upd] =
      EventStreams.withUpdHash(df).as[EventStreams.Upd].collect().toSeq
    val base = updRows(graft.sources.RoundTrip.src08Base(spark, sfDir))
    val delta = updRows(graft.sources.RoundTrip.src08Delta(spark, sfDir))

    def mkQuery() = EventStreams.upsertSink(spark,
      spark.readStream.schema(spark.createDataset(base).schema).parquet(feed)
        .as[EventStreams.Upd], out, ckpt)

    // generation 1 lands, the query commits it and is KILLED; while it
    // is down the delta arrives TOGETHER WITH a full replay of
    // generation 1 (the crash-recovery double-feed); a new instance
    // resumes from the checkpoint
    spark.createDataset(base).write.mode("overwrite").parquet(feed)
    val q1 = mkQuery()
    try q1.processAllAvailable() finally q1.stop()
    spark.createDataset(delta ++ base).write.mode("append").parquet(feed)
    val q2 = mkQuery()
    try q2.processAllAvailable() finally q2.stop()

    // emission count is exactly the state-machine's: every key emits
    // once for generation 1; after restart only keys the delta IMPROVES
    // emit again — replayed generation-1 rows emit nothing
    def bestOf(rows: Seq[EventStreams.Upd]): Map[Long, EventStreams.Upd] =
      rows.groupBy(_.o_orderkey).map { case (k, rs) =>
        k -> rs.reduce((a, b) => if (EventStreams.better(b, a)) b else a)
      }
    val st1 = bestOf(base)
    val improved = bestOf(delta ++ base).count { case (k, b) =>
      EventStreams.better(b, st1(k))
    }
    val emitted = spark.read.parquet(out)
    assert(emitted.count() == st1.size + improved,
      "replayed updates must be absorbed by restored state, not re-emitted")

    // converged materialization == the batch upsert twin
    val latest = emitted.as[EventStreams.Latest].collect()
      .groupBy(_.o_orderkey)
      .map { case (_, rows) => rows.maxBy(_.__v) }
      .map(l => (l.o_orderkey, l.o_orderstatus, l.o_totalprice)).toSet
    val batch = graft.sources.RoundTrip.src08(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(latest == batch,
      s"missing=${(batch -- latest).take(3)} extra=${(latest -- batch).take(3)}")

    // crash-window replay: re-running a committed batch rewrites its own
    // partition — the sink is idempotent per batch
    val lastBatch = emitted
      .agg(org.apache.spark.sql.functions.max(col("batch_id").cast("long")))
      .collect()(0).getLong(0)
    val replay = spark.read.parquet(s"$out/batch_id=$lastBatch")
      .as[EventStreams.Latest]
    EventStreams.writeUpsertBatch(replay, lastBatch, out)
    assert(spark.read.parquet(out).count() == st1.size + improved,
      "replaying a committed batch must be a no-op")
  }

  test("continuous document ingest accumulates to src13's batch answer") {
    import org.apache.spark.sql.functions.{col, date_format}
    val dir = graft.sources.RoundTrip.cdaCorpus(spark, sfDir)
    val q = EventStreams.documentIngestStream(spark, dir,
        maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("st05_out")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // one file per trigger: the corpus really arrived incrementally
      assert(q.recentProgress.count(_.numInputRows > 0) > 1,
        "ingest must span multiple micro-batches")
      val streamed = spark.table("st05_out")
        .withColumn("ts",
          date_format(col("ts"), graft.sources.RoundTrip.CDA_TS_FMT))
        .orderBy("event_id").collect().toSeq
      val batch = graft.sources.RoundTrip.src13(spark, sfDir)
        .collect().toSeq
      assert(streamed.map(_.toSeq) == batch.map(_.toSeq),
        "accumulated stream extraction must be row-exact vs batch")
    } finally q.stop()
  }

  test("st10 streaming readmission verdicts equal the batch lead logic") {
    import spark.implicits._
    val evs = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .as[Ev].collect().toSeq.sortBy(e => (e.ts_us, e.event_id))

    val input = MemoryStream[Ev](spark)
    val q = EventStreams.readmitStream(spark, input.toDS())
      .toDF("user_id", "discharge_us", "readmit")
      .writeStream.format("memory").queryName("st10_out")
      .outputMode(OutputMode.Update()).start()
    try {
      evs.grouped((evs.size + 2) / 3).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.table("st10_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      // independent recompute: sessions + lead in plain Scala; only
      // visits WITH a successor get a verdict
      val gap = 30L * 60 * 1000000
      val want = evs.groupBy(_.user_id).toSeq.flatMap { case (u, es) =>
        val ts = es.sortBy(e => (e.ts_us, e.event_id)).map(_.ts_us)
        // session bounds
        val bounds = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        var (start, last) = (ts.head, ts.head)
        ts.tail.foreach { t =>
          if (t - last > gap) { bounds += ((start, last)); start = t }
          last = t
        }
        bounds += ((start, last))
        bounds.toSeq.zip(bounds.toSeq.drop(1)).map { case ((_, l), (s2, _)) =>
          (u, l, s2 - l <= 24L * 3600 * 1000000)
        }
      }.toSet
      assert(streamed == want)
      // ...and the batch twin rolls the same verdicts up per day
      val byDay = want.toSeq.groupBy { case (_, l, _) =>
        java.time.Instant.ofEpochMilli(l / 1000)
          .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
      }
      val twin = EventStreams.st10(spark, sfDir).collect()
      assert(twin.length == byDay.size)
      twin.foreach { r =>
        val vs = byDay(r.getString(0))
        assert(r.getLong(1) == vs.size)
        assert(r.getLong(2) == vs.count(_._3))
      }
    } finally q.stop()
  }

  test("st09 streaming funnel states converge to an independent recompute") {
    import spark.implicits._
    import graft.streaming.EventStreams.TEv
    val evs = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .as[TEv].collect().toSeq.sortBy(e => (e.ts_us, e.event_id))

    val input = MemoryStream[TEv](spark)
    val q = EventStreams.funnelStream(spark, input.toDS())
      .toDF("user_id", "fv", "fc", "fp")
      .writeStream.format("memory").queryName("st09_out")
      .outputMode(OutputMode.Update()).start()
    try {
      // three time-ordered chunks — stage transitions cross batches
      evs.grouped((evs.size + 2) / 3).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      // last emission per user is the funnel row (Update mode appends
      // one row per touched user per batch into the memory sink)
      val streamed = spark.table("st09_out")
        .collect().zipWithIndex
        .groupBy(_._1.getLong(0)).map { case (u, rs) =>
          val r = rs.maxBy(_._2)._1
          u -> ((r.getLong(1), r.getLong(2), r.getLong(3)))
        }
      // independent recompute: c10's rule applied per user in plain Scala
      val want = evs.groupBy(_.user_id).map { case (u, es) =>
        val sorted = es.sortBy(e => (e.ts_us, e.event_id))
        val fv = sorted.collectFirst {
          case e if e.event_type == "view" => e.ts_us }.getOrElse(-1L)
        val fc = if (fv < 0) -1L else sorted.collectFirst {
          case e if e.event_type == "click" && e.ts_us > fv => e.ts_us
        }.getOrElse(-1L)
        val fp = if (fc < 0) -1L else sorted.collectFirst {
          case e if e.event_type == "purchase" && e.ts_us > fc => e.ts_us
        }.getOrElse(-1L)
        u -> ((fv, fc, fp))
      }
      assert(streamed == want)
      // ...and the batch twin's aggregate equals the same counts
      val agg = EventStreams.st09(spark, sfDir).collect()(0)
      assert(agg.getLong(0) == want.count(_._2._1 >= 0))
      assert(agg.getLong(1) == want.count(_._2._2 >= 0))
      assert(agg.getLong(2) == want.count(_._2._3 >= 0))
    } finally q.stop()
  }
  test("st11 streaming spike verdicts equal the batch twin on closed hours") {
    import spark.implicits._
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    def hourStr(h: Long): String = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochSecond(h * 3600L), java.time.ZoneOffset.UTC)
      .format(fmt)
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type"),
        org.apache.spark.sql.functions.expr("unix_micros(ts) div 3600000000").as("h"))
      .as[EventStreams.TypedHour].collect().sortBy(_.h)
    val chunks = rows.grouped(math.max(1, rows.length / 3 + 1)).toSeq
    val input = MemoryStream[EventStreams.TypedHour](spark)
    val q = EventStreams.spikeStream(spark, input.toDS())
      .writeStream.format("memory").queryName("st11_out")
      .outputMode(OutputMode.Append()).start()
    try {
      chunks.foreach { c => input.addData(c.toSeq); q.processAllAvailable() }
      val got = spark.table("st11_out").as[EventStreams.SpikeVerdict]
        .collect()
        .map(v => (v.event_type, hourStr(v.h)) -> (v.n, v.t_sum, v.t_n, v.spike))
        .toMap
      val batch = EventStreams.st11(spark, sfDir).collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[String]("hour_ts")) ->
          (r.getAs[Long]("n"), r.getAs[Long]("t_sum"), r.getAs[Long]("t_n"),
            r.getAs[Int]("spike"))).toMap
      // the stream covers exactly the CLOSED hours: batch minus each
      // type's final (still-open) hour
      val lastPerType = batch.keys.groupBy(_._1)
        .map { case (t, ks) => t -> ks.map(_._2).max }
      val closed = batch.filter { case ((t, h), _) => h != lastPerType(t) }
      assert(got == closed,
        s"missing=${(closed.keySet -- got.keySet).take(3)} " +
          s"extra=${(got.keySet -- closed.keySet).take(3)}")
      // sf0.001 is too sparse for the t_n >= 12 arming condition —
      // non-vacuity is evidenced at the sf0.01 gate (spikes fire
      // there); here the stream must agree with the batch either way
      assert(got.values.exists(_._4 == 1) ==
        closed.values.exists(_._4 == 1))
    } finally q.stop()
  }

  test("st12 CDC snapshot commits are exactly-once across kill + replay") {
    import spark.implicits._
    import org.apache.commons.io.FileUtils
    import graft.sources.Snapshots
    val baseDir = s"${graft.Scratch.dir}/st12_chaos"
    val (feed, root, ckpt) = (s"$baseDir/feed", s"$baseDir/root", s"$baseDir/ckpt")
    FileUtils.deleteQuietly(new java.io.File(baseDir))
    def updRows(df: org.apache.spark.sql.DataFrame): Seq[EventStreams.Upd] =
      EventStreams.withUpdHash(df).as[EventStreams.Upd].collect().toSeq
    val base = updRows(graft.sources.RoundTrip.src08Base(spark, sfDir))
    val delta = updRows(graft.sources.RoundTrip.src08Delta(spark, sfDir))
    def mkQuery() = EventStreams.cdcSnapshotSink(spark,
      spark.readStream.schema(spark.createDataset(base).schema).parquet(feed)
        .as[EventStreams.Upd], root, ckpt)
    // batch 0 commits as version 1, the query is KILLED; while it is
    // down the delta arrives together with a full base replay; the
    // restarted query processes that as ONE batch -> version 2
    spark.createDataset(base).write.mode("overwrite").parquet(feed)
    val q1 = mkQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(Snapshots.headVersion(spark, root) == 1)
    spark.createDataset(delta ++ base).write.mode("append").parquet(feed)
    val q2 = mkQuery()
    try q2.processAllAvailable() finally q2.stop()
    assert(Snapshots.headVersion(spark, root) == 2,
      "kill + restart must yield exactly one version per micro-batch")
    // a stale batch replayed against the table is absorbed by the HEAD
    // rule without touching any bytes
    val v = EventStreams.commitCdcBatch(spark, root, 0L,
      spark.createDataset(base).toDF())
    assert(v == 2 && Snapshots.headVersion(spark, root) == 2,
      "a replayed batch id must not commit")
    // the converged HEAD is src08's table, row for row
    val got = Snapshots.read(spark, root)
      .select("o_orderkey", "o_orderstatus", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val want = graft.sources.RoundTrip.src08(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == want)
    // version 1 stays pinned to its own bytes: re-reading it yields
    // exactly the base generation's merge, unaffected by version 2
    val v1 = Snapshots.read(spark, root, Some(1))
      .select("o_orderkey", "o_orderstatus", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val wantV1 = base.groupBy(_.o_orderkey).map { case (_, rs) =>
      val b = rs.reduce((a, x) => if (EventStreams.better(x, a)) x else a)
      (b.o_orderkey, b.o_orderstatus, b.o_totalprice)
    }.toSet
    assert(v1 == wantV1)
  }
  /** st17's kill + restart under `name` in the scratch dir: batch 0
    * (the base) commits as version 1 and the query is KILLED; the delta
    * arrives with `replay` of the base, and the restart merges it as ONE
    * batch -> version 2 (in-batch dups reduced by the comparator). A
    * stale batch replayed against the table must not commit, HEAD must
    * converge on src08's table and version 1 must stay pinned to the
    * base generation's merge. Returns the table root.
    */
  private def st17KillReplay(name: String,
      replay: Seq[EventStreams.Upd] => Seq[EventStreams.Upd]): String = {
    import spark.implicits._
    import org.apache.commons.io.FileUtils
    import graft.sources.Snapshots
    val baseDir = s"${graft.Scratch.dir}/$name"
    val (feed, root, ckpt) = (s"$baseDir/feed", s"$baseDir/root", s"$baseDir/ckpt")
    FileUtils.deleteQuietly(new java.io.File(baseDir))
    def updRows(df: org.apache.spark.sql.DataFrame): Seq[EventStreams.Upd] =
      EventStreams.withUpdHash(df).as[EventStreams.Upd].collect().toSeq
    val base = updRows(graft.sources.RoundTrip.src08Base(spark, sfDir))
    val delta = updRows(graft.sources.RoundTrip.src08Delta(spark, sfDir))
    def mkQuery() = EventStreams.mergeCdcSink(spark,
      spark.readStream.schema(spark.createDataset(base).schema).parquet(feed)
        .as[EventStreams.Upd], root, ckpt)
    spark.createDataset(base).write.mode("overwrite").parquet(feed)
    val q1 = mkQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(Snapshots.headVersion(spark, root) == 1)
    spark.createDataset(delta ++ replay(base)).write.mode("append").parquet(feed)
    val q2 = mkQuery()
    try q2.processAllAvailable() finally q2.stop()
    assert(Snapshots.headVersion(spark, root) == 2,
      "kill + restart must yield exactly one version per micro-batch")
    // a stale batch replayed against the table is absorbed
    val v = EventStreams.mergeCdcBatch(spark, root, 0L,
      spark.createDataset(base).toDF())
    assert(v == 2 && Snapshots.headVersion(spark, root) == 2)
    // the converged HEAD is src08's table, row for row
    val got = Snapshots.read(spark, root)
      .select("o_orderkey", "o_orderstatus", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val want = graft.sources.RoundTrip.src08(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == want)
    // version 1 pinned: the base generation's own merge, untouched
    val v1 = Snapshots.read(spark, root, Some(1))
      .select("o_orderkey", "o_orderstatus", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val wantV1 = base.groupBy(_.o_orderkey).map { case (_, rs) =>
      val b = rs.reduce((a, x) => if (EventStreams.better(x, a)) x else a)
      (b.o_orderkey, b.o_orderstatus, b.o_totalprice)
    }.toSet
    assert(v1 == wantV1)
    root
  }

  test("st17 merge-on-read CDC: exactly-once across kill + replay, no rewrite") {
    import graft.sources.Snapshots
    // a replay of half the base replaces too few rows to bring the
    // dead-row debt due
    val root = st17KillReplay("st17_chaos", _.filter(_.o_orderkey % 2 == 1))
    // MERGE-ON-READ, not a rewrite: v2 still lists v1's data dirs and
    // carries a deletion-vector sidecar (st12's replace would swap the
    // file set and carry none)
    assert(Snapshots.dirsOf(spark, root, 1).toSet
      .subsetOf(Snapshots.dirsOf(spark, root, 2).toSet),
      "merge commit must keep the parent's data files")
    assert(Snapshots.dvDirsOf(spark, root, 2).nonEmpty,
      "merge commit must record matched rows as deletion vectors")
  }

  test("st17 CDC: exactly-once across kill + full base replay, which rewrites") {
    import graft.sources.Snapshots
    // the at-least-once replay of the WHOLE base replaces every row, so
    // a sidecar would leave as many dead rows as live ones: the same
    // single version rewrites the live rows instead (commitRemoving)
    val root = st17KillReplay("st17_full_replay", identity)
    assert(Snapshots.dvDirsOf(spark, root, 2).isEmpty,
      "a rewriting merge must carry no deletion vectors")
    assert(Snapshots.dirsOf(spark, root, 1).toSet
      .intersect(Snapshots.dirsOf(spark, root, 2).toSet).isEmpty,
      "a rewriting merge must replace the parent's data files")
  }

  test("st17's Catalyst latest-wins aggregate equals the better fold per key") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import EventStreams.Upd
    // equal versions, exact replays and the extreme hashes where a
    // negated tie-break would overflow
    val hGen = Gen.frequency(3 -> Gen.oneOf(Long.MinValue, 0L, Long.MaxValue),
      1 -> Gen.choose(-2L, 2L), 1 -> Gen.choose(Long.MinValue, Long.MaxValue))
    val rowGen = for {
      k <- Gen.choose(1L, 6L); v <- Gen.choose(0L, 2L); h <- hGen
      st <- Gen.oneOf("O", "F", "P"); p <- Gen.choose(0, 99)
    } yield Upd(k, st, p.toDouble, v, h)
    val batchGen = for {
      rows <- Gen.listOf(rowGen)
      // (key, __v, __h) names one row: two payloads under it would be a
      // hash collision, which neither form can order
      distinct = rows.groupBy(r => (r.o_orderkey, r.__v, r.__h))
        .values.map(_.head).toList
      replays <- Gen.someOf(distinct)
    } yield distinct ++ replays
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(60),
      Prop.forAll(batchGen) { batch =>
        val got = EventStreams.latestWins(spark.createDataset(batch).toDF())
          .as[Upd].collect().toSet
        val want = batch.groupBy(_.o_orderkey).values
          .map(_.reduce((a, b) => if (EventStreams.better(b, a)) b else a))
          .toSet
        got == want
      })
    assert(res.passed, res.status.toString)
  }

  test("st11 spike geometry follows spark.graft.spike.* (non-default proven)") {
    import org.apache.spark.sql.functions.{col, expr}
    try {
      spark.conf.set("spark.graft.spike.windowHours", "6")
      spark.conf.set("spark.graft.spike.minObs", "3")
      spark.conf.set("spark.graft.spike.factor", "1")
      val got = EventStreams.st11(spark, sfDir).collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[String]("hour_ts")) ->
          (r.getAs[Long]("t_sum"), r.getAs[Long]("t_n"), r.getAs[Int]("spike")))
        .toMap
      // independent recompute under the SAME non-default geometry
      val counts = Tables.events(spark, sfDir)
        .select(col("event_type"), expr("unix_micros(ts) div 3600000000").as("h"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
        .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
      val fmt = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      def hourStr(h: Long): String = java.time.LocalDateTime.ofInstant(
        java.time.Instant.ofEpochSecond(h * 3600L), java.time.ZoneOffset.UTC)
        .format(fmt)
      counts.foreach { case ((tp, h), n) =>
        val trail = counts.filter { case ((t2, h2), _) =>
          t2 == tp && h2 >= h - 6 && h2 <= h - 1 }.values
        val (tSum, tN) = (trail.sum, trail.size.toLong)
        val spike = if (tN >= 3 && n * tN > 1 * tSum) 1 else 0
        assert(got((tp, hourStr(h))) == ((tSum, tN, spike)),
          s"($tp, $h): ${got((tp, hourStr(h)))} vs ${(tSum, tN, spike)}")
      }
      // factor 1 over a short window must fire somewhere even at sf0.001
      assert(got.values.exists(_._3 == 1))
    } finally {
      spark.conf.unset("spark.graft.spike.windowHours")
      spark.conf.unset("spark.graft.spike.minObs")
      spark.conf.unset("spark.graft.spike.factor")
    }
  }
  test("st11 spike factor accepts fractional sensitivity (1.5x)") {
    import org.apache.spark.sql.functions.{col, expr}
    try {
      spark.conf.set("spark.graft.spike.windowHours", "6")
      spark.conf.set("spark.graft.spike.minObs", "3")
      spark.conf.set("spark.graft.spike.factor", "1.5")
      val got = EventStreams.st11(spark, sfDir).collect()
        .map(r => (r.getAs[Long]("n"), r.getAs[Long]("t_sum"),
          r.getAs[Long]("t_n"), r.getAs[Int]("spike")))
      // the integer milli-compare realizes exactly n/mean > 1.5
      got.foreach { case (n, tSum, tN, spike) =>
        val want = if (tN >= 3 && n * tN * 1000L > 1500L * tSum) 1 else 0
        assert(spike == want, s"n=$n t_sum=$tSum t_n=$tN")
      }
      // the conf parse itself: "1.5" -> 1500 milli, no exception
      assert(graft.GraftConf.spikeFactorMilli(spark) == 1500L)
    } finally {
      spark.conf.unset("spark.graft.spike.windowHours")
      spark.conf.unset("spark.graft.spike.minObs")
      spark.conf.unset("spark.graft.spike.factor")
    }
  }
  test("observability: dropped-late rows counted, watermark queryable") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{coalesce, lit, sum}
    import graft.streaming.Observability
    val rec = Observability.attach(spark)
    val input = MemoryStream[TsEv](spark)
    val q = EventStreams.hourlyCountsStream(input.toDF())
      .writeStream.format("memory").queryName("obs_late_out")
      .outputMode(OutputMode.Append()).start()
    def ts(h: Int) = new java.sql.Timestamp(h * 3600L * 1000)
    def droppedTotal(): Long = Observability.metrics(spark, rec)
      .filter(col("query_name") === "obs_late_out")
      .agg(coalesce(sum(col("dropped_late_rows")), lit(0L)))
      .collect()(0).getLong(0)
    try {
      input.addData(Seq(TsEv(ts(0), 1L), TsEv(ts(1), 2L)))
      q.processAllAvailable()
      // max event time 10h -> watermark advances to 8h at batch end
      input.addData(Seq(TsEv(ts(10), 3L)))
      q.processAllAvailable()
      // an event behind the watermark: dropped by the aggregation —
      // and the drop must be OBSERVABLE, not silent
      input.addData(Seq(TsEv(ts(0), 4L)))
      q.processAllAvailable()
      // the listener bus is async: poll until the batch's progress lands
      val deadline = System.currentTimeMillis + 30000
      while (System.currentTimeMillis < deadline && droppedTotal() < 1)
        Thread.sleep(200)
      assert(droppedTotal() == 1, "the late row must be counted")
      val srow = Observability.lateDataSummary(spark, rec)
        .filter(col("query_name") === "obs_late_out").collect()(0)
      assert(srow.getAs[Long]("dropped_late_rows") == 1)
      assert(srow.getAs[Long]("input_rows") == 4)
      assert(srow.getAs[String]("watermark_high").startsWith("1970-01-01T08"),
        s"watermark high-mark: ${srow.getAs[String]("watermark_high")}")
    } finally { q.stop(); Observability.detach(spark, rec) }
  }

  test("spike fold tolerates late hours: dropped + counted, not fatal") {
    import EventStreams.{HourCount, SpikeEmpty}
    // open hour 101 with 100 closed behind it
    val (st1, out1) = EventStreams.spikeAdvance("t", SpikeEmpty,
      Seq(HourCount(100L, 2L), HourCount(101L, 4L)))
    assert(out1.size == 1 && st1.cur == 101L)
    // a later micro-batch delivers an event for the CLOSED hour 99:
    // previously a require-failure that killed the query — now dropped
    val (st2, out2) = EventStreams.spikeAdvance("t", st1,
      Seq(HourCount(99L, 3L)))
    assert(out2.isEmpty && st2.lateN == 3L)
    assert(st2.cur == 101L && st2.curN == 4L, "open hour untouched")
    // the stream keeps advancing normally afterwards, late count kept
    val (st3, out3) = EventStreams.spikeAdvance("t", st2,
      Seq(HourCount(102L, 1L)))
    assert(out3.size == 1 && out3.head.h == 101L && out3.head.n == 4L)
    assert(st3.lateN == 3L)
  }
  test("native streaming session windows equal c35's batch sessions") {
    import spark.implicits._
    val rows = Tables.events(spark, sfDir).select("ts", "user_id")
      .as[TsEv].collect().toSeq.sortBy(_.ts.toString)
    val chunks = rows.grouped(math.max(1, rows.length / 3 + 1)).toSeq
    val input = MemoryStream[TsEv](spark)
    val q = EventStreams.sessionWindowStream(input.toDF())
      .writeStream.format("memory").queryName("swn_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      chunks.foreach { c => input.addData(c); q.processAllAvailable() }
      val got = spark.table("swn_out").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us")) ->
          (r.getAs[Long]("n_events"), r.getAs[Long]("last_us"))).toMap
      // batch twin: the SAME aggregate (c35's inner groupBy) run batch
      import org.apache.spark.sql.functions.{count, lit}
      val want = Tables.events(spark, sfDir)
        .groupBy(col("user_id"),
          org.apache.spark.sql.functions
            .session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          org.apache.spark.sql.functions.min(
            org.apache.spark.sql.functions.unix_micros(col("ts")))
            .as("start_us"),
          org.apache.spark.sql.functions.max(
            org.apache.spark.sql.functions.unix_micros(col("ts")))
            .as("last_us"))
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us")) ->
          (r.getAs[Long]("n_events"), r.getAs[Long]("last_us"))).toMap
      assert(got == want,
        s"missing=${(want.keySet -- got.keySet).take(3)} " +
          s"extra=${(got.keySet -- want.keySet).take(3)}")
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("st16 streamed IVF maintenance equals batch append; replay is a no-op") {
    import graft.operators.Similarity
    import graft.streaming.IndexMaintenance
    import spark.implicits._
    // the proven batch-appended index (base 3/4 assigned at build, the
    // churn quarter appended once) is the twin the STREAM must equal
    val (appCells, appCent) = Similarity.ensureIvfIndexAppended(spark, sfDir)
    val nb = GraftConf.indexBuckets(spark)
    val streamT = s"graft_ivf_stream_spec_${java.util.UUID.randomUUID.toString.take(8)}"
    val e = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val mod = Similarity.APP_DELTA_MOD
    Similarity.assignCells(
      e.filter(col("vec_id") % mod =!= mod - 1), spark.table(appCent))
      .write.bucketBy(nb, "cid").sortBy("cid").saveAsTable(streamT)
    // the churn quarter arrives over TWO micro-batches through the real
    // foreachBatch sink
    val delta = e.filter(col("vec_id") % mod === mod - 1)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val input = MemoryStream[(Long, Array[Float])](spark)
    val cp = java.nio.file.Files.createTempDirectory("st16cp").toString
    val q = IndexMaintenance.ivfMaintenanceSink(spark,
      input.toDF().toDF("vec_id", "embedding"), streamT, appCent, cp)
    try {
      val (b1, b2) = delta.splitAt(delta.length / 2)
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    // cells-table EQUALITY with the batch twin: assignment is a pure
    // per-vector function of (vector, centroids), so however the delta
    // was sliced into batches the index must come out identical
    def cells(t: String): Set[(Long, Int)] = spark.table(t)
      .select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(cells(streamT) == cells(appCells),
      "streamed-append index diverged from the batch-appended twin")
    // a replayed batchId (restart recovery) must change nothing
    val before = spark.table(streamT).count()
    assert(!IndexMaintenance.appendIvfBatch(spark, streamT, appCent, 0L,
      e.filter(col("vec_id") % mod === mod - 1)),
      "ledger must skip an already-applied batchId")
    assert(spark.table(streamT).count() == before)
    // retrieval quality holds over the STREAMED index: the same
    // recall monitor s11 runs over ivf_app, pointed at the streamed
    // cells — appends must not cost recall vs the exact answer
    val exact = Similarity.s05(spark, sfDir).select("q_id", "vec_id")
    val approx = Similarity.ivfKnnJoin(spark, sfDir, (streamT, appCent))
      .select("q_id", "vec_id")
    val hit = exact.join(approx, Seq("q_id", "vec_id"), "left_semi").count()
    val recall = hit.toDouble / exact.count()
    assert(recall >= 0.3, s"streamed-index recall $recall below the floor")
    spark.sql(s"DROP TABLE $streamT")
  }

  test("st13 tail: second drain ships ONLY the new commit, union exact") {
    import graft.sources.Snapshots
    import graft.streaming.EventStreams
    import org.apache.spark.sql.functions.{col, lit}
    val base = s"${graft.Scratch.dir}/st13spec"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val root = s"$base/root"; val out = s"$base/out"; val cp = s"$base/cp"
    val ev = Tables.events(spark, sfDir)
    val cut = lit("2024-01-16").cast("timestamp")
    // two commits live when the consumer first drains
    Snapshots.commit(spark, root, ev.filter(col("ts") < cut)
      .filter(col("event_id") % 2 === 0))
    Snapshots.commit(spark, root, ev.filter(col("ts") < cut)
      .filter(col("event_id") % 2 =!= 0))
    EventStreams.drainChangeFeed(spark, root, ev.schema, out, cp)
    val n2 = EventStreams.readDrained(spark, out, ev.schema).count()
    assert(n2 == ev.filter(col("ts") < cut).count())
    // a third commit lands; the SAME checkpoint drains only its rows
    Snapshots.commit(spark, root, ev.filter(col("ts") >= cut))
    EventStreams.drainChangeFeed(spark, root, ev.schema, out, cp)
    val after = EventStreams.readDrained(spark, out, ev.schema)
    assert(after.count() == ev.count(), "tail lost or duplicated rows")
    // and nothing pre-cut was re-shipped: every event_id exactly once
    assert(after.groupBy(col("event_id")).count()
      .filter(col("count") > 1).count() == 0)
    // a drain with nothing new ships nothing (idempotent consumer loop)
    EventStreams.drainChangeFeed(spark, root, ev.schema, out, cp)
    assert(EventStreams.readDrained(spark, out, ev.schema).count() == ev.count())
  }

  test("appendIvfBatch crash window: intent-without-done replay dedups exactly") {
    import graft.operators.Similarity
    import graft.streaming.IndexMaintenance
    import org.apache.spark.sql.functions.col
    val (_, appCent) = Similarity.ensureIvfIndexAppended(spark, sfDir)
    val nb = GraftConf.indexBuckets(spark)
    val streamT =
      s"graft_ivf_crash_spec_${java.util.UUID.randomUUID.toString.take(8)}"
    val e = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val mod = Similarity.APP_DELTA_MOD
    val base = e.filter(col("vec_id") % mod =!= mod - 1)
    val delta = e.filter(col("vec_id") % mod === mod - 1)
    def build(partial: Boolean): String = {
      if (spark.catalog.tableExists(streamT)) spark.sql(s"DROP TABLE $streamT")
      val rows =
        if (partial)
          // the FileOutputCommitter-v1 prefix: the delta's append job
          // crashed mid job-commit, publishing only some task files —
          // including SPLIT vectors (one of a vec's 2 cells present)
          Similarity.assignCells(base, spark.table(appCent)).union(
            Similarity.assignCells(delta, spark.table(appCent))
              .filter(col("cid") % 2 === 0))
        else Similarity.assignCells(base, spark.table(appCent))
      rows.write.bucketBy(nb, "cid").sortBy("cid").saveAsTable(streamT)
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(streamT))
        .location.toString
    }
    val want = Similarity.assignCells(e, spark.table(appCent))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    def got(): Array[(Long, Int)] = spark.table(streamT)
      .select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val fs = new org.apache.hadoop.fs.Path(graft.Scratch.dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // CRASH SHAPE 1: delta append fully committed, done marker lost —
    // the replay must apply NOTHING new (the old code re-appended the
    // whole batch here, silently duplicating every row)
    val loc1 = build(partial = false)
    Similarity.appendIvf(spark, streamT, appCent, delta)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$loc1/_graft_ledger/b7.intent"))
    assert(IndexMaintenance.appendIvfBatch(spark, streamT, appCent, 7L, delta))
    assert(got().length == want.size && got().toSet == want,
      "full-commit replay must not duplicate")
    // the replay marked done: a second replay is a plain ledger skip
    assert(!IndexMaintenance.appendIvfBatch(spark, streamT, appCent, 7L, delta))
    // CRASH SHAPE 2: PARTIAL delta publish + lost done marker — the
    // replay must complete exactly the missing (vec_id, cid) rows
    val loc2 = build(partial = true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$loc2/_graft_ledger/b9.intent"))
    assert(IndexMaintenance.appendIvfBatch(spark, streamT, appCent, 9L, delta))
    assert(got().length == want.size && got().toSet == want,
      "partial-publish replay must complete without duplicating")
    // CRASH SHAPE 3: intent dropped, nothing applied — everything lands
    val loc3 = build(partial = false)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$loc3/_graft_ledger/b11.intent"))
    assert(IndexMaintenance.appendIvfBatch(spark, streamT, appCent, 11L, delta))
    assert(got().length == want.size && got().toSet == want)
    spark.sql(s"DROP TABLE $streamT")
  }

  test("change feed drain honors the retention floor after vacuum") {
    import graft.sources.Snapshots
    import graft.streaming.EventStreams
    import org.apache.spark.sql.functions.col
    val base = s"${graft.Scratch.dir}/drainvac"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val root = s"$base/root"
    val ev = Tables.events(spark, sfDir).limit(80).cache()
    try {
      (0 until 4).foreach(i =>
        Snapshots.commit(spark, root, ev.filter(col("event_id") % 4 === i)))
      val out1 = s"$base/out1"
      EventStreams.drainChangeFeed(spark, root, ev.schema, out1, "")
      assert(EventStreams.readDrained(spark, out1, ev.schema).count()
        == ev.count())
      // retention passes: v1/v2 manifests truncate, then history grows
      Snapshots.vacuum(spark, root, 3)
      Snapshots.commit(spark, root, ev.limit(5))
      // an up-to-date consumer keeps draining across the vacuum
      EventStreams.drainChangeFeed(spark, root, ev.schema, out1, "")
      assert(EventStreams.readDrained(spark, out1, ev.schema).count()
        == ev.count() + 5)
      // a FRESH consumer pointed at the vacuumed root is refused with
      // the recovery path, not an opaque manifest-probe crash
      val e1 = intercept[IllegalArgumentException] {
        EventStreams.drainChangeFeed(spark, root, ev.schema, s"$base/out2", "")
      }
      assert(e1.getMessage.contains("truncated below"), e1.getMessage)
      // a consumer whose last shipped version fell below the floor too
      val out3 = s"$base/out3"
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$out3/delta_v1"))
      val e2 = intercept[IllegalArgumentException] {
        EventStreams.drainChangeFeed(spark, root, ev.schema, out3, "")
      }
      assert(e2.getMessage.contains("truncated below"), e2.getMessage)
    } finally ev.unpersist()
  }

  test("st18 streamed drift equals t23 under arbitrary micro-batch splits") {
    import spark.implicits._
    case class Doc(source: String, n_chars: Long)
    val docs = Tables.documents(spark, sfDir)
      .select("source", "n_chars").as[(String, Long)].collect().toSeq
    val input = MemoryStream[(String, Long)](spark)
    val q = DriftMonitor.driftCounts(
        input.toDF().toDF("source", "n_chars"))
      .writeStream.format("memory").queryName("st18_counts")
      .outputMode(OutputMode.Complete()).start()
    try {
      // three unequal slices — the complete-mode counts must be
      // split-invariant, so the final state equals the batch counts
      val (a, rest) = docs.splitAt(docs.length / 5)
      val (b, c) = rest.splitAt(rest.length / 2)
      Seq(a, b, c).foreach { sl => input.addData(sl); q.processAllAvailable() }
      // materialize the memory-sink view: Spark cannot dedup a
      // MemoryPlan's attributes across t23FromCounts' three self-uses
      val counts = spark.table("st18_counts").collect().toSeq
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
        .toDF("source", "bin", "cnt")
      val streamed = graft.operators.TextAnalysis
        .t23FromCounts(counts)
        .collect().toSeq
      val batch = graft.operators.TextAnalysis
        .queries("t23_psi_drift")(spark, sfDir).collect().toSeq
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("st18 gate entry re-runs idempotently and matches t23") {
    val one = EventStreams.queries("st18_stream_drift")(spark, sfDir)
      .collect().toSeq
    val two = EventStreams.queries("st18_stream_drift")(spark, sfDir)
      .collect().toSeq
    val batch = graft.operators.TextAnalysis
      .queries("t23_psi_drift")(spark, sfDir).collect().toSeq
    assert(one == batch && two == batch)
  }

  test("st18 resumable monitor: a kept checkpoint processes only new files") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.col
    val base = s"${graft.Scratch.dir}/st18_resume"
    val srcDir = s"$base/docs"
    val fsys = new Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new Path(base), true)
    fsys.mkdirs(new Path(srcDir))
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    // land a frame as ONE parquet file the file stream can pick up
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Long = {
      val tmp = s"$base/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fsys.globStatus(new Path(s"$tmp/part-*.parquet")).head.getPath
      fsys.rename(part, new Path(s"$srcDir/$name.parquet"))
      df.count()
    }
    val nA = addFile(docs.filter(col("doc_id") % 2 === 0), "a")
    val r1 = DriftMonitor.monitorResumable(
      spark, srcDir, s"$base/counts", s"$base/ckpt")
    assert(r1.inputRows == nA)
    // new file arrives; catch-up must cost the DELTA, not a rescan
    val nB = addFile(docs.filter(col("doc_id") % 2 === 1), "b")
    val r2 = DriftMonitor.monitorResumable(
      spark, srcDir, s"$base/counts", s"$base/ckpt")
    assert(r2.inputRows == nB,
      s"second run processed ${r2.inputRows} rows, expected the $nB new ones")
    // folded state equals the batch monitor over the whole corpus
    val batch = graft.operators.TextAnalysis
      .queries("t23_psi_drift")(spark, sfDir).collect().toSeq
    assert(r2.drift.collect().toSeq == batch)
    // nothing new: zero batches, last state carried forward
    val r3 = DriftMonitor.monitorResumable(
      spark, srcDir, s"$base/counts", s"$base/ckpt")
    assert(r3.inputRows == 0 && r3.drift.collect().toSeq == batch)
  }
}
