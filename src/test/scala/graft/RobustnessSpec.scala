package graft

import graft.operators.{Panels, Temporal}
import graft.operators.Panels.{CohortDef, Concept, EncounterScope, Panel}
import java.sql.Timestamp

/** Degenerate-input behavior: operators must return empty/null-padded
  * results, never crash, when a side of the computation is empty —
  * at 100 TB a partition, day, or stratum being empty is routine.
  */
class RobustnessSpec extends SparkSpec {

  private def t(hm: String) = Timestamp.valueOf(s"2024-01-01 $hm:00")

  private def emptyEvents = {
    import spark.implicits._
    Seq.empty[(Long, Long, Timestamp, String, Double)]
      .toDF("user_id", "event_id", "ts", "event_type", "value")
  }

  test("panel compiler returns an empty cohort on an empty fact table") {
    val cd = CohortDef(Seq(Panel(Seq(Concept("purchase")))))
    assert(Panels.cohort(emptyEvents, cd).count() == 0)
    val enc = emptyEvents.withColumn("encounter_id",
      org.apache.spark.sql.functions.lit(1L))
    assert(Panels.cohort(enc, cd.copy(scope = EncounterScope)).count() == 0)
  }

  test("modifier-constrained panels tolerate empty facts and empty dims") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val cd = CohortDef(Seq(
      Panel(Seq(Concept("purchase", modifierPrefix = Some("/mod/g3/"))))))
    val emptyWithProps = emptyEvents.withColumn("props",
      lit(null).cast("string"))
    assert(Panels.cohort(
      Panels.withModifiers(emptyWithProps, Panels.modifierDim(spark)), cd)
      .count() == 0)
    // an EMPTY modifier dimension: every constraint fails (null path),
    // unconstrained panels still work
    val facts = Seq(
      (1L, 1L, t("12:00"), "purchase", 10.0, """{"k": 35}"""))
      .toDF("user_id", "event_id", "ts", "event_type", "value", "props")
    val emptyDim = Panels.modifierDim(spark).limit(0)
    val joined = Panels.withModifiers(facts, emptyDim)
    assert(Panels.cohort(joined, cd).count() == 0)
    assert(Panels.cohort(joined,
      CohortDef(Seq(Panel(Seq(Concept("purchase")))))).count() == 1)
  }

  test("asofJoin handles an empty side gracefully") {
    import spark.implicits._
    val left = Seq((1L, 10L, t("12:00"))).toDF("user_id", "event_id", "ts")
    val right = Seq((1L, t("11:00"), "a")).toDF("user_id", "rts", "tag")
    val emptyLeft = left.limit(0)
    val emptyRight = right.limit(0)
    assert(Temporal.asofJoin(emptyLeft, right, Seq("user_id"), "ts", "rts")
      .count() == 0)
    val noMatch = Temporal.asofJoin(left, emptyRight, Seq("user_id"), "ts", "rts")
      .collect()
    assert(noMatch.length == 1 && noMatch(0).getAs[String]("tag") == null,
      "left rows survive with null payload when right is empty")
  }

  test("asofJoin composes over multiple keys") {
    import spark.implicits._
    val left = Seq((1L, "a", 10L, t("12:00")), (1L, "b", 11L, t("12:00")))
      .toDF("k1", "k2", "event_id", "ts")
    val right = Seq((1L, "a", t("11:00"), "pa"), (1L, "b", t("11:30"), "pb"))
      .toDF("k1", "k2", "rts", "tag")
    val out = Temporal.asofJoin(left, right, Seq("k1", "k2"), "ts", "rts")
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[String]("tag"))
      .toMap
    assert(out == Map(10L -> "pa", 11L -> "pb"),
      "payload must match on the full composite key")
  }

  test("upsertLatest with an empty delta is the identity") {
    import org.apache.spark.sql.functions.lit
    val base = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderstatus").withColumn("__v", lit(0L))
    val delta = base.filter(lit(false))
    val merged = graft.sources.RoundTrip
      .upsertLatest(base, delta, "o_orderkey", "__v")
    assert(merged.count() == Tables.orders(spark, sfDir).count())
    assert(merged.columns.toSeq == Seq("o_orderkey", "o_orderstatus"))
  }

  test("attributionJoin with an empty side yields no pairs, no errors") {
    import org.apache.spark.sql.functions.col
    val ev = Tables.events(spark, sfDir)
    val none = ev.filter(col("event_type") === "no_such_type")
    val clicks = ev.filter(col("event_type") === "click")
    assert(graft.streaming.EventStreams.attributionJoin(none, clicks).count() == 0)
    assert(graft.streaming.EventStreams.attributionJoin(clicks, none).count() == 0)
  }

  test("followedBy returns nothing when either event type is absent") {
    assert(Temporal.followedBy(emptyEvents, "signup", "purchase", 1L)
      .count() == 0)
    import spark.implicits._
    val onlyA = Seq((1L, 1L, t("12:00"), "signup", 0.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
    assert(Temporal.followedBy(onlyA, "signup", "purchase",
      7L * 24 * 3600 * 1000000).count() == 0)
  }

  test("d08 yields nothing on degenerate corpora instead of crashing") {
    import spark.implicits._
    import graft.operators.Dedup
    // empty corpus, single doc, and all-short docs (< W chars) have no
    // candidate anchors at all
    assert(Dedup.d08Of(spark,
      Seq.empty[(Long, String)].toDF("doc_id", "text")).count() == 0)
    assert(Dedup.d08Of(spark,
      Seq(1L -> ("word " * 40)).toDF("doc_id", "text")).count() == 0)
    assert(Dedup.d08Of(spark,
      Seq(1L -> "tiny one", 2L -> "tiny one").toDF("doc_id", "text"))
      .count() == 0)
  }

  test("round-8 text/embedding operators are empty-corpus safe") {
    import spark.implicits._
    import graft.operators.{Dedup, Similarity, TextAnalysis}
    val dir = s"${graft.Scratch.dir}/r8_empty"
    Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq.empty[(Long, Array[Float], Int)].toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // no blocks/grams → empty, not a crash in the slice/sequence path
    assert(TextAnalysis.t12(spark, dir).count() == 0)
    assert(TextAnalysis.t13(spark, dir).count() == 0)
    // componentsOf over zero pairs converges immediately (no labels)
    assert(Dedup.d09(spark, dir).count() == 0)
    // an empty probe frame makes both serving shapes empty
    assert(Similarity.s06(spark, dir).count() == 0)
    assert(Similarity.s07(spark, dir).count() == 0)
  }

  test("second round-8 batch is empty-input safe") {
    import spark.implicits._
    val dir = s"${graft.Scratch.dir}/r8b_empty"
    // raw events layout: ts is the int64-nanos column nanosAsLong reads
    Seq.empty[(Long, Long, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // no baskets → no pairs; the 1-row total aggregate still exists but
    // joins nothing
    assert(graft.operators.Cohort.c30(spark, dir).count() == 0)
    // empty corpus → null bloom filter → probe matches nothing; empty
    // delta → empty decision (not a crash in the head() build)
    assert(graft.operators.Dedup.d10(spark, dir).count() == 0)
    // no assets → no shards, no manifest rows
    assert(graft.operators.Multimodal.m05(spark, dir).count() == 0)
    // no views → no attribution rows, outer side included
    assert(graft.streaming.EventStreams.st07(spark, dir).count() == 0)
  }

  test("third round-8 batch is empty-input safe") {
    import spark.implicits._
    val dir = s"${graft.Scratch.dir}/r8c_empty"
    // raw events layout: int64 ts exercises the nanos-era loader branch
    Seq.empty[(Long, Long, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq.empty[(Long, Array[Float], Int)].toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // no facts → no concept-days; the drift window has nothing to rank
    assert(graft.operators.Cohort.c31(spark, dir).count() == 0)
    assert(graft.operators.Cohort.c32(spark, dir).count() == 0)
    // no docs → no chunks, no strata
    assert(graft.operators.TextAnalysis.t14(spark, dir).count() == 0)
    assert(graft.operators.TextAnalysis.t15(spark, dir).count() == 0)
    // empty probe frame and empty corpus → both kNN stages empty
    assert(graft.operators.Similarity.s08(spark, dir).count() == 0)
    // no events → no sliding windows
    assert(graft.streaming.EventStreams.st08(spark, dir).count() == 0)
    // no sessions → no occupied instants; no pairs → an empty report
    assert(graft.operators.Cohort.c33(spark, dir).count() == 0)
    assert(graft.operators.Dedup.d11(spark, dir).count() == 0)
    // no query doc → both retrieval legs empty → empty fusion
    assert(graft.operators.Similarity.s09(spark, dir).count() == 0)
    // no delta → no decisions (bloom over the empty corpus included)
    assert(graft.operators.Pipeline.p03(spark, dir).count() == 0)
    // an empty fact table still lays out and serves the panel (empty)
    assert(graft.sources.RoundTrip.src14(spark, dir).count() == 0)
    // no assets → no frames, no windows, no sync rows
    assert(graft.operators.Multimodal.m06(spark, dir).count() == 0)
    // no patients → every panel empty, but the 6 matrix rows (all 0)
    // still emerge from the in-row unfold of the 1-row aggregate
    val c34 = graft.operators.Cohort.c34(spark, dir).collect()
    assert(c34.length == 6 && c34.forall(_.getLong(2) == 0L))
    // no events → no steps, an empty transition matrix
    assert(graft.operators.Cohort.c36(spark, dir).count() == 0)
  }

  test("round-10 operators are empty-input safe") {
    import spark.implicits._
    import graft.operators.{Cohort, Dedup, Relational, Similarity, TextAnalysis}
    val dir = s"${graft.Scratch.dir}/r10_empty"
    Seq.empty[(Long, Long, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq.empty[(Long, Array[Float], Int)].toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Seq.empty[(Long, Long, String, Double, java.sql.Timestamp, String)]
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq.empty[(Long, String, Long, String, Double)]
      .toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // no groups -> no regression rows, no fences, no strata
    assert(Relational.q37(spark, dir).count() == 0)
    assert(Relational.q38(spark, dir).count() == 0)
    // no events -> no sessions, no subjects, no tiers, no matches
    assert(Cohort.c35(spark, dir).count() == 0)
    assert(Cohort.c38(spark, dir).count() == 0)
    assert(Cohort.c39(spark, dir).count() == 0)
    assert(Cohort.c40(spark, dir).count() == 0)
    assert(graft.streaming.EventStreams.st11(spark, dir).count() == 0)
    // empty corpus: no sources to gate, no tokens to fit or score
    assert(TextAnalysis.t18(spark, dir).count() == 0)
    val zipf = TextAnalysis.t19(spark, dir).collect()
    // the global aggregate still yields its one report row — with an
    // explicit empty-vocabulary account, not a crash
    assert(zipf.length == 1 && zipf(0).getAs[Long]("vocab_size") == 0)
    assert(TextAnalysis.t20(spark, dir).count() == 0)
    assert(Dedup.d13(spark, dir).count() == 0)
    // empty corpus -> empty centroid/codebook frames -> empty serving
    assert(Similarity.s12(spark, dir).count() == 0)
    // late-round additions: modal profile, threshold curve, footage
    // pairs, novelty, standardized rates all collapse to empty
    assert(Relational.q40(spark, dir).count() == 0)
    assert(Dedup.d14(spark, dir).count() == 0)
    assert(graft.operators.Multimodal.m09(spark, dir).count() == 0)
    assert(TextAnalysis.t21(spark, dir).count() == 0)
    assert(Cohort.c41(spark, dir).count() == 0)
  }

  test("patient erasure of an absent patient set is a complete no-op") {
    import org.apache.spark.sql.functions._
    val layout = s"${graft.Scratch.dir}/robust_src11"
    Tables.events(spark, sfDir).limit(200)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("day").parquet(layout)
    val before = spark.read.parquet(layout).count()
    // no such patients: empty audit, nothing rewritten
    val audit = graft.sources.RoundTrip
      .deletePatients(spark, layout, Seq(999999L))
    assert(audit.isEmpty)
    assert(spark.read.parquet(layout).count() == before)
  }

  // the skew shape a hospital-scale deployment actually hits: one
  // "patient" (a test account, a bot, a merged MRN) owning a visible
  // fraction of the fact table. The panel/timeline path groups and
  // windows by user_id, so the hot key lands in one task — this test
  // pins that (a) results are invariant to shuffle geometry (the hot
  // key computes the same answer whichever partition absorbs it),
  // (b) the plan SHAPE is the uniform plan (no extra exchanges, no
  // fallback to a broadcast/cartesian), and (c) c27's timeline cap
  // bounds the hot user's materialized state. Runtimes are printed for
  // the SURVEY §5 record.
  test("panel path holds on a hot-user slice (one user owns 10% of events)") {
    import org.apache.spark.sql.functions._
    val src = "/root/testdata/sf0.01"
    val dir = s"${graft.Scratch.dir}/skew_hot"
    Tables.events(spark, src)
      .withColumn("user_id",
        when(col("event_id") % 10 === 0, lit(0L)).otherwise(col("user_id")))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ev = Tables.events(spark, dir)
    val (total, hot) =
      (ev.count(), ev.filter(col("user_id") === 0).count())
    assert(hot >= total / 10, s"planted skew missing: $hot of $total")
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.toString.linesIterator
        .count(_.contains("Exchange"))
    val queries = Seq[(String, String => org.apache.spark.sql.DataFrame)](
      "c01" -> (x => graft.operators.Cohort.c01(spark, x)),
      "c13" -> (x => Panels.c13(spark, x)),
      "c27" -> (x => graft.operators.Cohort.c27(spark, x)))
    for ((name, q) <- queries) {
      assert(exchanges(q(dir)) == exchanges(q(src)),
        s"$name: hot slice changed the plan shape")
      val t0 = System.nanoTime()
      val rows = q(dir).collect()
      val ms = (System.nanoTime() - t0) / 1e6
      assert(rows.nonEmpty, s"$name returned nothing on the hot slice")
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      try assert(q(dir).collect().map(_.toString).sorted.toSeq ==
          rows.map(_.toString).sorted.toSeq,
        s"$name not invariant to shuffle geometry under skew")
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      info(f"$name hot-slice: ${rows.length} rows in $ms%.0f ms")
    }
    // the hot user's timeline is CAPPED: per-user state stays bounded
    // no matter how many events the key owns
    val hotRow = graft.operators.Cohort.c27(spark, dir)
      .filter(col("user_id") === 0).collect().head
    assert(hotRow.getAs[Long]("n_events") == hot)
    assert(hotRow.getAs[String]("timeline").count(_ == '>') <
      graft.operators.Cohort.TIMELINE_CAP)
  }

  test("registerViews points SQL at the LAST registered dir (dir switch)") {
    Tables.registerViews(spark, sfDir)
    val n1 = spark.sql("SELECT COUNT(*) FROM documents").head().getLong(0)
    assert(n1 == Tables.documents(spark, sfDir).count())
    // re-registering the same dir re-reads ten footers (no Spark job,
    // TablesSpec pins it) and must keep the views working
    Tables.registerViews(spark, sfDir)
    assert(spark.sql("SELECT COUNT(*) FROM documents").head().getLong(0) == n1)
  }
}
