package graft

import graft.operators.{Panels, PanelsJson, PanelsXml}
import graft.operators.Panels.{Concept, CohortDef, EncounterScope, Panel}
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

case class PanelEv(user_id: Long, event_id: Long, ts: Timestamp,
    event_type: String, value: Double)

class PanelsSpec extends SparkSpec {

  private def ev(u: Long, id: Long, day: Int, t: String, v: Double = 10.0) =
    PanelEv(u, id, Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"), t, v)

  private lazy val frame = {
    import spark.implicits._
    Seq(
      // user 1: 2 purchases + 1 view, no error -> in (purchase>=2 & !error)
      ev(1, 1, 1, "purchase"), ev(1, 2, 2, "purchase"), ev(1, 3, 3, "view"),
      // user 2: 2 purchases but an error -> excluded by NOT panel
      ev(2, 4, 1, "purchase"), ev(2, 5, 2, "purchase"), ev(2, 6, 3, "error"),
      // user 3: 1 purchase only -> fails occurrence bound
      ev(3, 7, 1, "purchase"), ev(3, 8, 2, "view"),
      // user 4: high-value purchases outside window -> window excludes
      ev(4, 9, 20, "purchase", 500.0), ev(4, 10, 21, "purchase", 500.0)
    ).toDF()
  }

  test("occurrence bound, negation and OR semantics on a hand-built frame") {
    val cd = CohortDef(Seq(
      Panel(Seq(Concept("purchase"), Concept("signup")), minOccurrences = 2),
      Panel(Seq(Concept("error")), negated = true)))
    val users = Panels.cohort(frame, cd).collect().map(_.getLong(0)).toSet
    assert(users == Set(1L, 4L))
  }

  test("observation window excludes out-of-window events") {
    val cd = CohortDef(Seq(Panel(Seq(Concept("purchase")), minOccurrences = 2)),
      from = Some("2024-01-01"), until = Some("2024-01-10"))
    val users = Panels.cohort(frame, cd).collect().map(_.getLong(0)).toSet
    assert(users == Set(1L, 2L), "user 4's purchases are outside the window")
  }

  test("value constraint filters concept matches") {
    val cd = CohortDef(Seq(
      Panel(Seq(Concept("purchase", minValue = Some(100.0))), minOccurrences = 2)))
    val users = Panels.cohort(frame, cd).collect().map(_.getLong(0)).toSet
    assert(users == Set(4L))
  }

  test("categorical code and numeric-range constraints filter matches") {
    import spark.implicits._
    val f = Seq(
      // user 1: purchase in [50,150) + click with code "7" -> qualifies
      (1L, 1L, Timestamp.valueOf("2024-01-01 12:00:00"), "purchase", 99.0, """{"k": 3}"""),
      (1L, 2L, Timestamp.valueOf("2024-01-02 12:00:00"), "click", 1.0, """{"k": 7}"""),
      // user 2: purchase out of range (>= 150)
      (2L, 3L, Timestamp.valueOf("2024-01-01 12:00:00"), "purchase", 150.0, """{"k": 3}"""),
      (2L, 4L, Timestamp.valueOf("2024-01-02 12:00:00"), "click", 1.0, """{"k": 7}"""),
      // user 3: click code not in the allowed set
      (3L, 5L, Timestamp.valueOf("2024-01-01 12:00:00"), "purchase", 99.0, """{"k": 3}"""),
      (3L, 6L, Timestamp.valueOf("2024-01-02 12:00:00"), "click", 1.0, """{"k": 99}""")
    ).toDF("user_id", "event_id", "ts", "event_type", "value", "props")
    val cd = CohortDef(Seq(
      Panel(Seq(Concept("purchase", minValue = Some(50.0), maxValue = Some(150.0)))),
      Panel(Seq(Concept("click", codeIn = Some(Seq("7", "8")))))))
    val users = Panels.cohort(f, cd).collect().map(_.getLong(0)).toSet
    assert(users == Set(1L))
  }

  test("modifier subtree constraint filters on the joined modifier path") {
    import spark.implicits._
    val f = Seq(
      // user 1: purchase with code 35 -> path /mod/g3/35/ -> qualifies
      (1L, 1L, Timestamp.valueOf("2024-01-01 12:00:00"), "purchase", 10.0, """{"k": 35}"""),
      // user 2: purchase code 45 -> /mod/g4/45/ — outside the subtree
      (2L, 2L, Timestamp.valueOf("2024-01-01 12:00:00"), "purchase", 10.0, """{"k": 45}"""),
      // user 3: code "3" -> /mod/g0/3/ — a '/mod/g3' prefix WITHOUT the
      // trailing slash would wrongly match '/mod/g3...'? no: g0 != g3;
      // the real boundary case is code 3 vs subtree g3 — must NOT match
      (3L, 3L, Timestamp.valueOf("2024-01-01 12:00:00"), "purchase", 10.0, """{"k": 3}"""),
      // user 4: code absent from the dimension -> null path, constraint
      // fails, but the unconstrained click panel still sees the row
      (4L, 4L, Timestamp.valueOf("2024-01-01 12:00:00"), "purchase", 10.0, """{"k": 1000}"""),
      (4L, 5L, Timestamp.valueOf("2024-01-01 12:05:00"), "click", 1.0, """{"k": 35}""")
    ).toDF("user_id", "event_id", "ts", "event_type", "value", "props")
    val withMod = Panels.withModifiers(f, Panels.modifierDim(spark))
    val constrained = CohortDef(Seq(
      Panel(Seq(Concept("purchase", modifierPrefix = Some("/mod/g3/"))))))
    assert(Panels.cohort(withMod, constrained)
      .collect().map(_.getLong(0)).toSet == Set(1L))
    // user 4's unknown code must not drop the row for OTHER panels
    val clicks = CohortDef(Seq(Panel(Seq(Concept("click")))))
    assert(Panels.cohort(withMod, clicks)
      .collect().map(_.getLong(0)).toSet == Set(4L))
    // the dimension join must be broadcast — no fact shuffle for it
    val plan = Panels.cohort(withMod, constrained)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"modifier dim must broadcast:\n$plan")
    // a modifier definition against a frame that never went through
    // withModifiers must fail fast with an actionable message, not an
    // unresolved-column error deep in the aggregate
    val err = intercept[IllegalArgumentException] {
      Panels.cohort(f, constrained)
    }
    assert(err.getMessage.contains("withModifiers"))
  }

  test("encounter scope excludes concepts split across visits") {
    import spark.implicits._
    val f = Seq(
      // user 1: purchase + click inside ONE visit -> qualifies
      (1L, 1L, Timestamp.valueOf("2024-01-01 12:00:00"), "purchase", 10.0, 1L),
      (1L, 2L, Timestamp.valueOf("2024-01-01 12:05:00"), "click", 1.0, 1L),
      // user 2: purchase in visit 1, click in visit 2 -> patient-scope
      // only; the same-encounter conjunction must exclude it
      (2L, 3L, Timestamp.valueOf("2024-01-01 12:00:00"), "purchase", 10.0, 1L),
      (2L, 4L, Timestamp.valueOf("2024-01-03 12:00:00"), "click", 1.0, 2L)
    ).toDF("user_id", "event_id", "ts", "event_type", "value", "encounter_id")
    val panels = Seq(
      Panel(Seq(Concept("purchase"))), Panel(Seq(Concept("click"))))
    val patient = Panels.cohort(f, CohortDef(panels))
      .collect().map(_.getLong(0)).toSet
    val encounter = Panels.cohort(f, CohortDef(panels, scope = EncounterScope))
      .collect().map(_.getLong(0)).toSet
    assert(patient == Set(1L, 2L))
    assert(encounter == Set(1L), "cross-visit user 2 must be excluded")
  }

  test("perEncounter occurrence counts distinct visits, not raw events") {
    import spark.implicits._
    val f = Seq(
      // user 1: 3 purchases but all inside ONE visit -> fails >= 2 visits
      (1L, 1L, Timestamp.valueOf("2024-01-01 12:00:00"), "purchase", 10.0, 1L),
      (1L, 2L, Timestamp.valueOf("2024-01-01 12:05:00"), "purchase", 10.0, 1L),
      (1L, 3L, Timestamp.valueOf("2024-01-01 12:10:00"), "purchase", 10.0, 1L),
      // user 2: 2 purchases in 2 separate visits -> qualifies
      (2L, 4L, Timestamp.valueOf("2024-01-01 12:00:00"), "purchase", 10.0, 1L),
      (2L, 5L, Timestamp.valueOf("2024-01-03 12:00:00"), "purchase", 10.0, 2L)
    ).toDF("user_id", "event_id", "ts", "event_type", "value", "encounter_id")
    val perVisit = CohortDef(Seq(
      Panel(Seq(Concept("purchase")), minOccurrences = 2, perEncounter = true)))
    val raw = CohortDef(Seq(
      Panel(Seq(Concept("purchase")), minOccurrences = 2)))
    assert(Panels.cohort(f, perVisit).collect().map(_.getLong(0)).toSet == Set(2L))
    assert(Panels.cohort(f, raw).collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("cohort() is visit-definition independent: derived == explicit when they agree") {
    import spark.implicits._
    // a frame whose 30-min sessionization induces EXACTLY the visits
    // the explicit encounter_id column records (gaps within a visit
    // < 30 min, between visits > 30 min) — the i2b2-migration claim:
    // swapping the derived rule for a real visit_dimension changes
    // nothing about what the panel compiler computes
    val f = Seq(
      (1L, 1L, Timestamp.valueOf("2024-01-01 12:00:00"), "purchase", 150.0, 1L),
      (1L, 2L, Timestamp.valueOf("2024-01-01 12:10:00"), "click", 1.0, 1L),
      (1L, 3L, Timestamp.valueOf("2024-01-01 14:00:00"), "purchase", 150.0, 2L),
      (2L, 4L, Timestamp.valueOf("2024-01-01 12:00:00"), "purchase", 150.0, 1L),
      (2L, 5L, Timestamp.valueOf("2024-01-02 12:00:00"), "click", 1.0, 2L),
      (3L, 6L, Timestamp.valueOf("2024-01-01 09:00:00"), "click", 1.0, 1L),
      (3L, 7L, Timestamp.valueOf("2024-01-01 09:20:00"), "purchase", 150.0, 1L)
    ).toDF("user_id", "event_id", "ts", "event_type", "value", "encounter_id")
    val cd = CohortDef(Seq(
      Panel(Seq(Concept("purchase", minValue = Some(100.0)))),
      Panel(Seq(Concept("click")))), scope = EncounterScope)
    val explicit = Panels.cohort(f, cd)
      .collect().map(_.toSeq).toSet
    val derived = Panels.cohort(
      Panels.withEncounters(f.drop("encounter_id")), cd)
      .collect().map(_.toSeq).toSet
    assert(explicit == derived, s"explicit $explicit vs derived $derived")
    assert(explicit.map(_.head) == Set(1L, 3L))
  }

  test("c14c explicit-encounter plan carries no window (visit id is data)") {
    val plan = Panels.c14c(spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"session derivation leaked in:\n$plan")
  }

  // -- cohort() sessionizes after the date window ------------------------

  private type Fact = (Long, Long, Timestamp, String, Double, String)
  private val T0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  // a 15-minute grid: equal-ts ties, exactly-30-min gaps (same visit)
  // and 45-min gaps (a new visit) all occur
  private val STEP_MS = 15L * 60 * 1000
  private def at(step: Int) = new Timestamp(T0 + step * STEP_MS)
  private val types = Seq("a", "b", "c")

  // Some in `some` of `outOf` draws: with every constraint set, most
  // cohorts come out empty and the comparison shows nothing
  private def sometimes[T](g: Gen[T], some: Int, outOf: Int): Gen[Option[T]] =
    Gen.frequency(some -> g.map(Some(_)), (outOf - some) -> Gen.const(None))

  private val factsGen: Gen[Seq[Fact]] = for {
    n <- Gen.choose(10, 50)
    rows <- Gen.listOfN(n, for {
      u <- Gen.choose(1L, 4L)
      step <- Gen.choose(0, 24)
      t <- Gen.oneOf(types)
      v <- Gen.choose(0, 100)
      k <- Gen.choose(0, 5)
    } yield (u, step, t, v.toDouble, k))
  } yield {
    // user 9 is in every fixture: a tie at step 0, an exactly-30-min gap
    // to step 2, a 45-min gap to step 5
    val fixed = Seq((9L, 0, "a", 10.0, 1), (9L, 0, "b", 60.0, 2),
      (9L, 2, "a", 70.0, 1), (9L, 5, "c", 10.0, 3))
    (fixed ++ rows).zipWithIndex.map { case ((u, step, t, v, k), i) =>
      (u, i.toLong, at(step), t, v, s"""{"k": $k}""")
    }
  }

  private val conceptGen: Gen[Concept] = for {
    t <- Gen.oneOf(types)
    min <- sometimes(Gen.const(50.0), 1, 4)
    codes <- sometimes(Gen.someOf((0 to 5).map(_.toString)).map(_.toSeq), 1, 4)
  } yield Concept(t, minValue = min, codeIn = codes.filter(_.nonEmpty))

  private val panelGen: Gen[Panel] = for {
    cs <- Gen.choose(1, 2).flatMap(Gen.listOfN(_, conceptGen))
    minOcc <- Gen.choose(1L, 2L)
    neg <- Gen.frequency(1 -> true, 4 -> false)
    perEnc <- Gen.frequency(1 -> true, 2 -> false)
  } yield Panel(cs, minOccurrences = minOcc, negated = neg, perEncounter = perEnc)

  private val defGen: Gen[CohortDef] = for {
    ps <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, panelGen))
    window <- sometimes(for {
      a <- Gen.choose(0, 20)
      b <- Gen.choose(a + 1, 25)
    } yield (at(a).toString, at(b).toString), 2, 3)
    scope <- Gen.oneOf(Panels.PatientScope, EncounterScope)
  } yield CohortDef(ps, window.map(_._1), window.map(_._2), scope)

  test("cohort() sessionizing after the window == sessionizing the full history") {
    import spark.implicits._
    var nonEmpty = 0
    val cases = Prop.forAllNoShrink(factsGen, defGen,
        sometimes(Gen.someOf(Seq(1L, 2L, 3L, 9L)), 1, 3)) { (facts, cd, set) =>
      val f = facts.toDF("user_id", "event_id", "ts", "event_type", "value", "props")
      def run(ev: DataFrame) = set.map(_.toSeq.toDF("user_id"))
        .fold(Panels.cohort(ev, cd))(Panels.cohortWithPatientSet(ev, cd, _))
        .collect().map(_.toSeq).toSet
      // the reference: the composition cohort() replaced, visits derived
      // over every fact before the window is applied
      val (got, want) = (run(f), run(Panels.withEncounters(f)))
      if (want.nonEmpty) nonEmpty += 1
      (got == want) :| s"$cd over $set: got $got, want $want"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(50), cases)
    assert(res.passed, res.status.toString)
    assert(nonEmpty >= 15, s"only $nonEmpty of 50 cohorts were non-empty")
  }

  test("a windowed encounter definition filters ts below the visit Window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Window}
    val plan = Panels.c14b(spark, sfDir).queryExecution.optimizedPlan
    val w = plan.collectFirst { case w: Window => w }
      .getOrElse(fail(s"c14b derives no visits:\n$plan"))
    assert(w.child.exists {
      case Filter(c, _) => c.references.exists(_.name == "ts")
      case _ => false
    }, s"the date window must filter before sessionizing:\n$plan")
  }

  test("c14 encounter-scope cohort is a subset of its patient-scope twin") {
    val enc = Panels.c14(spark, sfDir).collect().map(_.getLong(0)).toSet
    val pat = Panels.cohort(Tables.events(spark, sfDir),
        Panels.c14Def.copy(scope = Panels.PatientScope))
      .collect().map(_.getLong(0)).toSet
    assert(enc.nonEmpty && enc.subsetOf(pat))
  }

  test("c13c panels over the patient-bucketed fact aggregate with no shuffle") {
    val bucketed = spark.table(Panels.ensureBucketedEvents(spark, sfDir))
    val df = Panels.cohort(bucketed, Panels.c13Def)
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange"),
      s"panel agg over bucketed fact must be shuffle-free:\n$plan")
    // identical cohort to the raw-layout path
    val viaRaw = Panels.c13(spark, sfDir).collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getLong(0)).toSet == viaRaw)
  }

  test("a JSON query document compiles to the same cohort as the Scala API") {
    val json =
      """{ "panels": [
        |    { "concepts": [ { "eventType": "purchase", "minValue": 100.0 },
        |                    { "eventType": "click" } ],
        |      "minOccurrences": 3 },
        |    { "concepts": [ { "eventType": "error" } ], "negated": true } ],
        |  "from": "2024-01-01", "until": "2024-01-08" }""".stripMargin
    assert(PanelsJson.parse(json) == Panels.c13Def)
    val viaJson = Panels.cohort(Tables.events(spark, sfDir),
      PanelsJson.parse(json)).collect().map(_.getLong(0)).toSet
    val viaApi = graft.operators.Panels.c13(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    assert(viaJson == viaApi && viaJson.nonEmpty)
  }

  test("cohort definitions round-trip through JSON exactly") {
    // exercise every field: value range, code set, occurrence, negation,
    // per-encounter occurrence, window, encounter scope
    val cd = CohortDef(Seq(
      Panel(Seq(Concept("purchase", minValue = Some(50.0),
        maxValue = Some(150.0), codeIn = Some(Seq("1", "2")),
        modifierPrefix = Some("/mod/g3/"))),
        minOccurrences = 2, perEncounter = true),
      Panel(Seq(Concept("error")), negated = true)),
      from = Some("2024-01-01"), until = Some("2024-01-15"),
      scope = EncounterScope)
    assert(PanelsJson.parse(PanelsJson.toJson(cd)) == cd)
    assert(PanelsJson.parse(PanelsJson.toJson(Panels.c13bDef)) == Panels.c13bDef)
    intercept[IllegalArgumentException] {
      PanelsJson.parse("""{ "panels": [ { "concepts": [
        | { "eventType": "x" } ] } ], "scope": "galaxy" }""".stripMargin)
    }
    // a typo'd key must be an ERROR, not a silently different cohort —
    // "negate" instead of "negated" would flip a NOT-panel to positive
    intercept[IllegalArgumentException] {
      PanelsJson.parse("""{ "panels": [ { "concepts": [
        | { "eventType": "error" } ], "negate": true } ] }""".stripMargin)
    }
    intercept[IllegalArgumentException] {
      PanelsJson.parse("""{ "panels": [ { "concepts": [
        | { "eventTyp": "error" } ] } ] }""".stripMargin)
    }
  }

  test("cohort definitions round-trip through the i2b2-shaped XML dialect") {
    // same full-coverage definition as the JSON round-trip
    val cd = CohortDef(Seq(
      Panel(Seq(Concept("purchase", minValue = Some(50.0),
        maxValue = Some(150.0), codeIn = Some(Seq("1", "2")),
        modifierPrefix = Some("/mod/g3/"))),
        minOccurrences = 2, perEncounter = true),
      Panel(Seq(Concept("error")), negated = true)),
      from = Some("2024-01-01"), until = Some("2024-01-15"),
      scope = EncounterScope)
    assert(PanelsXml.parse(PanelsXml.toXml(cd)) == cd)
    assert(PanelsXml.parse(PanelsXml.toXml(Panels.c13Def)) == Panels.c13Def)
    assert(PanelsXml.parse(PanelsXml.toXml(Panels.c13bDef)) == Panels.c13bDef)
    // typo'd ATTRIBUTE is an error, not a silently positive NOT-panel
    intercept[IllegalArgumentException] {
      PanelsXml.parse(
        """<cohort><panel negate="true">
          |<concept eventType="error"/></panel></cohort>""".stripMargin)
    }
    // unknown element and bad scope rejected too
    intercept[IllegalArgumentException] {
      PanelsXml.parse(
        "<cohort><panel><item eventType=\"x\"/></panel></cohort>")
    }
    intercept[IllegalArgumentException] {
      PanelsXml.parse(
        """<cohort scope="galaxy"><panel>
          |<concept eventType="x"/></panel></cohort>""".stripMargin)
    }
    // both wire dialects compile to the same cohort
    val viaXml = Panels.cohort(Tables.events(spark, sfDir),
      PanelsXml.parse(PanelsXml.toXml(Panels.c13Def)))
      .collect().map(_.getLong(0)).toSet
    val direct = Panels.c13(spark, sfDir).collect().map(_.getLong(0)).toSet
    assert(viaXml == direct && viaXml.nonEmpty)
  }

  test("result envelope round-trips the patient set + breakdown exactly") {
    import graft.operators.{Cohort, ResultEnvelope}
    val patients = Panels.c13(spark, sfDir)
    val breakdown = Cohort.c17(spark, sfDir)
    val doc = ResultEnvelope.render("panel_cohort", patients,
      Seq("demographics" -> breakdown))
    val got = ResultEnvelope.parse(doc)
    // the parsed document IS the DataFrames' content
    val wantIds = patients.collect().map(_.getLong(0)).toSeq.sorted
    assert(got.patientIds == wantIds)
    assert(got.setSize == wantIds.length && !got.truncated)
    assert(got.status == "FINISHED" && got.queryName == "panel_cohort")
    val wantBx = breakdown.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.breakdowns == Seq("demographics" -> wantBx))
    // bounded delivery: the id list pages, the true set size survives
    import spark.implicits._
    val five = Seq(5L, 1L, 4L, 2L, 3L).toDF("user_id")
    val paged = ResultEnvelope.parse(
      ResultEnvelope.render("paged", five, maxPatients = 2))
    assert(paged.patientIds == Seq(1L, 2L) && paged.truncated &&
      paged.setSize == 5L)
    // strict rejection: an unknown element must not be silently dropped
    intercept[IllegalArgumentException] {
      ResultEnvelope.parse(doc.replace("<patientSet", "<extra/><patientSet"))
    }
    // the saved-patient-set face (c23b's QT lifecycle) renders the same
    // envelope shape
    val saved = ResultEnvelope.parse(
      ResultEnvelope.render("saved_set", Panels.c23b(spark, sfDir)))
    assert(saved.setSize == saved.patientIds.length && saved.setSize > 0)
  }

  test("patient-set composition intersects cohorts with unchanged counts") {
    val standalone = Panels.c13(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    val set = graft.operators.Cohort.c01(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val composed = Panels.c23(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    // membership = intersection; panel counts identical to standalone
    assert(composed.keySet == (standalone.keySet intersect set))
    composed.foreach { case (u, row) => assert(row == standalone(u)) }
  }

  test("anchored panels count only inside [first anchor, anchor+N days)") {
    import spark.implicits._
    val f = Seq(
      // user 1: signup day 5; purchase day 3 (BEFORE anchor, excluded),
      // purchases days 6+7 (in window), purchase day 13 (>= anchor+7d,
      // excluded) -> p0 = 2, qualifies
      ev(1, 1, 5, "signup"), ev(1, 2, 3, "purchase"),
      ev(1, 3, 6, "purchase"), ev(1, 4, 7, "purchase"),
      ev(1, 5, 13, "purchase"),
      // user 2: two signups — anchor is the FIRST (day 2), so the day-10
      // purchase is outside [day2, day9) even though it is within 7
      // days of the second signup (day 8) -> p0 = 1, fails
      ev(2, 6, 2, "signup"), ev(2, 7, 8, "signup"),
      ev(2, 8, 10, "purchase"), ev(2, 9, 3, "purchase"),
      // user 3: no signup at all -> no anchor, never qualifies
      ev(3, 10, 1, "purchase"), ev(3, 11, 2, "purchase")
    ).toDF()
    val out = Panels.anchoredCohort(f, Concept("signup"), 7,
      Seq(Panel(Seq(Concept("purchase")), minOccurrences = 2)))
    assert(out.collect().map(_.getLong(0)).toSet == Set(1L))
    val p0 = out.filter($"user_id" === 1L).collect()(0)
      .getAs[Long]("p0")
    assert(p0 == 2, "pre-anchor and post-window purchases must not count")
  }

  test("anchored panels pay one shuffle: window and agg share user_id") {
    val df = Panels.anchoredCohort(
      Tables.events(spark, sfDir), Concept("signup"), 7,
      Seq(Panel(Seq(Concept("purchase")), minOccurrences = 2)))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val exchanges = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"anchor window and panel agg must share one user_id shuffle:\n$plan")
  }

  test("demographic constraint keeps a strict non-empty cohort subset") {
    // sf0.01 (the gate's SF): sf0.001's one-member cohort can't show
    // a strict AND non-empty subset at once
    val dir = "/root/testdata/sf0.01"
    val standalone = Panels.c13(spark, dir).collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    val qualifying = Panels.patients(
      graft.Tables.customer(spark, dir), Panels.c24Filter)
      .collect().map(_.getLong(0)).toSet
    val composed = Panels.c24(spark, dir).collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    assert(composed.keySet == (standalone.keySet intersect qualifying))
    assert(composed.nonEmpty && composed.size < standalone.size)
    composed.foreach { case (u, row) => assert(row == standalone(u)) }
  }

  test("c23b answers from the saved patient set without recomputing it") {
    val inline = Panels.c23(spark, sfDir).collect().map(_.toSeq)
    val saved = Panels.c23b(spark, sfDir)
    assert(saved.collect().map(_.toSeq).sameElements(inline),
      "the QT path must be row-exact vs the inline path")
    val plan = saved.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0) // AQE echoes the plan twice
    // ONE events scan (the panel compile) — the saved query is read
    // from its QT table, never re-aggregated from facts
    val nEventScans = "events\\.parquet".r.findAllIn(plan).length
    assert(nEventScans == 1,
      s"expected a single events scan, got $nEventScans:\n$plan")
    assert(plan.contains("qt_sets"),
      s"the patient set must come from the saved table:\n$plan")
  }

  test("c23c set algebra composes saved results like the inline paths") {
    // sf0.01 (the gate's SF), like the c24 test above: sf0.001's
    // one-member cohort makes c23 ∩ c24 vacuously empty, and a
    // non-vacuous composition is the point of the assertion
    val dir = "/root/testdata/sf0.01"
    val viaSets = Panels.c23c(spark, dir).collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    assert(viaSets.nonEmpty, "the composed cohort must be non-vacuous")
    val c23 = Panels.c23(spark, dir).collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    val c24 = Panels.c24(spark, dir).collect().map(_.getLong(0)).toSet
    // membership = c23 ∩ c24's members; counts = c23's (same panels,
    // same facts — the set only narrows WHO is evaluated)
    assert(viaSets.keySet == (c23.keySet intersect c24))
    viaSets.foreach { case (u, row) => assert(row == c23(u)) }
  }

  test("combineCohorts implements and/or/not over saved tables") {
    import spark.implicits._
    val tag = graft.Scratch.tag(sfDir)
    val a = Panels.saveCohort(spark, s"alg_a_$tag",
      Seq(1L, 2L, 3L).toDF("user_id"))
    val b = Panels.saveCohort(spark, s"alg_b_$tag",
      Seq(2L, 3L, 4L).toDF("user_id"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    assert(ids(Panels.combineCohorts(spark, "and", a, b)) == Set(2L, 3L))
    assert(ids(Panels.combineCohorts(spark, "or", a, b)) ==
      Set(1L, 2L, 3L, 4L))
    assert(ids(Panels.combineCohorts(spark, "not", a, b)) == Set(1L))
    intercept[IllegalArgumentException] {
      Panels.combineCohorts(spark, "xor", a, b)
    }
  }

  test("saveCohort is replay-stable: a re-save of a name is a no-op") {
    val name = s"replay_${graft.Scratch.tag(sfDir)}"
    val set = graft.operators.Cohort.c01Core(spark, sfDir)
      .select("user_id")
    val t = Panels.saveCohort(spark, name, set)
    val dir = new java.io.File(s"${graft.Scratch.dir}/qt_sets/$name")
    val listing = dir.listFiles().map(f => (f.getName, f.lastModified))
      .sortBy(_._1).toSeq
    // second save: same table, untouched files — even under a set
    // frame that would write different bytes
    val t2 = Panels.saveCohort(spark, name, set.limit(1))
    assert(t2 == t)
    val after = dir.listFiles().map(f => (f.getName, f.lastModified))
      .sortBy(_._1).toSeq
    assert(after == listing, "a saved result is immutable under replay")
  }

  test("the API reproduces c01 when given c01's definition") {
    val cd = CohortDef(Seq(
      Panel(Seq(Concept("signup"), Concept("view"))),
      Panel(Seq(Concept("purchase")), minOccurrences = 2),
      Panel(Seq(Concept("error")), negated = true)),
      from = Some("2024-01-01"), until = Some("2024-01-08"))
    val api = Panels.cohort(Tables.events(spark, sfDir), cd)
      .collect().map(_.getLong(0)).toSet
    val c01 = graft.operators.Cohort.c01(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    assert(api == c01)
  }

  test("c42 search hits compose into a panel (the webclient drag-to-panel)") {
    // the i2b2 flow: search the ontology by term, drag the hits into a
    // panel — the searched concept set must compile to the same cohort
    // as writing the concepts out by hand
    val hits = graft.operators.Cohort.searchConcepts(spark, "engagement")
      .collect().map(_.getAs[String]("event_type")).toSeq
    assert(hits.sorted == Seq("click", "view"))
    val viaSearch = Panels.cohort(Tables.events(spark, sfDir),
      CohortDef(Seq(Panel(hits.map(Concept(_))))))
      .collect().map(_.toSeq).toSet
    val explicit = Panels.cohort(Tables.events(spark, sfDir),
      CohortDef(Seq(Panel(Seq(Concept("click"), Concept("view"))))))
      .collect().map(_.toSeq).toSet
    assert(viaSearch == explicit && viaSearch.nonEmpty)
  }

  test("c46 attrition ladder: monotone, anchored to cohort(), one fact scan") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sfDir)
    val flow = Panels.attrition(ev, Panels.c46Def).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // a ladder only sheds patients: monotone non-increasing
    (1 to 3).foreach(i => assert(flow(i) <= flow(i - 1),
      s"step $i grew: ${flow(i)} > ${flow(i - 1)}"))
    // step 0 = everyone assessed (any fact in the window)
    val assessed = ev
      .filter(col("ts") >= lit("2024-01-01").cast("timestamp") &&
        col("ts") < lit("2024-01-08").cast("timestamp"))
      .select("user_id").distinct().count()
    assert(flow(0) == assessed)
    // the final step IS the cohort — and c46Def unrolls c01's criteria,
    // so the last rung must equal the independently oracle-checked c01
    assert(flow(3) == Panels.cohort(ev, Panels.c46Def).count())
    assert(flow(3) == graft.operators.Cohort.c01(spark, sfDir).count())
    assert(flow(3) > 0, "vacuous ladder — tighten the test definition")
    // the whole K-step ladder reads the fact table ONCE
    val plan = Panels.attrition(ev, Panels.c46Def)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 fact scan, got $scans:\n$plan")
  }
}
