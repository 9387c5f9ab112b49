package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Add
import org.apache.spark.sql.catalyst.expressions.aggregate.{ApproximatePercentile, HyperLogLogPlusPlus, Percentile}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._

import graft.functions.{FloatVecDot, RollingFingerprint}
import graft.operators.Relational

/** GraftExtensions: SQL-registered functions + the ApproxAtScale rule.
  * The shared test session is built with
  * `spark.sql.extensions=graft.GraftExtensions` — the same registration
  * a cluster deployment uses.
  */
class ExtensionsSpec extends SparkSpec {

  private def has[T](df: DataFrame, pf: PartialFunction[Any, T]): Boolean =
    df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }
      .flatMap(_.aggregateExpressions)
      .exists(_.collect(pf).nonEmpty)

  test("graft_fingerprint is callable from SQL and equals the Column API") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.createOrReplaceTempView("ext_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, graft_fingerprint(text) AS fp FROM ext_docs")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaApi = docs.select(col("doc_id"),
      RollingFingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql.nonEmpty && viaSql == viaApi)
    // explicit window/base arguments reach the expression
    val custom = spark.sql(
      "SELECT graft_fingerprint('abcdefghij', 4, 31) AS fp").head().getLong(0)
    val expected = RollingFingerprint.fingerprint(
      "abcdefghij".getBytes("UTF-8"), 4, 31L)
    assert(custom == expected)
  }

  test("graft_dot from SQL is bit-equal to the Scala dotFixed operator") {
    val emb = Tables.embeddings(spark, sfDir)
    emb.createOrReplaceTempView("ext_emb")
    // a SQL self-dot must produce the IDENTICAL doubles the operators
    // compute — same fixed-order sum, same IEEE ops
    val df = spark.sql(
      "SELECT vec_id, graft_dot(embedding, embedding, 64) AS d FROM ext_emb")
    val bits = java.lang.Double.doubleToRawLongBits _
    val viaSql = df.collect().map(r => r.getLong(0) -> bits(r.getDouble(1))).toMap
    val viaApi = emb.select(col("vec_id"),
      Oracles.dotFixed("embedding", "embedding", 64).as("d"))
      .collect().map(r => r.getLong(0) -> bits(r.getDouble(1))).toMap
    assert(viaSql.nonEmpty && viaSql == viaApi)
    // the loop form, not the ~770-node unrolled chain
    val exprs = df.queryExecution.analyzed.expressions
    assert(exprs.map(_.collect { case d: FloatVecDot => d }.size).sum == 1)
    assert(exprs.forall(_.collect { case a: Add => a }.isEmpty))
  }

  test("graft_dot reads decimal, short and byte arrays as the unrolled chain did") {
    // FloatVecDot reads float/double/int/long; other numeric arrays are
    // cast to array<double> first: the same per-element conversion
    val df = spark.sql("""SELECT
      array(CAST(1.25 AS DECIMAL(10,4)), CAST(-2.5 AS DECIMAL(10,4)), CAST(0.1 AS DECIMAL(10,4))) AS dec,
      array(CAST(3 AS SMALLINT), CAST(-4 AS SMALLINT), CAST(5 AS SMALLINT)) AS sh,
      array(CAST(7 AS TINYINT), CAST(8 AS TINYINT), CAST(-9 AS TINYINT)) AS by""")
      .repartition(1)
    for ((a, b) <- Seq("dec" -> "dec", "sh" -> "sh", "by" -> "by",
        "dec" -> "sh", "sh" -> "by")) {
      val r = df.selectExpr(s"graft_dot($a, $b, 3)").head().getDouble(0)
      val want = df.select(Oracles.dotFixed(a, b, 3)).head().getDouble(0)
      assert(java.lang.Double.doubleToRawLongBits(r) ==
        java.lang.Double.doubleToRawLongBits(want), s"$a . $b: $r vs $want")
    }
    // non-numeric elements are rejected at analysis, naming the rule
    val e = intercept[Exception](
      spark.sql("SELECT graft_dot(array('a'), array('b'), 1)").collect())
    assert(e.getMessage.contains("float_vec_dot needs two array<float|double|int|long>"))
  }

  test("ApproxAtScale is inert while spark.graft.approx is unset") {
    val df = Relational.q15(spark, sfDir)
    assert(has(df, { case p: Percentile => p }))
    assert(!has(df, { case p: ApproximatePercentile => p }))
  }

  test("spark.graft.approx=true rewrites percentile to the GK sketch") {
    val exact = Relational.q15(spark, sfDir).collect()
      .map(r => r.getString(0) -> Seq(1, 2, 3, 4).map(r.getDouble)).toMap
    spark.conf.set("spark.graft.approx", "true")
    try {
      val df = Relational.q15(spark, sfDir)
      assert(has(df, { case p: ApproximatePercentile => p }))
      assert(!has(df, { case p: Percentile => p }))
      val approx = df.collect()
        .map(r => r.getString(0) -> Seq(1, 2, 3, 4).map(r.getDouble)).toMap
      assert(approx.keySet == exact.keySet)
      // exact percentile INTERPOLATES between order statistics; the GK
      // sketch returns an observed value — on small groups they differ
      // by up to one inter-order-statistic gap, not the sketch accuracy
      for (k <- exact.keys; (e, a) <- exact(k).zip(approx(k)))
        assert(math.abs(e - a) <= math.abs(e) * 0.05 + 1e-6,
          s"$k: exact $e vs approx $a")
    } finally spark.conf.unset("spark.graft.approx")
  }

  test("percentile rewrite preserves the result type for non-double columns") {
    // Percentile always yields double; ApproximatePercentile yields its
    // child's type — the rule must cast, or an int-column rewrite
    // corrupts the resolved plan's dataType
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    def q(): DataFrame = orders.groupBy("o_orderstatus")
      .agg(expr("percentile(o_orderkey, 0.5)").as("med_key"))
    val exact = q().collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    spark.conf.set("spark.graft.approx", "true")
    try {
      val df = q()
      assert(has(df, { case p: ApproximatePercentile => p }))
      assert(df.schema("med_key").dataType.typeName == "double")
      val approx = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      for ((k, e) <- exact)
        assert(math.abs(approx(k) - e) <= math.abs(e) * 0.05 + 1.0,
          s"$k: exact $e vs approx ${approx(k)}")
    } finally spark.conf.unset("spark.graft.approx")
  }

  test("graft_cohort table function runs a c13-shaped cohort entirely in SQL") {
    import graft.operators.{Panels, PanelsJson}
    Tables.registerViews(spark, sfDir)
    val doc = PanelsJson.toJson(Panels.c13Def).replace("'", "''")
    // pure SQL, no Scala in the query: the analyst face
    val viaSql = spark.sql(
      s"SELECT user_id, p0, p1 FROM graft_cohort('$doc') ORDER BY user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val viaApi = Panels.c13(spark, sfDir)
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viaSql.nonEmpty && viaSql == viaApi)
    // the spliced plan is the SAME one-pass compile: exactly one
    // Aggregate over the fact scan, no self-joins
    val aggs = spark.sql(s"SELECT * FROM graft_cohort('$doc')")
      .queryExecution.optimizedPlan.collect { case a: Aggregate => a }
    assert(aggs.size == 1, s"expected the one-pass panel aggregate, got $aggs")
  }

  test("graft_cohort accepts the i2b2-shaped XML dialect too") {
    import graft.operators.{Panels, PanelsXml}
    Tables.registerViews(spark, sfDir)
    val doc = PanelsXml.toXml(Panels.c13Def).replace("'", "''")
    val viaXml = spark.sql(
      s"SELECT user_id, p0, p1 FROM graft_cohort('$doc') ORDER BY user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val viaApi = Panels.c13(spark, sfDir).orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viaXml.nonEmpty && viaXml == viaApi)
  }

  test("graft_cohort supports encounter scope and an explicit fact view") {
    import graft.operators.{Panels, PanelsJson}
    Tables.registerViews(spark, sfDir)
    // c14's encounter-scoped definition: the TVF must auto-derive
    // encounter_id (the source view has no such column)
    val doc = PanelsJson.toJson(Panels.c14Def).replace("'", "''")
    val viaSql = spark.sql(
      s"SELECT * FROM graft_cohort('$doc', 'events') ORDER BY user_id")
      .collect().map(_.getLong(0)).toSeq
    val viaApi = Panels.c14(spark, sfDir).orderBy("user_id")
      .collect().map(_.getLong(0)).toSeq
    assert(viaSql.nonEmpty && viaSql == viaApi)
  }

  test("graft_cohort rejects malformed calls loudly") {
    Tables.registerViews(spark, sfDir)
    // non-literal definition: the definition shapes the plan, so it
    // cannot come from a column
    val e1 = intercept[Exception](spark.sql(
      "SELECT * FROM graft_cohort(upper('x'))").collect())
    assert(e1.getMessage.contains("string literal"))
    // a typo'd key must fail parsing (PanelsJson strict keys), not
    // silently change semantics
    val e2 = intercept[Exception](spark.sql(
      """SELECT * FROM graft_cohort('{"panels":[{"concepts":[{"eventType":"click"}],"negate":true}]}')""")
      .collect())
    assert(e2.getMessage.contains("unknown field"))
  }

  test("spark.graft.approx=true rewrites COUNT(DISTINCT) to HyperLogLog++") {
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    def q(): DataFrame = events.groupBy("event_type")
      .agg(countDistinct("user_id").as("users"))
    val exact = q().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.conf.set("spark.graft.approx", "true")
    try {
      val df = q()
      assert(has(df, { case h: HyperLogLogPlusPlus => h }))
      val approx = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(approx.keySet == exact.keySet)
      for ((k, e) <- exact)
        assert(math.abs(approx(k) - e) <= math.max(2.0, e * 0.1),
          s"$k: exact $e vs hll ${approx(k)}")
    } finally spark.conf.unset("spark.graft.approx")
  }
}
