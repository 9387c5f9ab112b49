package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, ApproximatePercentile, Count, HyperLogLogPlusPlus, Percentile}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType, NumericType, StringType}

import graft.functions.{FloatVecDot, RollingFingerprint}

/** Graft's `SparkSessionExtensions` hook — the deployment-facing
  * registration point (`spark.sql.extensions=graft.GraftExtensions`).
  * Two injections:
  *
  *  1. SQL function registration: `graft_fingerprint(text[, window[,
  *     base]])` exposes the codegen'd [[RollingFingerprint]] Catalyst
  *     expression to plain SQL users (the i2b2 webclient face of the
  *     reference is SQL-shaped; cf. /root/reference/generated/compose.yml
  *     — analysts talk to the warehouse in SQL, not Scala).
  *  2. [[ApproxAtScale]], an optimizer rule that turns the 100 TB
  *     "sketch instead of exact" decision into a session knob
  *     (`spark.graft.approx=true`): exact `percentile` becomes the
  *     mergeable constant-memory `approx_percentile` and single-column
  *     `COUNT(DISTINCT x)` becomes HyperLogLog++ — without touching
  *     query code. Default off, so the oracle gate always measures the
  *     exact path.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.fingerprintFunction)
    ext.injectFunction(GraftExtensions.dotFunction)
    ext.injectTableFunction(GraftExtensions.cohortTableFunction)
    ext.injectOptimizerRule(_ => ApproxAtScale)
  }
}

object GraftExtensions {
  private def longLit(fn: String, e: Expression, name: String): Long = e match {
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, LongType)   => v
    case other => throw new IllegalArgumentException(
      s"$fn: $name must be an integer literal, got $other")
  }

  private def intLit(fn: String, e: Expression, name: String): Int = {
    val v = longLit(fn, e, name)
    require(v > 0 && v <= Int.MaxValue,
      s"$fn: $name must be in (0, ${Int.MaxValue}], got $v")
    v.toInt
  }

  /** `graft_dot(a, b, dim)`: the engine's deterministic fixed-order dot
    * product for SQL users — the same loop-codegen'd [[FloatVecDot]] the
    * Scala operators use (VectorFunctions.vecDot), so a SQL re-rank
    * computes bit-equal cosines on any engine and any partitioning.
    * Arrays of the numeric types FloatVecDot does not read (decimal,
    * short, byte) are cast to array<double>: the same per-element
    * double conversion, so the same values. `dim` must be an int literal.
    */
  val dotFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[GraftExtensions].getName, "graft_dot"),
    (children: Seq[Expression]) => children match {
      case Seq(a, b, d) =>
        def read(e: Expression): Expression = e.dataType match {
          case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) => e
          case ArrayType(_: NumericType, n) => Cast(e, ArrayType(DoubleType, n))
          case _ => e // FloatVecDot's type check names what it accepts
        }
        FloatVecDot(read(a), read(b), intLit("graft_dot", d, "dim"))
      case _ => throw new IllegalArgumentException(
        s"graft_dot takes (array, array, dim-literal), got ${children.size} args")
    }
  )

  /** `graft_cohort('<definition>'[, '<factView>'])` — the panel
    * compiler as a SQL TABLE FUNCTION, the face i2b2 analysts use:
    * a cohort definition in either wire dialect, PanelsXml (the i2b2
    * query_definition's XML shape) or PanelsJson, placed in SQL:
    *
    * {{{
    * SELECT * FROM graft_cohort(
    *   '{"panels":[{"concepts":[{"eventType":"click"}]}]}')
    * }}}
    *
    * At resolution time the builder parses the definition and splices
    * in `Panels.cohort`'s logical plan over the fact view (default
    * `events`, cf. Tables.registerViews; any view with the events
    * schema): the plan the Scala API compiles, visits derived inside it
    * when the definition needs them. Both arguments must be string
    * literals — the definition shapes the PLAN (one aggregate column
    * per panel), so it cannot vary per row.
    */
  val cohortTableFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("graft_cohort"),
    new ExpressionInfo(classOf[GraftExtensions].getName, "graft_cohort"),
    (children: Seq[Expression]) => {
      def strLit(e: Expression, name: String): String = e match {
        case Literal(v: org.apache.spark.unsafe.types.UTF8String, StringType)
          if v != null => v.toString
        case other => throw new IllegalArgumentException(
          s"graft_cohort: $name must be a string literal, got $other")
      }
      val (json, factView) = children match {
        case Seq(j)    => (strLit(j, "definition"), "events")
        case Seq(j, t) => (strLit(j, "definition"), strLit(t, "factView"))
        case _ => throw new IllegalArgumentException(
          s"graft_cohort takes (definitionJson[, factView]), got ${children.size} args")
      }
      val spark = org.apache.spark.sql.SparkSession.active
      // both wire dialects: the i2b2-native XML (PanelsXml — the
      // reference's query_definition shape) and the JSON service face
      val cd =
        if (json.trim.startsWith("<")) graft.operators.PanelsXml.parse(json)
        else graft.operators.PanelsJson.parse(json)
      graft.operators.Panels.cohort(spark.table(factView), cd)
        .queryExecution.logical
    }
  )

  /** `graft_fingerprint(str)`, `(str, window)`, `(str, window, base)`. */
  val fingerprintFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_fingerprint"),
    new ExpressionInfo(classOf[RollingFingerprint].getName, "graft_fingerprint"),
    (children: Seq[Expression]) => children match {
      case Seq(c) =>
        RollingFingerprint(c, RollingFingerprint.DefaultWindow, RollingFingerprint.DefaultBase)
      case Seq(c, w) =>
        RollingFingerprint(c, intLit("graft_fingerprint", w, "window"),
          RollingFingerprint.DefaultBase)
      case Seq(c, w, b) =>
        RollingFingerprint(c, intLit("graft_fingerprint", w, "window"),
          longLit("graft_fingerprint", b, "base"))
      case _ => throw new IllegalArgumentException(
        s"graft_fingerprint takes 1-3 arguments, got ${children.size}")
    }
  )
}

/** When `spark.graft.approx=true`, rewrite exact aggregates whose state
  * is unbounded in the group size to their mergeable sketch twins:
  *
  *  - `percentile(x, p)` → `approx_percentile(x, p, accuracy)` — exact
  *    percentile buffers EVERY value of the group on one reducer; the
  *    GK sketch holds O(accuracy) per group regardless of group size.
  *  - `COUNT(DISTINCT x)` → HyperLogLog++ — exact distinct expands to a
  *    two-shuffle partial-distinct plan with per-key state; HLL++ is a
  *    constant 2^p-register buffer, map-side combinable in one shuffle.
  *
  * Only unambiguous cases rewrite: percentile with unit frequency and
  * no ordering reversal; COUNT(DISTINCT) over a single column with no
  * filter clause. The rewrite happens INSIDE `Aggregate` nodes only, so
  * window-function percentiles (frame semantics) are left alone. The
  * rule is idempotent — rewritten plans contain no `Percentile` /
  * distinct `Count` to match on the optimizer's next pass.
  *
  * Accuracy knobs: `spark.graft.approx.accuracy` (GK, default 10000 =
  * ApproximatePercentile's own default), `spark.graft.approx.rsd`
  * (HLL++ relative standard deviation, default 0.05).
  */
object ApproxAtScale extends Rule[LogicalPlan] {
  def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString("spark.graft.approx", "false").toBoolean) return plan
    val accuracy = conf.getConfString("spark.graft.approx.accuracy", "10000").toInt
    val rsd = conf.getConfString("spark.graft.approx.rsd", "0.05").toDouble
    plan.transform {
      case agg: Aggregate => agg.transformExpressions {
        case ae @ AggregateExpression(p: Percentile, _, false, _, _)
            if p.frequencyExpression == Literal(1L) && !p.reverse =>
          // Percentile's result is ALWAYS double, ApproximatePercentile's
          // is its child's type — cast the child so the rewrite preserves
          // the already-resolved plan's dataType for int/decimal inputs
          ae.copy(aggregateFunction =
            new ApproximatePercentile(Cast(p.child, DoubleType),
              p.percentageExpression, Literal(accuracy)))
        case ae @ AggregateExpression(c: Count, _, true, None, _)
            if c.children.size == 1 =>
          ae.copy(
            aggregateFunction = HyperLogLogPlusPlus(c.children.head, rsd, 0, 0),
            isDistinct = false)
      }
    }
  }
}
