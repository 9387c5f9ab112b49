package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Fixed-order dot product of two numeric arrays as ONE loop-codegen'd
  * Catalyst expression — the engine's one dot product (Scala operators
  * via [[VectorFunctions.vecDot]], SQL via `graft_dot`).
  *
  * It replaced the unrolled form, which chained 64 `GetArrayItem` terms
  * into a ~770-node expression tree: bit-exact and fine when evaluated
  * once per ROW, but a pair operator evaluates its cosine per candidate
  * PAIR, and Catalyst can inline the giant expression into several
  * operators (null-check filter, threshold filter, output projection) —
  * measured ~3 evaluations x ~1 µs each over 3M candidate pairs in d05b
  * (~9 s of pure expression walking). The unrolled form's GENERATED
  * SOURCE is the other cost (r16): a plan inlining several 770-node
  * dots compiles to a janino source large enough that, across a
  * many-plan query like s12, the 100-entry codegen cache thrashes and
  * tasks burn their time in CodeGenerator.compile. This expression is
  * the same arithmetic as a 5-line loop: identical LEFT-TO-RIGHT
  * accumulation order, started from -0.0 (the exact additive identity,
  * so even a signed-zero sum matches), so results are BIT-IDENTICAL to
  * the unrolled form and to [[VectorFunctions.sqlDotFixed]] (the oracle
  * relies on that; the unrolled form survives as the specs'
  * `Oracles.dotFixed`), at ~100x fewer expression nodes per evaluation
  * and ~100x less generated source.
  *
  * Element types: each side independently float, double, int or long —
  * every element is widened to double exactly as the unrolled form's
  * `CAST(x[i] AS DOUBLE)` does (all four widenings are exact for the
  * values these columns hold; int/long appear in the SQ8 code path).
  *
  * Null semantics match the unrolled form: null inputs and null
  * elements yield null; arrays shorter than `dim` throw (as ANSI-mode
  * GetArrayItem would).
  */
case class FloatVecDot(left: Expression, right: Expression, dim: Int)
  extends BinaryExpression {

  require(dim > 0, "dim must be positive")

  private def okElt(t: DataType): Boolean = t match {
    case FloatType | DoubleType | IntegerType | LongType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(a, _), ArrayType(b, _)) if okElt(a) && okElt(b) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"float_vec_dot needs two array<float|double|int|long> inputs, got $other")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "float_vec_dot"

  private def boundsCheck(n: Int): Unit =
    if (n < dim) throw new IllegalArgumentException(
      s"float_vec_dot: array has $n elements, needs >= $dim")

  private def eltOf(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  private def get(a: ArrayData, t: DataType, i: Int): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case DoubleType => a.getDouble(i)
    case IntegerType => a.getInt(i).toDouble
    case LongType => a.getLong(i).toDouble
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (tx, ty) = (eltOf(left), eltOf(right))
    boundsCheck(x.numElements()); boundsCheck(y.numElements())
    var acc = -0.0
    var i = 0
    while (i < dim) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += get(x, tx, i) * get(y, ty, i)
      i += 1
    }
    acc
  }

  private def getJava(arr: String, t: DataType, i: String): String = t match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case DoubleType => s"$arr.getDouble($i)"
    case IntegerType => s"(double) $arr.getInt($i)"
    case LongType => s"(double) $arr.getLong($i)"
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |if ($a.numElements() < $dim || $b.numElements() < $dim) {
         |  throw new IllegalArgumentException(
         |    "float_vec_dot: arrays need >= $dim elements, got " +
         |      $a.numElements() + " and " + $b.numElements());
         |}
         |double $acc = -0.0;
         |for (int $i = 0; $i < $dim; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $acc += ${getJava(a, eltOf(left), i)} * ${getJava(b, eltOf(right), i)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}
