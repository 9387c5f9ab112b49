package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.functions.FloatVecDot
import graft.functions.VectorFunctions.vecDot
import graft.Oracles.dotFixed

/** FloatVecDot — the loop-codegen'd dot — must be BIT-identical to the
  * unrolled dotFixed chain (the oracle's sqlDotFixed mirrors that
  * chain, so every oracle-checked cosine depends on this equality).
  */
class VecDotSpec extends SparkSpec {

  test("vecDot is bit-identical to dotFixed on every corpus vector pair sample") {
    val e = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    // self-dots: every vector
    val both = e.select(col("vec_id"),
      dotFixed("embedding", "embedding", 64).as("u"),
      vecDot("embedding", "embedding", 64).as("l")).collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        s"vec ${r.getLong(0)}: ${r.getDouble(1)} != ${r.getDouble(2)}")
    }
    // cross pairs: a bucketed self-join sample
    val a = e.toDF("ia", "ea")
    val b = e.toDF("ib", "eb")
    val pairs = a.join(b, pmod(col("ia"), lit(25)) === pmod(col("ib"), lit(25)))
      .filter(col("ia") < col("ib"))
      .select(dotFixed("ea", "eb", 64).as("u"), vecDot("ea", "eb", 64).as("l"))
      .collect()
    assert(pairs.length > 1000)
    pairs.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
  }

  test("FloatVecDot interpreted path and edge semantics match the unrolled form") {
    def lit(xs: Seq[Any]) = Literal.create(xs, ArrayType(FloatType))
    val v = Seq(1.5f, -2.25f, 3.0f, 0.125f)
    // interpreted eval (foldable literals): same left-to-right sum
    val got = FloatVecDot(lit(v), lit(v), 4).eval(null).asInstanceOf[Double]
    var expect = 0.0
    v.foreach(x => expect += x.toDouble * x.toDouble)
    assert(java.lang.Double.doubleToRawLongBits(got) ==
      java.lang.Double.doubleToRawLongBits(expect))
    // null array -> null; null ELEMENT -> null (as a null unrolled term
    // would null the whole sum)
    assert(FloatVecDot(Literal.create(null, ArrayType(FloatType)), lit(v), 4)
      .eval(null) == null)
    assert(FloatVecDot(lit(Seq(1.0f, null, 2.0f, 3.0f)), lit(v), 4)
      .eval(null) == null)
    // arrays shorter than dim throw (ANSI GetArrayItem parity)
    intercept[IllegalArgumentException] {
      FloatVecDot(lit(v.take(2)), lit(v), 4).eval(null)
    }
  }

  test("a sum of negative zeros keeps its sign, as the unrolled fold does") {
    import spark.implicits._
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    // products -0.0 and -0.0: the unrolled chain adds them to -0.0; a
    // loop started at +0.0 would return +0.0. repartition keeps the
    // projection off the local-relation fold, so codegen runs it.
    val r = Seq((Seq(-0.0f, 0.0f), Seq(1.0f, -1.0f))).toDF("a", "b")
      .repartition(1)
      .select(dotFixed("a", "b", 2), vecDot("a", "b", 2)).head()
    assert(bits(r.getDouble(0)) == bits(-0.0))
    assert(bits(r.getDouble(1)) == bits(-0.0))
    val interp = FloatVecDot(
      Literal.create(Seq(-0.0f, 0.0f), ArrayType(FloatType)),
      Literal.create(Seq(1.0f, -1.0f), ArrayType(FloatType)), 2).eval(null)
    assert(bits(interp.asInstanceOf[Double]) == bits(-0.0))
  }
}
