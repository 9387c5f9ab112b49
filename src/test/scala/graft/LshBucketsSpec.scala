package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** The r16 loop-codegen'd LSH bucketing ([[graft.functions.LshSignBuckets]])
  * must produce EXACTLY the bucket codes of the exploded plane-join +
  * decimal-sum SQL chain it replaced — code equality over every
  * (vec_id, tbl) of the corpus, plus the edge semantics the SQL chain
  * defined (sum skips null products).
  */
class LshBucketsSpec extends SparkSpec {

  private def codes(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  test("lshSignBuckets equals the exploded decimal plane-join chain, corpus-wide") {
    val e = Tables.embeddings(spark, sfDir)
    val fast = codes(Similarity.bucketsOf(spark, e))
    val sql = codes(Oracles.bucketsOfSql(spark, e))
    assert(fast.nonEmpty, "bucketing produced no rows")
    assert(fast == sql,
      s"bucket codes diverge: ${(fast diff sql).take(5)} vs ${(sql diff fast).take(5)}")
  }

  test("lshSignBuckets matches the chain on a sliced/offset (non-zero-based) array") {
    // slice() produces an array backed at a non-zero offset — the
    // in-place byte reader must not assume a fresh array
    val e = Tables.embeddings(spark, sfDir).limit(50)
      .select(col("vec_id"), slice(concat(array(lit(9.5f)), col("embedding")), 2, 64)
        .as("embedding"))
    assert(codes(Similarity.bucketsOf(spark, e)) ==
      codes(Oracles.bucketsOfSql(spark, e)))
  }

  test("interpreted eval matches codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val v = (0 until 64).map(i => (math.sin(i + 1) * 3).toFloat)
    val ex = graft.functions.LshSignBuckets(
      Literal.create(v, ArrayType(FloatType)), 64, 16, 4, 42L)
    val interp = ex.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
    import spark.implicits._
    val viaPlan = Seq(Tuple1(v)).toDF("embedding")
      .select(graft.functions.VectorFunctions
        .lshSignBuckets(col("embedding"), 64, 16, 4, 42L).as("b"))
      .collect()(0).getSeq[Long](0)
    assert(interp == viaPlan)
  }
}
