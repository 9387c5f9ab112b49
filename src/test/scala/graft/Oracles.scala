package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.hyperplaneRows
import graft.operators.Similarity

/** Reference formulations the specs check the engine against. Each is
  * the plain-Catalyst form an optimized operator replaced; none is used
  * by the engine itself.
  */
object Oracles {

  /** Dot product for a KNOWN dimension, unrolled into a flat left-
    * associated double expression: the form [[graft.functions.FloatVecDot]]
    * must match bit for bit, and the Spark twin of the DuckDB oracle's
    * `VectorFunctions.sqlDotFixed`.
    */
  def dotFixed(a: String, b: String, dim: Int): Column = expr(
    (0 until dim).map(i =>
      s"(CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE))").mkString(" + "))

  def cosineFromNormsFixed(a: String, b: String, normA: Column, normB: Column,
      dim: Int): Column =
    dotFixed(a, b, dim) / sqrt(normA * normB)

  /** The pre-r16 sign-LSH bucketing of `Similarity.bucketsOf`: explode
    * vectors to (vec, dim, x) rows, broadcast-join the 4096-row
    * hyperplane table, then a decimal(18,12) dot per (vec, tbl, bit)
    * and the sign bits packed per (vec, tbl).
    */
  def bucketsOfSql(s: SparkSession, vecs: DataFrame): DataFrame = {
    import s.implicits._
    import Similarity.{DIM, NBITS, SEED, TABLES}
    val planes = broadcast(hyperplaneRows(DIM, TABLES, NBITS, SEED)
      .toDF("tbl", "bit", "dim", "hval"))
    vecs
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .join(planes, "dim")
      .groupBy(col("vec_id"), col("tbl"), col("bit"))
      .agg(sum((col("x").cast("double") * col("hval"))
        .cast("decimal(18,12)")).as("dot"))
      .groupBy(col("vec_id"), col("tbl"))
      .agg(sum(when(col("dot") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(0L)).as("bucket"))
  }
}
