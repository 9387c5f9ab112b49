package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns as codegen'd
  * Catalyst expressions — no UDFs, no higher-order lambdas.
  *
  * Determinism: every dot product FIXES its summation order (left to
  * right over the elements, [[FloatVecDot]]). IEEE double addition is
  * exact-reproducible for a fixed order, so the DuckDB oracle
  * ([[sqlDotFixed]]) and a 1000-executor cluster compute bit-equal
  * cosines.
  */
object VectorFunctions {

  /** The same unrolled dot as DuckDB SQL (1-based list indexing). */
  def sqlDotFixed(a: String, b: String, dim: Int): String =
    (1 to dim).map(i =>
      s"(CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE))").mkString(" + ")

  /** Fixed-order dot product for a KNOWN dimension ([[FloatVecDot]]):
    * bit-identical to the unrolled [[sqlDotFixed]] the oracle runs.
    */
  def vecDot(a: String, b: String, dim: Int): Column =
    org.apache.spark.sql.GraftSql.column(FloatVecDot(
      org.apache.spark.sql.GraftSql.expression(col(a)),
      org.apache.spark.sql.GraftSql.expression(col(b)), dim))

  def cosineFromNormsLoop(a: String, b: String, normA: Column, normB: Column,
      dim: Int): Column =
    vecDot(a, b, dim) / sqrt(normA * normB)

  /** Squared Euclidean distance for a KNOWN dimension, unrolled with a
    * fixed evaluation order — deterministic on any engine and
    * partitioning. Used by k-means-style codebook training.
    */
  def dist2Fixed(a: String, b: String, dim: Int): Column = expr(
    (0 until dim).map { i =>
      val d = s"(CAST($a[$i] AS DOUBLE) - CAST($b[$i] AS DOUBLE))"
      s"($d * $d)"
    }.mkString(" + "))

  /** All sign-LSH bucket codes of a vector as one loop-codegen'd
    * expression ([[LshSignBuckets]]) — value-identical to the exploded
    * plane-join + decimal-sum SQL chain (LshBucketsSpec proves it over
    * the corpus), with no explode, no join and no shuffle.
    */
  def lshSignBuckets(embedding: Column, dim: Int, tables: Int, nbits: Int,
      seed: Long): Column =
    org.apache.spark.sql.GraftSql.column(LshSignBuckets(
      org.apache.spark.sql.GraftSql.expression(embedding),
      dim, tables, nbits, seed))

  /** Random-hyperplane rows for sign-LSH: (tbl, bit, dim, hval) — one row
    * per hyperplane component, seeded-deterministic (java.util.Random is
    * a spec'd LCG, identical on every JVM). [[LshSignBuckets]] holds
    * them as one array; LshBucketsSpec's oracle joins them as rows.
    * (Unrolling all planes into one literal projection was tried and
    * rejected: a ~20k-node expression tree stalls Catalyst
    * analysis/codegen for minutes.)
    */
  def hyperplaneRows(dim: Int, tables: Int, nbits: Int, seed: Long)
      : Seq[(Int, Int, Int, Double)] = {
    val rnd = new java.util.Random(seed)
    for { t <- 0 until tables; b <- 0 until nbits; i <- 0 until dim }
      yield (t, b, i, rnd.nextGaussian())
  }
}
