package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftSql}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Bloom-filter build/probe over Spark's own sketch machinery — the
  * same `BloomFilterAggregate`/`BloomFilterMightContain` expression
  * pair Spark's runtime row-level filtering injects into shuffle joins,
  * here surfaced as an explicit operator building block (the optimizer
  * only injects them into equi-join plans it owns; an ingest gate wants
  * the filter as a first-class, persistable artifact).
  *
  * Both sides hash through `xxhash64` (the aggregate stores 64-bit
  * XXH64 keys), so build and probe agree by construction. The probe is
  * a codegen'd native predicate — no UDF, no interpreted path.
  */
object Bloom {

  /** ONE distributed aggregate pass over `df` builds the filter:
    * per-partition sketches OR-merge up the tree (mergeable, constant
    * size — ~1.2 bytes/key at the built-in fpp), and only the final
    * serialized bit array (not the keys) reaches the driver. Returns
    * null on empty input (probe then matches nothing).
    */
  def buildBytes(df: DataFrame, key: Column, expectedItems: Long): Array[Byte] = {
    val agg = GraftSql.column(
      new BloomFilterAggregate(GraftSql.expression(xxhash64(key)), expectedItems)
        .toAggregateExpression())
    df.agg(agg.as("bf")).head.getAs[Array[Byte]]("bf")
  }

  /** Membership probe against a built filter, as a foldable binary
    * literal — ships with the task closure exactly once, like a
    * broadcast var. False positives possible, false negatives not.
    */
  def mightContain(filter: Array[Byte], key: Column): Column =
    GraftSql.column(BloomFilterMightContain(
      Literal(filter, BinaryType), GraftSql.expression(xxhash64(key))))

  /** The ≥10¹¹-key form (SURVEY §5's documented limit of the single
    * filter): the key space is SHARDED by hash prefix —
    * `pmod(xxhash64(key), shards)` — and each shard builds its own
    * filter in ONE grouped aggregate pass over the corpus (same
    * mergeable OR-tree per shard, `shards` bit arrays instead of one
    * that would exceed a task/driver buffer). A shard with no corpus
    * keys stays null and probes as non-member.
    */
  def buildShardBytes(df: DataFrame, key: Column, expectedItems: Long,
      shards: Int): Array[Array[Byte]] = {
    require(shards > 0, s"shards must be positive, got $shards")
    val perShard = math.max(1L, expectedItems / shards)
    val agg = GraftSql.column(
      new BloomFilterAggregate(GraftSql.expression(xxhash64(key)), perShard)
        .toAggregateExpression())
    val out = new Array[Array[Byte]](shards)
    df.groupBy(pmod(xxhash64(key), lit(shards.toLong)).as("__shard"))
      .agg(agg.as("bf")).collect()
      .foreach(r => out(r.getLong(0).toInt) = r.getAs[Array[Byte]]("bf"))
    out
  }

  /** Probe the sharded form: the row's shard picks its filter through a
    * codegen'd CASE chain whose every branch holds ONE foldable binary
    * literal (BloomFilterMightContain requires a constant filter side,
    * so an array lookup with a per-row index is not plannable — the
    * chain is the shape that keeps each filter a constant). O(shards)
    * comparisons per row; sized for tens of shards, each covering
    * ~10^10 keys.
    */
  def mightContainSharded(filters: Array[Array[Byte]], key: Column): Column = {
    val sh = pmod(xxhash64(key), lit(filters.length.toLong))
    filters.zipWithIndex.foldLeft(lit(false)) { case (acc, (bf, i)) =>
      if (bf == null) acc // empty shard: no corpus keys -> non-member
      else when(sh === i, mightContain(bf, key)).otherwise(acc)
    }
  }

  /** The corpus-gate dispatch d10/p03 share: build over `corpus`'s
    * `key`, probe the same column on the delta side — single filter by
    * default, sharded when `spark.graft.dedup.bloomShards` > 1 (the
    * deployment knob for corpora past one filter's honest sizing).
    */
  def corpusGate(corpus: DataFrame, key: Column): Column => Column = {
    val s = corpus.sparkSession
    // expected corpus keys per filter: Spark's own runtime-filter
    // default; ~1.2 bytes/key at the built-in fpp
    val items = 1000000L
    val shards = graft.GraftConf.bloomShards(s)
    if (shards <= 1) {
      val bf = buildBytes(corpus, key, items)
      probeKey => mightContain(bf, probeKey)
    } else {
      val bfs = buildShardBytes(corpus, key, items, shards)
      probeKey => mightContainSharded(bfs, probeKey)
    }
  }
}
