package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.apache.spark.sql.Column

/** Schema-checked loaders for the driver-generated test tables.
  *
  * The reference system stores its facts in PostgreSQL (i2b2 CRC star
  * schema, cf. /root/reference/generated/compose.yml database service);
  * here every table is a columnar parquet scan so Catalyst can push
  * filters and prune columns all the way into the file reader.
  */
object Tables {
  /** A test table, read with the schema inference would give, taken
    * from its footer without inference's Spark job. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(graft.sources.Snapshots.footerSchema(spark, path))
      .parquet(path)
  }

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** `events.ts` normalized to session-timezone TimestampType whatever
    * the file generation wrote:
    *  - TIMESTAMP(NANOS) (early testdata): Spark's vectorized reader
    *    rejects it; with `spark.sql.legacy.parquet.nanosAsLong=true`
    *    (set at session construction in Verify/Bench/SparkSpec — NOT
    *    mutated here, so loaders stay side-effect-free) it reads as
    *    long, converted with integer division (ns-since-epoch exceeds
    *    2^53 — double math would lose precision; the generator only
    *    populates µs, so div 1000 is lossless).
    *  - TIMESTAMP(MICROS) isAdjustedToUTC=false (current testdata):
    *    reads as TIMESTAMP_NTZ; cast to TimestampType under the UTC
    *    session re-labels the same wall-clock instant, keeping every
    *    downstream unix_micros/date_format/watermark identical to the
    *    nanos-era values.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // guard, not just doc: nanos-era files fail schema resolution with
    // Spark's opaque "Illegal Parquet type: INT64 (TIMESTAMP(NANOS))"
    // unless the legacy flag is on — name the config in the rethrow so
    // a mis-built session is a one-line fix, not a parquet spelunk
    val raw =
      try table(s, d, "events")
      catch {
        case e: Exception if String.valueOf(e.getMessage).contains("NANOS") =>
          throw new IllegalStateException(
            "events.parquet carries TIMESTAMP(NANOS); set " +
              "spark.sql.legacy.parquet.nanosAsLong=true at session " +
              "construction (Verify/Bench/SparkSpec do)", e)
      }
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => raw
      case t =>
        // the NTZ->timestamp cast below re-labels the wall-clock
        // instant; only a UTC session makes that the identity the
        // nanos-era numbers (and the DuckDB oracle) expect
        if (t == org.apache.spark.sql.types.TimestampNTZType) {
          val tz = s.conf.get("spark.sql.session.timeZone", "")
          require(tz == "UTC",
            s"events.ts is TIMESTAMP_NTZ; casting to timestamp is only " +
              s"correct under spark.sql.session.timeZone=UTC (session has " +
              s"'$tz')")
        }
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Every test table, by its SQL-facing name. `events` is the
    * CONVERTED frame (ts as timestamp), so SQL users see the same
    * schema the Scala operators do.
    */
  private val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> (region _), "nation" -> (nation _),
    "customer" -> (customer _), "supplier" -> (supplier _),
    "part" -> (part _), "orders" -> (orders _),
    "lineitem" -> (lineitem _), "events" -> (events _),
    "documents" -> (documents _), "embeddings" -> (embeddings _))

  /** Register every test table as a temp view — the SQL analyst's front
    * door (the reference's users reach the warehouse through the i2b2
    * webclient's SQL face, cf. /root/reference/generated/compose.yml;
    * a graft deployment would register its lake tables in a metastore,
    * which these session-local views stand in for). Each call reads the
    * ten footers again (no Spark job) and re-registers: the last dir
    * registered wins, like switching databases.
    */
  def registerViews(s: SparkSession, d: String): Unit =
    all.foreach { case (n, fn) => fn(s, d).createOrReplaceTempView(n) }
}

/** Scratch-space layout shared by every operator that persists derived
  * tables (indexes, bucketed facts, round-trips) — ONE definition of
  * the root dir and the sf-dir tag, so a change cannot silently split
  * index layouts across two roots.
  */
object Scratch {
  /** `GRAFT_SCRATCH`, else `target/roundtrip` under the working
    * directory: runs from two checkouts never share roots.
    */
  def dir: String = sys.env.getOrElse("GRAFT_SCRATCH",
    java.nio.file.Paths.get("target", "roundtrip").toAbsolutePath.toString)

  /** Filesystem/metastore-safe tag for an sf data dir. */
  def tag(d: String): String = d.replaceAll("[^a-zA-Z0-9]", "_")
}

/** Cross-engine-deterministic aggregate helpers.
  *
  * Double summation order differs between engines (and between Spark
  * partitionings), so raw `sum(double)` is not reproducible. Summing an
  * exact decimal rendition and casting the exact result back to double
  * is bit-stable on any engine and any partitioning — the 100 TB answer
  * is the sf0.01 answer.
  */
object Det {
  /** Exact-decimal sum of a double expression, returned as double.
    *
    * Scale 6 because the test columns carry exactly 2 decimals, so any
    * 2-/3-factor product is exact at ≤6 decimals — the cast rounds to
    * the true decimal value on every engine with no tie ambiguity.
    *
    * The exact sum is rounded to 2 decimals BEFORE the double cast:
    * once a corpus total passes ~2^53/10^6 ≈ 9·10^9 the 6-decimal sum
    * carries more significant digits than a double, and the two
    * engines' decimal→double conversions legitimately differ by 1 ulp
    * (Spark's BigDecimal correctly rounds the true rational; DuckDB
    * converts the int128 mantissa to double first and divides — a
    * double-rounding). A 2-decimal total keeps sum×100 exactly
    * representable up to ~9·10^13, where int→double is exact and the
    * single ÷100 is correctly rounded on both engines — bit-equal
    * again, at the precision a double can actually carry. (Found at
    * sf1: q01's 4.3·10^10 sum_disc_price differed in the last ulp.)
    */
  def dsum(c: Column): Column =
    round(sum(c.cast(DecimalType(18, 6))), 2).cast(DoubleType)

  /** High-precision variant for second moments (x*x overflows (18,4)). */
  def dsumWide(c: Column): Column =
    round(sum(c.cast(DecimalType(38, 6))), 2).cast(DoubleType)

  /** Deterministic mean: exact decimal sum / count, divided in double. */
  def davg(c: Column): Column = dsum(c) / count(lit(1))

  /** SQL fragments mirroring the above for the DuckDB oracle. */
  def sqlDsum(e: String): String =
    s"CAST(ROUND(SUM(CAST(($e) AS DECIMAL(18,6))), 2) AS DOUBLE)"
  def sqlDsumWide(e: String): String =
    s"CAST(ROUND(SUM(CAST(($e) AS DECIMAL(38,6))), 2) AS DOUBLE)"
  def sqlDavg(e: String): String = s"(${sqlDsum(e)} / COUNT(*))"
}
