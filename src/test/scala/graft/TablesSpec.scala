package graft

import graft.operators.Panels
import graft.sources.Snapshots
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.JobCount

/** Base tables read with their footer's schema: the schema Spark's own
  * inference picks, and no Spark job before the first action.
  */
class TablesSpec extends SparkSpec {

  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  test("footer schemas equal Spark's inferred schemas for every table") {
    for (n <- names) {
      val path = s"$sfDir/$n.parquet"
      assert(Snapshots.footerSchema(spark, path) === spark.read.parquet(path).schema, n)
      assert(Tables.table(spark, sfDir, n).schema === spark.read.parquet(path).schema, n)
    }
  }

  test("a Spark-written dir reads its schema from Spark's footer key") {
    import spark.implicits._
    val dir = s"${Scratch.dir}/footer_empty"
    // raw events layout with int64 ts, the nanos-era type nanosAsLong reads
    Seq.empty[(Long, Long, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // Spark's footer key keeps the written non-null flags; a read makes
    // every column nullable, inferred or given
    assert(Tables.table(spark, dir, "events").schema ===
      spark.read.parquet(s"$dir/events.parquet").schema)
    assert(Tables.events(spark, dir).schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
  }

  test("a base-table read runs no Spark job") {
    assert(JobCount(spark.sparkContext) { Tables.orders(spark, sfDir) } === 0)
  }

  test("registerViews runs no Spark job, also after a dir switch") {
    // a second dir holding the same tables
    val conf = spark.sparkContext.hadoopConfiguration
    val copy = new Path(s"${Scratch.dir}/views_copy")
    val fs = copy.getFileSystem(conf)
    fs.delete(copy, true)
    for (n <- names)
      FileUtil.copy(fs, new Path(s"$sfDir/$n.parquet"), fs,
        new Path(copy, s"$n.parquet"), false, conf)
    val jobs = JobCount(spark.sparkContext) {
      Tables.registerViews(spark, copy.toString)
      Tables.registerViews(spark, sfDir)
    }
    assert(jobs === 0)
    assert(spark.sql("SELECT COUNT(*) FROM orders").head().getLong(0) ===
      Tables.orders(spark, sfDir).count())
  }

  test("a warm c23b build runs no Spark job") {
    Panels.c23b(spark, sfDir).count() // saves the patient set once
    assert(JobCount(spark.sparkContext) { Panels.c23b(spark, sfDir) } === 0)
  }
}
