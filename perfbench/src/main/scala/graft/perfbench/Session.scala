package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.GraftConf

/** The benchmark's Spark session: exactly `graft.Bench`'s production
  * settings, plus per-run directories, plus FAIR pools for `analyst`
  * only. `run.py` checks [[production]] against the `.config(...)`
  * calls in Bench.scala before every run, so the two cannot drift apart.
  */
object Session {
  /** Bench's confs for a data dir at `cpus` cores. */
  def production(dataDir: String, cpus: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
      GraftConf.initShufflePartitions(dataDir, cpus).toString,
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.graft.gateSort" -> "false",
    "spark.sql.files.maxPartitionBytes" -> "16m",
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.ui.enabled" -> "false")

  /** A session on `local[cpus]` whose working directories live in `runDir`. */
  def build(dataDir: String, cpus: Int, runDir: String,
      fair: Boolean): SparkSession = {
    val isolation = Map(
      "spark.sql.warehouse.dir" -> s"$runDir/warehouse",
      "spark.local.dir" -> s"$runDir/spark-local")
    val pools = if (fair) Map("spark.scheduler.mode" -> "FAIR") else Map()
    val b = SparkSession.builder().master(s"local[$cpus]")
      .appName("perfbench")
    (production(dataDir, cpus) ++ isolation ++ pools).foreach {
      case (k, v) => b.config(k, v)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.Logs.quietTinyFrameWindowWarnings()
    s
  }
}
