package graft
import java.nio.file.{Files, Paths}

/** Plan-audit dump: `explain formatted` for every query, written to one
  * file per query so scan pushdown (PushedFilters/ReadSchema), join
  * strategies (BroadcastHashJoin vs SortMergeJoin) and codegen fusion can
  * be audited and diffed round-over-round. The session is Bench's
  * (gateSort=false, SPARK_GRAFT_CPUS cores, data-sized AQE width) and the
  * default SF is Bench's, so the audited plans are the ones Bench times.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "docs/plans"
    val spark = Bench.session(Bench.envCpus, Seq(sfDir), gate = false)
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
      } catch { case e: Throwable =>
        Files.writeString(Paths.get(s"$outDir/$name.txt"), s"ERROR: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
