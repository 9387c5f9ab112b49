package graft
import java.nio.file.{Files, Paths}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Bench.session(Bench.envCpus, Seq(sfDir), gate = true)
    new java.io.File(outDir).mkdirs()
    // Bench's focused-iteration convention; the driver sets no filter,
    // so its gate always dumps the full set
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.findFirstIn(name).isDefined)
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    spark.stop()
  }

  /** `SparkEntry.oracleSql` as one JSON object: query name -> SQL. */
  private[graft] def oracleJson: String =
    compact(render(JObject(SparkEntry.oracleSql.toList.map { case (k, v) =>
      k -> JString(v) })))
}
