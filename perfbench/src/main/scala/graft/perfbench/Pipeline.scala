package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.json4s._

import graft.SparkEntry

/** `pipeline`: the nightly corpus job. One client runs the plan's
  * operators once, in the plan's order; each operator builds its own
  * indexes (as the nightly job does) and writes its result as parquet,
  * the release artifact that the correctness check compares with
  * `tools/localgate.py`. The window is this one batch, however long it
  * takes, with no ramp: its cold makespan is the workload's measure.
  */
final class Pipeline extends Workload {
  def setup(s: SparkSession, data: String, run: Run): Unit =
    graft.Tables.registerViews(s, data)

  def timed(s: SparkSession, data: String, run: Run): Unit = {
    val w0 = Clock.now()
    run.openWindowAt(w0)
    Json.arr(run.plan, "ops").collect { case JString(n) => n }.foreach { name =>
      run.exec(s, name, 0, "operator", name) {
        val df = run.trace.time(name, "operators", "build")(
          SparkEntry.queries(name)(s, data))
        run.trace.time(name, "action", "parquet_write")(
          df.write.mode("overwrite").parquet(s"${run.runDir}/dump/$name"))
        -1L
      }
    }
    run.facts.put("window", Seq(w0, Clock.now()))
  }

  def dump(s: SparkSession, data: String, run: Run, out: String): Unit =
    Outputs.oracles(out)
}
