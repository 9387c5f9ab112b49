package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._

import graft.SparkEntry

/** `analyst`: a closed loop of one client per core, each in its own
  * FAIR pool, sending the seeded request sequence run.py generated:
  * i2b2 panel definitions through `graft_cohort` (counted, result kept
  * for the DuckDB check) and registered report queries (written to the
  * `noop` sink, so no column a client would read is pruned).
  */
final class Analyst extends Workload {
  override def fair: Boolean = true

  /** (kind, key) of each request in a plan list. */
  private def requests(xs: List[JValue]): List[(String, String)] =
    xs.map(i => Json.str(i, "kind") -> Json.str(i, "key"))

  /** One request: a cohort key names its SQL in the plan's `cohorts`. */
  private def request(s: SparkSession, data: String, run: Run, req: String,
      client: Int, kind: String, key: String): Op =
    run.exec(s, req, client, kind, key) {
      kind match {
        case "cohort" =>
          val sql = Json.str(run.plan \ "cohorts", key)
          val df = run.trace.time(req, "front_door", "resolve")(s.sql(sql))
          run.trace.time(req, "action", "collect")(df.collect()(0).getLong(0))
        case "report" =>
          val df = build(s, data, run, req, key)
          run.trace.time(req, "action", "noop_write")(Outputs.noop(df))
          -1L
      }
    }

  def setup(s: SparkSession, data: String, run: Run): Unit = {
    graft.Tables.registerViews(s, data)
    // the warm list runs every report once (JIT, codegen and the eager
    // c13c/c23b builds: in production indexes exist before analysts
    // arrive) and a panel definition
    requests(Json.arr(run.plan, "warm")).zipWithIndex.foreach {
      case ((kind, key), i) =>
        val op = request(s, data, run, s"setup-$i", -1, kind, key)
        require(op.ok, s"set-up request $key failed: ${op.err}")
    }
  }

  def timed(s: SparkSession, data: String, run: Run): Unit = {
    val w0 = Clock.now() + run.ramp
    val deadline = w0 + run.seconds
    run.openWindowAt(w0)
    val threads = Json.arr(run.plan, "clients").zipWithIndex.map {
      case (JArray(seq), c) => new Thread(() => {
        s.sparkContext.setLocalProperty("spark.scheduler.pool", s"client$c")
        val it = requests(seq).iterator.zipWithIndex
        while (Clock.now() < deadline && it.hasNext) {
          val ((kind, key), n) = it.next()
          request(s, data, run, s"c$c-$n", c, kind, key)
        }
      }, s"analyst-client-$c")
      case (other, _) =>
        throw new IllegalArgumentException(s"plan: client $other")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    run.facts.put("window", Seq(w0, deadline))
  }

  def dump(s: SparkSession, data: String, run: Run, out: String): Unit = {
    Json.arr(run.plan, "reports").collect { case JString(n) => n }
      .foreach(n => build(s, data, run, "verify", n)
        .write.mode("overwrite").parquet(s"$out/$n"))
    Outputs.oracles(out)
  }

  private def build(s: SparkSession, data: String, run: Run, req: String,
      key: String): DataFrame =
    run.trace.time(req, "operators", "build")(SparkEntry.queries(key)(s, data))
}
