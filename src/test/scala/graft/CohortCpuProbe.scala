package graft

import graft.operators.{Panels, PanelsJson}
import org.apache.spark.TaskCpu
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** Task CPU of `graft_cohort` requests by kind: patient-scope,
  * encounter-using with a date window, encounter-using without one.
  *
  * {{{
  * python3 -c 'import json, sys; sys.path.insert(0, "perfbench"); import plans
  * d = plans.analyst_plan(8000, 1)["defs"]; print(json.dumps(d))' > defs.json
  * sbt "Test/runMain graft.CohortCpuProbe <sfDir> defs.json [runs]"
  * }}}
  *
  * `defs.json` maps keys to PanelsJson definitions. Each definition is
  * sent once to warm, then `runs` times (default 5), as
  * `SELECT count(*) FROM graft_cohort(..)` over the views of `sfDir`,
  * on Bench's 4-core session. Prints one JSON line: per kind, the
  * number of definitions and the median of their median task CPU (ms).
  */
object CohortCpuProbe {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val runs = args.lift(2).fold(5)(_.toInt)
    val defs = parse(scala.io.Source.fromFile(args(1)).mkString) match {
      case JObject(kv) => kv.map { case (k, v) => k -> compact(render(v)) }
      case other => sys.error(s"defs must be a JSON object, got $other")
    }
    val s = Bench.session(4, Seq(dir), gate = false)
    Tables.registerViews(s, dir)
    val perDef = defs.map { case (_, doc) =>
      val cd = PanelsJson.parse(doc)
      val kind =
        if (cd.scope == Panels.PatientScope && !cd.panels.exists(_.perEncounter))
          "patient"
        else if (cd.from.isDefined || cd.until.isDefined) "encounter_window"
        else "encounter_no_window"
      val sql = s"SELECT count(*) AS n FROM graft_cohort('${doc.replace("'", "''")}')"
      s.sql(sql).collect()
      kind -> median((1 to runs).map(_ =>
        TaskCpu(s.sparkContext)(s.sql(sql).collect()) / 1e6))
    }
    val out = perDef.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, xs) =>
      k -> JObject("definitions" -> JInt(xs.size),
        "median_task_cpu_ms" -> JDouble(median(xs.map(_._2))))
    }
    println(compact(render(JObject(out.toList))))
    s.stop()
  }
}
