package graft

import graft.Tables._
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Skew-resilience leg — measured task-time evidence that the salted
  * join (q28's production path) and AQE's skew-join splitting both
  * bound the straggler a hot key creates, on data where the hotness is
  * REAL: a Zipf(1.5)-keyed variant of the star schema (tools/gen_sf.py
  * --zipf) whose top supplier holds a double-digit share of lineitem.
  * Four configurations of the same join+aggregate, each with per-task
  * durations from a SparkListener:
  *
  *   broadcast     the default plan at this dim size — no shuffle of
  *                 the fact by key, so key skew cannot form a straggler
  *                 (mitigation #0: don't shuffle-join a broadcastable
  *                 dim). Baseline for "what q28's caller sees today".
  *   unsalted_smj  broadcast + AQE skew handling disabled, plain
  *                 sort-merge join — the anti-pattern: the hot key's
  *                 entire share serializes through ONE reducer task.
  *   aqe_skew_smj  broadcast disabled, AQE skew-join splitting ON
  *                 (thresholds sized to the leg's data): Spark splits
  *                 the oversized partition at runtime.
  *   salted        broadcast + AQE skew handling disabled, q28's
  *                 explicit 8-way salt: deterministic splitting that
  *                 works on any path (including non-AQE writers).
  *
  * Pass bar (asserted by the caller reading the JSON, graded in SURVEY
  * §5): max task time of salted and aqe_skew_smj well under
  * unsalted_smj's, total runtime not worse, identical results.
  *
  * Usage: runMain graft.SkewLeg <zipfSfDir> [outJson]
  */
object SkewLeg {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf1_zipf")
    val out = if (args.length > 1) args(1) else "docs/skew_leg.json"
    val spark = Bench.session(Bench.envCpus, Seq(sfDir), gate = false)

    val durations = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskInfo != null) durations.add(te.taskInfo.duration)
    })

    def body(salted: Boolean): DataFrame = {
      val big = lineitem(spark, sfDir)
        .select(col("l_suppkey").as("suppkey"), col("l_orderkey"),
          col("l_extendedprice"), col("l_discount"))
      val small = supplier(spark, sfDir)
        .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
      val j =
        if (salted)
          graft.functions.SkewJoin.saltedJoin(big, small, "suppkey",
            "l_orderkey", 8)
        else big.join(small, "suppkey")
      j.groupBy(col("s_nationkey"))
        .agg(graft.Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy("s_nationkey")
    }

    // hot-key facts for the artifact: how skewed IS this data
    val topShare = {
      val li = lineitem(spark, sfDir)
      val n = li.count().toDouble
      val top = li.groupBy("l_suppkey").count()
        .orderBy(col("count").desc).limit(1).collect()(0).getLong(1)
      top / n
    }

    final case class Leg(name: String, broadcastOff: Boolean,
        aqeSkew: Boolean, salted: Boolean)
    val legs = Seq(
      Leg("broadcast", broadcastOff = false, aqeSkew = false, salted = false),
      Leg("unsalted_smj", broadcastOff = true, aqeSkew = false, salted = false),
      Leg("aqe_skew_smj", broadcastOff = true, aqeSkew = true, salted = false),
      Leg("salted", broadcastOff = true, aqeSkew = false, salted = true))

    // warm the fs cache so the first leg doesn't pay cold reads alone
    body(salted = false).count()

    var rows = Map.empty[String, Seq[Double]] // per-leg canonical result
    val results = legs.map { leg =>
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        if (leg.broadcastOff) "-1" else "10m")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", leg.aqeSkew)
      // size AQE's skew detection to this leg's data (defaults target
      // 256 MB shuffle partitions; the sf1 hot key is tens of MB)
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      durations.clear()
      val t0 = System.nanoTime()
      val res = body(leg.salted).collect()
      val elapsed = (System.nanoTime() - t0) / 1e9
      rows += leg.name -> res.map(_.getDouble(1)).toSeq
      val ds = {
        import scala.jdk.CollectionConverters._
        durations.asScala.toSeq.map(_.toDouble).sorted
      }
      def pct(p: Double) =
        if (ds.isEmpty) 0.0 else ds(math.min(ds.size - 1, (p * ds.size).toInt))
      (leg.name, elapsed, ds.size, if (ds.isEmpty) 0.0 else ds.last,
        pct(0.5), pct(0.95))
    }
    // all four plans must agree on every revenue cell — a skew
    // mitigation that changes the ANSWER is a bug, not a speedup
    val canon = rows("broadcast")
    val agree = legs.forall(l => rows(l.name) == canon)

    val unsMax = results.find(_._1 == "unsalted_smj").get._4
    val saltMax = results.find(_._1 == "salted").get._4
    val aqeMax = results.find(_._1 == "aqe_skew_smj").get._4
    val line = compact(render(JObject(
      "sf" -> JString(sfDir),
      "top_key_share" -> Bench.dec(topShare, 3),
      "legs" -> JObject(results.toList.map { case (n, el, nt, mx, p50, p95) =>
        n -> JObject(
          "elapsed_sec" -> Bench.dec(el, 3),
          "n_tasks" -> JInt(nt),
          "max_task_ms" -> Bench.dec(mx, 3),
          "p50_task_ms" -> Bench.dec(p50, 3),
          "p95_task_ms" -> Bench.dec(p95, 3),
          "max_over_p50" -> Bench.dec(if (p50 > 0) mx / p50 else 0.0, 3))
      }),
      "results_agree" -> JBool(agree),
      "salted_max_task_vs_unsalted" ->
        Bench.dec(if (unsMax > 0) saltMax / unsMax else 0.0, 3),
      "aqe_max_task_vs_unsalted" ->
        Bench.dec(if (unsMax > 0) aqeMax / unsMax else 0.0, 3))))
    val p = java.nio.file.Paths.get(out)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
    if (!agree) sys.exit(1)
  }
}
