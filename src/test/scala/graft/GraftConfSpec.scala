package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Boundary behavior of the session-sizing helpers: the AQE starting
  * shuffle width feeds the correctness-gate session config, so a silent
  * regression in the floor/cap would change every driver run.
  */
class GraftConfSpec extends AnyFunSuite {

  private def tempDir(): java.io.File = {
    val d = Files.createTempDirectory("graftconf").toFile
    d.deleteOnExit(); d
  }

  test("initShufflePartitions: empty dir lands on the core-count floor") {
    assert(GraftConf.initShufflePartitions(tempDir().getPath, 32) === 32)
    assert(GraftConf.initShufflePartitions(tempDir().getPath, 4) === 4)
  }

  test("initShufflePartitions: missing/non-local path measures 0 -> floor") {
    assert(GraftConf.initShufflePartitions("/nonexistent/graft", 32) === 32)
  }

  test("initShufflePartitions: ~8 MB of input per partition above floor") {
    val d = tempDir()
    // sparse file: length() reports the logical size, no real 100 MB IO
    val f = new java.io.RandomAccessFile(new java.io.File(d, "x.parquet"), "rw")
    f.setLength(100L << 20); f.close()
    assert(GraftConf.initShufflePartitions(d.getPath, 4) === 12) // 100/8
  }

  test("initShufflePartitions: capped at 1024") {
    val d = tempDir()
    val f = new java.io.RandomAccessFile(new java.io.File(d, "x.parquet"), "rw")
    f.setLength(20L << 30); f.close() // 20 GB -> 2560 uncapped
    assert(GraftConf.initShufflePartitions(d.getPath, 4) === 1024)
  }

  test("initShufflePartitions: symlink loop terminates on the floor") {
    val d = tempDir()
    try Files.createSymbolicLink(
      new java.io.File(d, "loop").toPath, d.toPath)
    catch { case _: UnsupportedOperationException |
                 _: java.io.IOException => cancel("no symlink support") }
    // would StackOverflowError if the walk followed the link
    assert(GraftConf.initShufflePartitions(d.getPath, 8) === 8)
  }

  test("shipped SFs stay on the core-count floor (the r14 ANN fix)") {
    // the r14 live-build regression (s03 11x) came from a static 1024
    // width at a ~17 MB SF; the derived width must keep sf0.01/sf0.1 at
    // exactly the core count so a future static override can't silently
    // re-inflate the Lloyd training loops
    for (sf <- Seq("sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      assume(new java.io.File(dir).isDirectory, s"$dir not present")
      assert(GraftConf.initShufflePartitions(dir, 32) === 32)
    }
  }

  test("Bench's record line parses, ends in metric/unit/value, escapes names") {
    import org.json4s._
    // a failure name carrying every character a hand-built line broke on
    val odd = "q\"uote\\slash\nline\u0001ctl"
    val line = Bench.recordLine(
      Seq("c01" -> 1.23456, "s02_ann_lsh" -> 2.0, odd -> -1.0),
      List("scale_check" -> JString("skipped")), Seq(odd), "0.50 0.40 0.30",
      "0.60 0.50 0.40", Some(Bench.Shares(0.3, 0.01)), contended = true,
      machineCores = 4, cpus = 4, sf = "/data/sf\"0.1")
    val j = org.json4s.jackson.JsonMethods.parse(line)
    val JObject(fields) = j
    assert(fields.map(_._1).head === "queries")
    assert(fields.map(_._1).takeRight(3) === List("metric", "unit", "value"))
    assert(j \ "failed" === JArray(List(JString(odd))))
    assert(j \ "sf" === JString("/data/sf\"0.1"))
    assert(j \ "steal_share" === JDouble(0.3))
    assert(j \ "iowait_share" === JDouble(0.01))
    assert(j \ "degraded" === JBool(true))
    assert(j \ "contended" === JBool(true))
    // the decimals the record has always carried
    assert(line.contains("\"c01\":1.2346,"))
    assert(line.contains("\"build_sec\":2.0,\"core_sec\":1.2,"))
    assert(line.endsWith("\"metric\":\"total\",\"unit\":\"sec\",\"value\":3.2}"))
    // without /proc/stat the shares are null and only load gates
    val bare = org.json4s.jackson.JsonMethods.parse(Bench.recordLine(
      Seq("c01" -> 1.0), Nil, Nil, "", "", None, contended = false, 4, 4, "x"))
    assert(bare \ "steal_share" === JNull)
    assert(bare \ "degraded" === JBool(false))
  }

  test("Bench.shares: steal over non-idle time, iowait over all time") {
    // user nice system idle iowait irq softirq steal guest guest_nice
    val a = Seq(100L, 0L, 50L, 1000L, 10L, 0L, 0L, 0L, 0L, 0L)
    val b = Seq(170L, 0L, 80L, 1100L, 20L, 0L, 0L, 50L, 0L, 0L)
    val sh = Bench.shares(a, b).get
    assert(math.abs(sh.steal - 50.0 / 150) < 1e-12)
    assert(math.abs(sh.iowait - 10.0 / 260) < 1e-12)
    assert(Bench.shares(a.take(7), b.take(7)).isEmpty)
    // the 1.3x bound as a steal share: 1 - 1/1.3 = 0.2308
    assert(!Bench.Shares(0.23, 0).degraded)
    assert(Bench.Shares(0.24, 0).degraded)
  }

  test("Verify's oracle_sql.json parses back to SparkEntry.oracleSql") {
    import org.json4s._
    val JObject(fields) = org.json4s.jackson.JsonMethods.parse(Verify.oracleJson)
    val back = fields.map { case (k, JString(v)) => k -> v; case f => fail(s"$f") }
    assert(back.size === SparkEntry.oracleSql.size)
    assert(back.toMap === SparkEntry.oracleSql)
  }

  test("src/main reads exactly these spark.graft.* keys") {
    import scala.jdk.CollectionConverters._
    val key = "\"(spark\\.graft\\.[A-Za-z.]+)\"".r
    val read = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator.asScala.filter(_.toString.endsWith(".scala"))
      .flatMap(p => key.findAllMatchIn(java.nio.file.Files.readString(p))
        .map(_.group(1)))
      .toSet
    // answer-changing knobs (their defaults are the recorded oracles'
    // constants), deployment sizing, and graft's own switches; a
    // speed-only setting that nothing sets is a constant instead
    assert(read === Set(
      "spark.graft.approx", "spark.graft.approx.accuracy",
      "spark.graft.approx.rsd",
      "spark.graft.boilerplate.blockTokens", "spark.graft.boilerplate.df",
      "spark.graft.chunk.stride", "spark.graft.chunk.tokens",
      "spark.graft.contam.dfCap", "spark.graft.dedup.dfCap",
      "spark.graft.dedup.passageDfCap",
      "spark.graft.dedup.bloomShards", "spark.graft.dedup.cells.buckets",
      "spark.graft.index.buckets", "spark.graft.shard.bytes",
      "spark.graft.pdc.bar", "spark.graft.sourceQuality.bar",
      "spark.graft.spike.factor", "spark.graft.spike.minObs",
      "spark.graft.spike.windowHours",
      "spark.graft.rep.deliverTimeoutSec",
      "spark.graft.gateSort"))
  }

  test("Bench.runsFor: official protocol trims sub-noise-floor queries") {
    assert(Bench.runsFor(3, Some(0.05), 0.3) === 2) // fast tail -> min-of-2
    assert(Bench.runsFor(3, Some(0.8), 0.3) === 3)  // headline -> median-of-3
    assert(Bench.runsFor(3, None, 0.3) === 3)       // warm-up skipped/failed
    assert(Bench.runsFor(1, Some(0.05), 0.3) === 1) // scale legs untouched
    assert(Bench.runsFor(2, Some(0.05), 0.3) === 2)
  }

  test("the shared test session carries Bench's production confs, gate role") {
    val c = SparkSpec.session.conf
    assert(c.get("spark.master") === "local[4]")
    assert(c.get("spark.sql.shuffle.partitions") === "4")
    assert(c.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum") ===
      sys.env.getOrElse("SPARK_GRAFT_INIT_PARTS",
        GraftConf.initShufflePartitions(SparkSpec.sfDir, 4).toString))
    assert(c.get("spark.sql.extensions") === "graft.GraftExtensions")
    assert(c.get("spark.sql.session.timeZone") === "UTC")
    assert(c.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(c.get("spark.sql.files.maxPartitionBytes") ===
      sys.env.getOrElse("SPARK_GRAFT_MAX_SPLIT", "16m"))
    assert(c.get("spark.sql.codegen.cache.maxEntries") === "2000")
    // the one production conf the gate role leaves out: the specs
    // assert on the determinism-only final sorts
    assert(c.getOption("spark.graft.gateSort").isEmpty)
  }
}
