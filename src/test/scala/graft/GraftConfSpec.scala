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

  test("Bench.calibrate: the machine probe is positive and repeatable") {
    val a = Bench.calibrate()
    val b = Bench.calibrate()
    assert(a > 0 && b > 0)
    // the probe's job is to distinguish 1.7x-degraded days from clean
    // ones; back-to-back runs must agree far tighter than that (the
    // observed idle spread is ~5%, the bound is deliberately loose)
    assert(math.max(a, b) / math.min(a, b) < 1.4,
      s"probe unstable: $a vs $b")
  }

  test("Bench.calibratePar: parallel wall is bounded by the single spin") {
    val single = Bench.calibrate()
    val par = Bench.calibratePar(Runtime.getRuntime.availableProcessors())
    // independent cores: n-way wall can never beat one spin (each
    // thread does the full spin) and a sane sandbox stays well under
    // a full serialization of the threads
    assert(par >= single * 0.7, s"par $par vs single $single")
    assert(par < single * 16, s"par $par vs single $single")
  }

  test("the official record carries the machine-noise calibration stamps") {
    val p = java.nio.file.Paths.get("docs/bench_last.json")
    assume(java.nio.file.Files.exists(p), "no official record on disk")
    val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    for (k <- Seq("calib_sec", "calib_par_sec", "machine_ratio", "degraded"))
      assert(s.contains("\"" + k + "\":"),
        s"official record missing the $k stamp - the bench protocol " +
          "regressed to unstamped records")
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
