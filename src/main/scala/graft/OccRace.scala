package graft

/** Second-process writer for the cross-JVM OCC race (RoundTripSpec
  * forks this main with plain `java -cp` while committing from its own
  * session): N appends to one snapshot root, each a single tagged row.
  * The in-process OCC spec proves two THREADS sharing a JVM rebase
  * correctly; this proves the commit point itself — the exclusive
  * manifest link on the shared filesystem — arbitrates writers that
  * share NOTHING but the directory, which is the actual multi-writer
  * deployment shape (two Spark drivers on one lake). Protocol: touch
  * `readyFile` once the session is up, spin until `startFile` exists
  * (so both processes enter their commit loops together), append
  * `n` single-row frames, exit 0 only if every commit landed.
  */
object OccRace {
  def main(args: Array[String]): Unit = {
    val Array(root, writer, nStr, readyFile, startFile) = args.take(5)
    val n = nStr.toInt
    val spark = Bench.session(2, Nil, gate = false)
    import spark.implicits._
    java.nio.file.Files.write(java.nio.file.Paths.get(readyFile),
      writer.getBytes("UTF-8"))
    val deadline = System.currentTimeMillis() + 120000
    while (!java.nio.file.Files.exists(java.nio.file.Paths.get(startFile))) {
      require(System.currentTimeMillis() < deadline,
        s"start signal never arrived at $startFile")
      Thread.sleep(20)
    }
    val versions = (1 to n).map { i =>
      graft.sources.Snapshots.commit(spark, root,
        Seq((writer, i)).toDF("writer", "seq").coalesce(1))
    }
    require(versions.distinct.size == n && versions.forall(_ > 0),
      s"writer $writer: commits did not land distinct versions: $versions")
    spark.stop()
  }
}
