package graft

import graft.sources.RoundTrip

class RoundTripSpec extends SparkSpec {

  test("csv round-trip preserves schema and every value exactly") {
    val orig = Tables.customer(spark, sfDir).orderBy("c_custkey").collect()
    val back = RoundTrip.src01(spark, sfDir).collect()
    assert(RoundTrip.src01(spark, sfDir).schema ==
      Tables.customer(spark, sfDir).schema)
    assert(back.length == orig.length)
    orig.zip(back).foreach { case (o, b) => assert(o == b) }
  }

  test("json round-trip preserves schema and every value exactly") {
    val orig = Tables.part(spark, sfDir).orderBy("p_partkey").collect()
    val back = RoundTrip.src02(spark, sfDir).collect()
    assert(back.length == orig.length)
    orig.zip(back).foreach { case (o, b) => assert(o == b) }
  }

  test("xml round-trip escapes markup characters and keeps nulls") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("txt", StringType),
      StructField("num", DoubleType)))
    // markup metacharacters, an entity-looking literal, and a null —
    // the adversarial content a CDA feed actually contains
    val rows = Seq(
      Row(1L, "a < b && c > d", 1.25),
      Row(2L, "quote \" apos ' &amp; raw", -0.5),
      Row(3L, null, 3.5))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val path = s"${graft.Scratch.dir}/src10_escape_test"
    df.write.mode("overwrite").format("xml").option("rowTag", "r").save(path)
    val back = spark.read.schema(schema).option("rowTag", "r")
      .format("xml").load(path).orderBy("id").collect()
    assert(back.toSeq == rows)
  }

  test("xml round-trip of orders preserves every value exactly") {
    val orig = Tables.orders(spark, sfDir)
      .withColumn("o_orderdate", org.apache.spark.sql.functions
        .date_format(org.apache.spark.sql.functions.col("o_orderdate"),
          "yyyy-MM-dd HH:mm:ss"))
      .orderBy("o_orderkey").collect()
    val back = RoundTrip.src10(spark, sfDir).collect()
    assert(back.length == orig.length)
    orig.zip(back).foreach { case (o, b) => assert(o == b) }
  }

  test("src03 bucketed join reads both sides without a shuffle") {
    val df = RoundTrip.src03(spark, sfDir)
    df.collect()
    // AQE prints final + initial plans; assert on the FINAL one only
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val joinSection = plan.linesIterator
      .dropWhile(l => !l.contains("SortMergeJoin")).mkString("\n")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"expected a bucket-able join:\n$plan")
    assert(!joinSection.contains("Exchange hashpartitioning"),
      s"bucketed join must not re-shuffle its inputs:\n$plan")
    assert(df.collect().nonEmpty)
  }

  test("src05 compaction collapses per-day file counts without losing rows") {
    val total = Tables.events(spark, sfDir).count()
    val out = RoundTrip.src05(spark, sfDir)
    assert(out.agg(org.apache.spark.sql.functions.sum("n_events"))
      .collect()(0).getLong(0) == total)
    def filesPerDay(dir: String): Seq[Int] = {
      val base = new java.io.File(dir)
      base.listFiles().filter(f => f.isDirectory && f.getName.startsWith("day="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet"))).toSeq
    }
    val scratch = graft.Scratch.dir
    val tag = graft.Scratch.tag(sfDir)
    val before = filesPerDay(s"$scratch/src05_fragmented/$tag")
    val after = filesPerDay(s"$scratch/src05_compacted/$tag")
    assert(before.nonEmpty && before.max >= 10,
      s"fragmented layout should have many files/day, got ${before.max}")
    assert(after.max <= 2, s"compacted layout still fragmented: ${after.max}")
  }

  test("src07 mergeSchema surfaces late columns as null on old generations") {
    import org.apache.spark.sql.functions._
    RoundTrip.src07(spark, sfDir).collect() // builds the layout
    val path = s"${graft.Scratch.dir}/src07_evolving/${graft.Scratch.tag(sfDir)}"
    val merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert(merged.columns.contains("value"),
      "generation-2 column must appear in the merged schema")
    // every generation-1 row (written before `value` existed) reads null
    assert(merged.filter(col("gen") === 1 && col("value").isNotNull).count() == 0)
    assert(merged.filter(col("gen") === 2 && col("value").isNull).count() == 0)
    // nothing lost across generations
    assert(merged.count() == Tables.events(spark, sfDir).count())
  }

  test("src08 upsert keeps exactly the latest version per key and is idempotent") {
    import org.apache.spark.sql.functions._
    val merged = RoundTrip.src08(spark, sfDir)
    val orig = Tables.orders(spark, sfDir)
    assert(merged.count() == orig.count(), "upsert must not change cardinality")
    // updated keys carry the delta payload; others are untouched
    assert(merged.filter(col("o_orderkey") % 10 === 0 &&
      col("o_orderstatus") =!= "U").count() == 0)
    val untouched = merged.filter(col("o_orderkey") % 10 =!= 0)
      .select("o_orderkey", "o_orderstatus", "o_totalprice").collect().toSet
    val expected = orig.filter(col("o_orderkey") % 10 =!= 0)
      .select("o_orderkey", "o_orderstatus", "o_totalprice").collect().toSet
    assert(untouched == expected)
    // replaying the SAME delta (version tie broken by the merge keeping
    // one row) must be a fixpoint: merge(merge(b,d),d) == merge(b,d)
    val delta = orig.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") + lit(1.0)).as("o_totalprice"))
      .withColumn("__v", lit(1L))
    val once = merged.withColumn("__v", lit(0L))
    val twice = RoundTrip.upsertLatest(once, delta, "o_orderkey", "__v")
    assert(twice.collect().toSet == merged.collect().toSet)
  }

  test("upsertLatest matches a reference latest-wins merge on random data") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    // fixed-seed random (key, version, payload) rows with globally
    // unique versions (ties would make "latest" ambiguous), split into
    // base/delta at an arbitrary random boundary per row
    val rnd = new scala.util.Random(7)
    val rows = (0 until 500).map(i =>
      (rnd.nextInt(60).toLong, i.toLong, rnd.nextInt(1000)))
    val expected = rows.groupBy(_._1).map { case (k, g) =>
      k -> g.maxBy(_._2)._3 }
    val (b, dlt) = rows.partition(_ => rnd.nextBoolean())
    val merged = RoundTrip.upsertLatest(
      b.toDF("k", "__v", "payload").select("k", "payload", "__v"),
      dlt.toDF("k", "__v", "payload").select("k", "payload", "__v"),
      "k", "__v")
    val got = merged.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == expected)
  }

  test("src09 quarantines exactly the planted bad rows, payload preserved") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.StringType
    val row = RoundTrip.src09(spark, sfDir).collect()(0)
    val nCust = Tables.customer(spark, sfDir).count()
    assert(row.getLong(0) == nCust, "every valid row must be accepted")
    assert(row.getLong(1) == 7, "every planted bad line must be quarantined")
    // the rejected rows keep their raw text for the audit trail
    val path = s"${graft.Scratch.dir}/src09_csv/${graft.Scratch.tag(sfDir)}"
    val parsed = spark.read
      .schema(Tables.customer(spark, sfDir).schema.add("_corrupt_record", StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path).cache() // cache: corrupt-col-only filters need it
    try {
      val bad = parsed.filter(col("_corrupt_record").isNotNull)
        .select("_corrupt_record").collect().map(_.getString(0)).toSet
      assert(bad == (1 to 7).map(RoundTrip.badLine).toSet)
    } finally parsed.unpersist()
  }

  test("writeWithAudit observes import metrics on the write pass itself") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sfDir)
    val path = s"${graft.Scratch.dir}/audit_out/${graft.Scratch.tag(sfDir)}"
    val metrics = RoundTrip.writeWithAudit(ev, "value", path)
    assert(metrics("n_rows") == ev.count())
    assert(metrics("n_null") == ev.filter(col("value").isNull).count())
    val direct = ev.agg(Det.dsum(coalesce(col("value"), lit(0.0))))
      .collect()(0).getDouble(0)
    assert(metrics("checksum") == direct, "decimal checksum must be exact")
    // and the written data really landed, complete
    assert(spark.read.parquet(path).count() == ev.count())
  }

  test("src04 partition-ranged read prunes partitions at the scan") {
    val df = RoundTrip.src04(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val scan = plan.linesIterator.find(_.contains("PartitionFilters")).get
    assert(scan.contains("day"), s"day filter must prune partitions:\n$scan")
    assert(df.count() == 7, "one row per day in the first week")
  }

  test("src14 layout serves c01 pruned AND exchange-free, same answer") {
    val df = RoundTrip.src14(spark, sfDir)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val c01 = graft.operators.Cohort.c01(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == c01, "the layout must never change the answer")
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val scan = plan.linesIterator.find(_.contains("PartitionFilters")).get
    assert(scan.contains("day"), s"day range must prune partitions:\n$scan")
    // the bucketed layout clusters by user_id, so the panel aggregate
    // needs NO hash exchange (the gate sort is a range exchange)
    assert(plan.linesIterator
      .count(_.contains("Exchange hashpartitioning")) == 0,
      s"bucketed layout must serve the aggregate exchange-free:\n$plan")
  }

  test("src11 erases only touched partitions byte-identically elsewhere, idempotent") {
    import org.apache.spark.sql.functions._
    val layout = s"${graft.Scratch.dir}/src11_spec/${graft.Scratch.tag(sfDir)}"
    // partition finer than the gate's daily layout (every user is active
    // every day at this SF — daily partitions would ALL be touched and
    // the byte-identity assertion would be vacuous)
    val ev = Tables.events(spark, sfDir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd-HH"))
    ev.write.mode("overwrite").partitionBy("day").parquet(layout)
    val patients = Seq(7L, 13L, 42L) // 42 has no facts at this SF
    val touchedDays = ev.filter(col("user_id").isin(patients: _*))
      .select("day").distinct().collect().map(_.getString(0)).toSet
    val untouchedDays = ev.select("day").distinct().collect()
      .map(_.getString(0)).toSet -- touchedDays
    assert(touchedDays.nonEmpty && untouchedDays.nonEmpty,
      "the spec needs both touched and untouched partitions to bite")

    // file snapshot: every data file path -> its full content hash
    def snapshot(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(layout))
        .filter(f => f.getName.endsWith(".parquet"))
        .map(f => f.getPath ->
          java.util.Arrays.hashCode(
            java.nio.file.Files.readAllBytes(f.toPath)).toLong)
        .toMap
    }
    val beforeSnap = snapshot()

    val audit = RoundTrip.deletePatients(spark, layout, patients)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // audit covers exactly the touched days, numbers consistent
    assert(audit.keySet == touchedDays)
    val expectDeleted = ev.filter(col("user_id").isin(patients: _*))
      .groupBy("day").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((day, (nb, na, nd)) <- audit) {
      assert(nd == expectDeleted(day), s"$day deleted")
      assert(nb - na == nd, s"$day before-after")
    }
    // the erased users are gone, everything else intact
    val after = spark.read.parquet(layout)
    assert(after.filter(col("user_id").isin(patients: _*)).isEmpty)
    assert(after.count() == ev.count() - expectDeleted.values.sum)
    // untouched partitions: same files, byte-identical; touched: rewritten
    val afterSnap = snapshot()
    val unPrefixes = untouchedDays.map(d => s"$layout/day=$d/")
    def untouchedOf(m: Map[String, Long]) =
      m.filter { case (p, _) => unPrefixes.exists(p.startsWith) }
    assert(untouchedOf(afterSnap) == untouchedOf(beforeSnap),
      "untouched partition files must not be rewritten")
    assert(afterSnap.keySet.filter(p =>
        touchedDays.exists(d => p.startsWith(s"$layout/day=$d/")))
      .forall(p => !beforeSnap.contains(p) || beforeSnap(p) != afterSnap(p)),
      "touched partitions must have been rewritten")
    // replay: no touched partitions remain -> empty audit, files bit-stable
    val audit2 = RoundTrip.deletePatients(spark, layout, patients)
    assert(audit2.isEmpty)
    assert(snapshot() == afterSnap, "replay must not rewrite anything")
  }

  test("avro round-trip preserves schema and every value exactly") {
    import org.apache.spark.sql.functions._
    val src = Tables.lineitem(spark, sfDir)
    val back = RoundTrip.src12(spark, sfDir)
    assert(back.count() == src.count())
    // every non-date column value-identical; the date column formatted
    val a = src
      .withColumn("l_shipdate",
        date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss"))
      .orderBy("l_orderkey", "l_linenumber").collect().toSeq
    val b = back.orderBy("l_orderkey", "l_linenumber").collect().toSeq
    assert(a == b)
  }

  test("avro generations evolve by field name: old files surface late columns as null") {
    import org.apache.spark.sql.functions._
    val path = s"${graft.Scratch.dir}/src12_evolution"
    val gen1 = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey").filter(col("o_orderkey") < 100)
    val gen2 = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_orderstatus")
      .filter(col("o_orderkey") >= 100 && col("o_orderkey") < 200)
    gen1.write.mode("overwrite").format(RoundTrip.AVRO_FMT).save(path)
    gen2.write.mode("append").format(RoundTrip.AVRO_FMT).save(path)
    // schema-first read across BOTH generations: resolution is by field
    // NAME (the Avro contract), so gen1 rows surface the late column as
    // null — no historical rewrite, same src07 guarantee for parquet
    val all = spark.read.schema(gen2.schema).format(RoundTrip.AVRO_FMT)
      .load(path)
    assert(all.count() == gen1.count() + gen2.count())
    assert(all.filter(col("o_orderkey") < 100)
      .filter(col("o_orderstatus").isNotNull).isEmpty,
      "gen1 rows must surface the late column as null")
    assert(all.filter(col("o_orderkey") >= 100)
      .filter(col("o_orderstatus").isNull).isEmpty,
      "gen2 rows keep their values")
  }

  test("deletePatients removes a fully-erased day's directory entirely") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val layout = s"${graft.Scratch.dir}/src11_fullday"
    Seq(
      (1L, 7L, "a", "2024-01-01"), (2L, 7L, "b", "2024-01-01"),
      (3L, 9L, "c", "2024-01-02"), (4L, 7L, "d", "2024-01-02"))
      .toDF("event_id", "user_id", "event_type", "day")
      .write.mode("overwrite").partitionBy("day").parquet(layout)
    val audit = RoundTrip.deletePatients(spark, layout, Seq(7L))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(audit == Map("2024-01-01" -> 0L, "2024-01-02" -> 1L))
    // day 1 held only the erased patient's facts: its directory is gone
    assert(!new java.io.File(s"$layout/day=2024-01-01").exists())
    val left = spark.read.parquet(layout)
      .select("event_id", "user_id").as[(Long, Long)].collect().toSet
    assert(left == Set((3L, 9L)))
  }

  test("deletePatients heals interrupted swaps before erasing") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    import spark.implicits._
    val layout = s"${graft.Scratch.dir}/src11_crash"
    Seq(
      (1L, 7L, "a", "2024-01-01"), (2L, 8L, "b", "2024-01-01"),
      (3L, 9L, "c", "2024-01-02"))
      .toDF("event_id", "user_id", "event_type", "day")
      .write.mode("overwrite").partitionBy("day").parquet(layout)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(layout).getFileSystem(conf)
    // window A: a prior erasure crashed after renaming the day ASIDE
    // but before committing its replacement — the survivors exist only
    // under the tombstone
    fs.rename(new Path(s"$layout/day=2024-01-01"),
      new Path(s"$layout/day=2024-01-01.graft-tomb"))
    // window B: a swap on the other day committed but crashed before
    // dropping its tombstone
    FileUtil.copy(fs, new Path(s"$layout/day=2024-01-02"),
      fs, new Path(s"$layout/day=2024-01-02.graft-tomb"), false, conf)
    // a fresh erasure heals both windows, then erases patient 8
    val audit = RoundTrip.deletePatients(spark, layout, Seq(8L))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(audit == Map("2024-01-01" -> 1L))
    val left = spark.read.parquet(layout)
      .select("event_id", "user_id").as[(Long, Long)].collect().toSet
    assert(left == Set((1L, 7L), (3L, 9L)),
      "rolled-back survivors must be part of the erased lake")
    assert(!fs.listStatus(new Path(layout))
      .exists(_.getPath.getName.endsWith(".graft-tomb")),
      "no tombstone survives a completed run")
  }

  test("src13 extracts the document corpus back to the exact event rows") {
    import org.apache.spark.sql.functions._
    val got = RoundTrip.src13(spark, sfDir).collect()
    val want = Tables.events(spark, sfDir)
      .select(col("event_id"),
        date_format(col("ts"), RoundTrip.CDA_TS_FMT).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .orderBy("event_id").collect()
    assert(got.length == want.length)
    assert(got.sameElements(want), "extraction must be row-exact")
  }

  test("src13 quarantines exactly the planted malformed documents") {
    import org.apache.spark.sql.functions.{col, date_format}
    val parsed = RoundTrip.cdaParsed(spark, sfDir).cache()
    try {
      val bad = parsed.filter(col("_corrupt_record").isNotNull)
      assert(bad.count() == 3, "all three corrupt documents quarantined")
      // the audit trail keeps the raw document text
      assert(bad.select("_corrupt_record").collect()
        .forall(_.getString(0).contains("<document>")))
      val nDocs = parsed.filter(col("_corrupt_record").isNull).count()
      val nEnc = Tables.events(spark, sfDir)
        .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd"))
        .distinct().count()
      assert(nDocs == nEnc, "one well-formed document per encounter")
    } finally parsed.unpersist()
  }

  test("snapshots: pinned readers isolated; manifest publish is the one commit point") {
    import graft.sources.Snapshots
    import org.apache.spark.sql.functions.col
    val root = s"${graft.Scratch.dir}/snap_spec"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val ev = Tables.events(spark, sfDir)
    val a = ev.filter(col("event_type") === "view")
    val b = ev.filter(col("event_type") === "click")
    val (na, nb) = (a.count(), b.count())

    assert(Snapshots.headVersion(spark, root) == 0)
    assert(Snapshots.commit(spark, root, a) == 1)
    val pinned = Snapshots.read(spark, root) // planned against snapshot 1
    assert(pinned.count() == na)
    assert(Snapshots.commit(spark, root, b) == 2)
    // isolation: the pinned frame lists only snapshot 1's immutable
    // files — the later commit cannot change what it reads
    assert(pinned.count() == na)
    assert(Snapshots.read(spark, root, Some(1)).count() == na)
    assert(Snapshots.read(spark, root).count() == na + nb)
    assert(Snapshots.versions(spark, root) == Seq(1, 2))

    // crash window A: a data dir was written but its manifest never
    // published — the table is unchanged (the dir is invisible), and
    // the next commit simply claims the next version
    ev.limit(3).write.mode("overwrite").parquet(s"$root/data/wcrashed")
    assert(Snapshots.headVersion(spark, root) == 2)
    assert(Snapshots.read(spark, root).count() == na + nb)
    // crash window B: manifest v3 published but the crash hit before
    // the HEAD hint advanced — the manifest publish IS the commit
    // point, so v3 is COMMITTED: headVersion's forward probe finds it
    // and the next commit claims v4, never overwriting v3
    val orphan = new org.apache.hadoop.fs.Path(s"$root/manifests/v3.json")
    val out = fs.create(orphan, true)
    out.write((s"""{"version": 3, "dirs": ["$root/data/wcrashed"]}""")
      .getBytes("UTF-8"))
    out.close()
    assert(Snapshots.headVersion(spark, root) == 3)
    assert(Snapshots.read(spark, root).count() == 3)
    assert(Snapshots.commit(spark, root, ev.limit(5)) == 4)
    assert(Snapshots.read(spark, root, Some(4)).count() == 3 + 5)
    // earlier snapshots still read exactly as committed
    assert(Snapshots.read(spark, root, Some(1)).count() == na)
    assert(Snapshots.read(spark, root, Some(2)).count() == na + nb)
  }

  test("snapshots OCC: two interleaved committers both land, no rows lost") {
    import graft.sources.Snapshots
    import org.apache.spark.sql.functions.col
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = s"${graft.Scratch.dir}/snap_occ"
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(root), true)
    val ev = Tables.events(spark, sfDir)
    val base = ev.filter(col("event_type") === "view")
    assert(Snapshots.commit(spark, root, base) == 1)
    // two writers race the SAME parent version from separate threads —
    // the CAS arbitration must give them v2 and v3 in some order, with
    // both appends visible at HEAD (the PostgreSQL-MVCC property the
    // reference's CRC store gets for free)
    val a = ev.filter(col("event_type") === "click")
    val b = ev.filter(col("event_type") === "error")
    val (na, nb) = (a.count(), b.count())
    val racers = Seq(a, b).map(df => Future(Snapshots.commit(spark, root, df)))
    val versions = Await.result(Future.sequence(racers), 120.seconds)
    assert(versions.toSet == Set(2, 3), s"committed as $versions")
    assert(Snapshots.headVersion(spark, root) == 3)
    assert(Snapshots.read(spark, root).count() == base.count() + na + nb)
    // each version's own manifest is a strict superset of its parent's
    // (the loser rebased instead of clobbering)
    assert(Snapshots.dirsOf(spark, root, 2).toSet
      .subsetOf(Snapshots.dirsOf(spark, root, 3).toSet))
    // exclusive publish arbitrates: a second hand-rolled claim of an
    // existing version must lose, whatever thread timing produced
    assert(Snapshots.versions(spark, root) == Seq(1, 2, 3))
  }

  test("snapshots: vacuum re-runs, fails pinned readers loudly, sweeps orphans") {
    import graft.sources.Snapshots
    import org.apache.spark.sql.functions.col
    val root = s"${graft.Scratch.dir}/snap_vac_rerun"
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(root), true)
    val ev = Tables.events(spark, sfDir).limit(300).cache()
    try {
      Snapshots.commitReplace(spark, root, ev.filter(col("event_id") % 3 === 0))
      Snapshots.commitReplace(spark, root, ev.filter(col("event_id") % 3 <= 1))
      Snapshots.commitReplace(spark, root, ev)
      Snapshots.commit(spark, root, ev.limit(10))
      // first retention pass: drop v1 only
      assert(Snapshots.vacuum(spark, root, 2) > 0)
      // the ADVICE regression: a SECOND vacuum with a higher floor must
      // skip the already-truncated v1 instead of crashing on its
      // missing manifest (daily keep-last-N runs repeatedly)
      assert(Snapshots.vacuum(spark, root, 3) > 0)
      assert(Snapshots.vacuum(spark, root, 3) == 0) // idempotent at the floor
      // negative path: a reader pinned below the retention floor fails
      // LOUDLY with the retention explanation, never a partial scan
      val e = intercept[IllegalArgumentException] {
        Snapshots.read(spark, root, Some(2)).count()
      }
      assert(e.getMessage.contains("retention floor"), e.getMessage)
      // kept versions unaffected
      assert(Snapshots.read(spark, root, Some(3)).count() == 300)
      assert(Snapshots.read(spark, root, Some(4)).count() == 310)
      // orphan sweep: a crashed attempt's unreferenced dir goes, but
      // only past the age horizon (a young dir may be an in-flight
      // commit's data, written before its manifest publish)
      ev.limit(7).write.mode("overwrite").parquet(s"$root/data/worphan")
      assert(Snapshots.vacuumOrphans(spark, root,
        olderThanMs = 365L * 86400 * 1000) == 0,
        "young dirs must survive the sweep")
      assert(Snapshots.vacuumOrphans(spark, root, olderThanMs = 0) == 1)
      assert(!fsys.exists(new org.apache.hadoop.fs.Path(s"$root/data/worphan")))
      // referenced dirs untouched — the table still reads
      assert(Snapshots.read(spark, root).count() == 310)
    } finally ev.unpersist()
  }
  test("compaction commit: pinned reader byte-identical, files collapse, crash heals") {
    import graft.sources.Snapshots
    import org.apache.spark.sql.functions.col
    val root = s"${graft.Scratch.dir}/snap_compact_spec"
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(root), true)
    val ev = Tables.events(spark, sfDir)
    Snapshots.commit(spark, root,
      ev.filter(col("event_type") === "view").repartition(20))
    Snapshots.commit(spark, root,
      ev.filter(col("event_type") =!= "view").repartition(20))
    val pinned = Snapshots.read(spark, root) // planned against v2's files
    val before = pinned.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val fragFiles = Snapshots.fileCount(spark, root, 2)

    // crash mid-compaction: a half-written writer-unique dir with no
    // published manifest, HEAD untouched — readers unaffected, and the
    // real compaction lands beside it (vacuumOrphans sweeps the debris)
    ev.limit(3).write.mode("overwrite").parquet(s"$root/data/wcrash")
    assert(Snapshots.headVersion(spark, root) == 2)
    assert(Snapshots.read(spark, root).count() == before.size)

    assert(Snapshots.compact(spark, root, Seq("user_id")) == 3)
    // the pinned pre-compaction reader scans its own immutable files:
    // byte-identical rows after the rewrite landed
    assert(pinned.collect().map(_.toSeq).toSeq.sortBy(_.toString) == before)
    // the compacted HEAD has the same content in (many) fewer files
    val after = Snapshots.read(spark, root).collect()
      .map(_.toSeq).toSeq.sortBy(_.toString)
    assert(after == before, "compaction must not change a single row")
    val compactFiles = Snapshots.fileCount(spark, root, 3)
    assert(compactFiles < fragFiles / 2,
      s"files $fragFiles -> $compactFiles: not a compaction")
    // both generations remain independently readable (time travel)
    assert(Snapshots.read(spark, root, Some(2)).count() == before.size)
    assert(Snapshots.read(spark, root, Some(3)).count() == before.size)
  }

  test("src16 layout: disjoint per-file user ranges, filter reaches the scan") {
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    graft.sources.RoundTrip.src16(spark, sfDir).collect() // ensure built
    val path =
      s"${graft.Scratch.dir}/src16_sorted/${graft.Scratch.tag(sfDir)}"
    // the layout CLAIM, proven from the parquet footers: every file
    // owns a user_id range no other file overlaps — the precondition
    // for footer/zone-map pruning in any engine
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(conf)
    val ranges = fs.listStatus(dir).toSeq
      .filter(f => f.getPath.getName.endsWith(".parquet"))
      .map { f =>
        val footer = org.apache.parquet.hadoop.ParquetFileReader
          .readFooter(conf, f.getPath)
        val stats = footer.getBlocks.asScala.map { b =>
          val c = b.getColumns.asScala
            .find(_.getPath.toDotString == "user_id").get
          val st = c.getStatistics
          (st.genericGetMin.asInstanceOf[Long],
            st.genericGetMax.asInstanceOf[Long])
        }
        (stats.map(_._1).min, stats.map(_._2).max)
      }.filter { case (lo, hi) => lo <= hi }
    assert(ranges.nonEmpty)
    val sorted = ranges.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq((_, hiA), (loB, _)) =>
        assert(hiA < loB, s"file ranges overlap: hi=$hiA >= lo=$loB")
      case _ =>
    }
    // and the selective predicate reaches the reader
    val plan = spark.read.parquet(path)
      .filter(col("user_id") <= graft.sources.RoundTrip.SRC16_USER_CAP)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(user_id), " +
      "LessThanOrEqual(user_id,"), s"filter not pushed:\n$plan")
  }

  test("src18 z-order: every file owns a small (user, ts) rectangle") {
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    graft.sources.RoundTrip.src18(spark, sfDir).collect() // ensure built
    val path =
      s"${graft.Scratch.dir}/src18_zorder/${graft.Scratch.tag(sfDir)}"
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(conf)
    def colRange(f: org.apache.hadoop.fs.FileStatus, name: String)
        : (Long, Long) = {
      val footer = org.apache.parquet.hadoop.ParquetFileReader
        .readFooter(conf, f.getPath)
      val st = footer.getBlocks.asScala.map { b =>
        val c = b.getColumns.asScala
          .find(_.getPath.toDotString == name).get.getStatistics
        (c.genericGetMin.asInstanceOf[Long],
          c.genericGetMax.asInstanceOf[Long])
      }
      (st.map(_._1).min, st.map(_._2).max)
    }
    val files = fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
    assert(files.size >= 8)
    val boxes = files.map(f => (colRange(f, "user_id"), colRange(f, "ts")))
    val uSpan = boxes.map(_._1._2).max - boxes.map(_._1._1).min
    val tSpan = boxes.map(_._2._2).max - boxes.map(_._2._1).min
    // z-order's promise: per-file spans are FRACTIONS of the domain on
    // BOTH dimensions at once (a single-key sort leaves the second
    // dimension's span ≈ the whole domain in every file). Allow the
    // curve's boundary files (a z-range crossing a high-bit flip spans
    // half a dimension); the MEDIAN file must be tightly boxed.
    def median(xs: Seq[Long]) = xs.sorted.apply(xs.size / 2)
    assert(median(boxes.map(b => b._1._2 - b._1._1)) <= uSpan / 2,
      "user_id not clustered")
    assert(median(boxes.map(b => b._2._2 - b._2._1)) <= tSpan / 2,
      "ts not clustered")
    // both box predicates reach the reader (asserted one dimension per
    // plan — the combined PushedFilters list elides its tail in
    // toString, hiding whichever predicate sorts last)
    val (uLo, uHi) = graft.sources.RoundTrip.SRC18_USERS
    val uPlan = spark.read.parquet(path)
      .filter(col("user_id").between(uLo, uHi))
      .queryExecution.executedPlan.toString
    assert(uPlan.contains("GreaterThanOrEqual(user_id,") &&
      uPlan.contains("LessThanOrEqual(user_id,"), s"users not pushed:\n$uPlan")
    val tPlan = spark.read.parquet(path)
      .filter(col("ts") >= org.apache.spark.sql.functions.lit("2024-01-08")
        .cast("timestamp"))
      .queryExecution.executedPlan.toString
    assert(tPlan.contains("GreaterThanOrEqual(ts,"), s"ts not pushed:\n$tPlan")
  }

  test("src19 change feed: delta-only scan, empty range, replace refusal") {
    import org.apache.spark.sql.functions.col
    import graft.sources.Snapshots
    graft.sources.Snapshots.src19(spark, sfDir).collect() // ensure built
    val root = s"${graft.Scratch.dir}/src19_snap/${graft.Scratch.tag(sfDir)}"
    // the 1→2 delta's scan lists ONLY commit 2's files — the
    // incremental consumer never re-reads old data
    val feed = Snapshots.changesBetween(spark, root, 1, 2)
    val added = (Snapshots.dirsOf(spark, root, 2).toSet --
      Snapshots.dirsOf(spark, root, 1)).toSeq
    assert(added.size == 1)
    assert(feed.inputFiles.nonEmpty &&
      feed.inputFiles.forall(_.contains(added.head)),
      s"non-delta files in scan: ${feed.inputFiles.take(3).mkString(",")}")
    // va == vb -> an empty feed, not an error
    assert(Snapshots.changesBetween(spark, root, 2, 2).count() == 0)
    // feed rows == the version-level row delta (nothing lost/duplicated)
    val n12 = feed.count()
    assert(n12 == Snapshots.read(spark, root, Some(2)).count() -
      Snapshots.read(spark, root, Some(1)).count())
    // a replace (compaction) commit breaks append lineage: ranges that
    // cross it are refused loudly, ranges before it still answer
    val root2 = root + "_replace"
    val f = new org.apache.hadoop.fs.Path(root2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(root2), true)
    val ev = Tables.events(spark, sfDir).limit(100)
    Snapshots.commit(spark, root2, ev.filter(col("event_id") < 50))
    Snapshots.commit(spark, root2, ev.filter(col("event_id") >= 50))
    Snapshots.compact(spark, root2, Seq("user_id"))
    assert(Snapshots.changesBetween(spark, root2, 1, 2).count() > 0)
    intercept[IllegalArgumentException] {
      Snapshots.changesBetween(spark, root2, 1, 3)
    }
  }

  test("src20 deletion vectors: data-free commits, exact removal, pinned history") {
    import org.apache.spark.sql.functions._
    import graft.sources.Snapshots
    val root = Snapshots.buildSrc20(spark, sfDir)
    // a delete commit writes NO data files: v3/v4 list exactly v2's
    // data dirs, so the delete's cost is the sidecar alone
    assert(Snapshots.dirsOf(spark, root, 3) == Snapshots.dirsOf(spark, root, 2))
    assert(Snapshots.dirsOf(spark, root, 4) == Snapshots.dirsOf(spark, root, 2))
    assert(Snapshots.dvDirsOf(spark, root, 2).isEmpty)
    assert(Snapshots.dvDirsOf(spark, root, 3).size == 1)
    assert(Snapshots.dvDirsOf(spark, root, 4).size == 2)
    // the DV-applied read removes EXACTLY the predicate's rows: same
    // event_id set as the raw-table filter, both directions
    val ev = Tables.events(spark, sfDir)
    val expect3 = ev.filter(!(col("user_id") % 7 === 3)).select("event_id")
    val got3 = Snapshots.read(spark, root, Some(3)).select("event_id")
    assert(got3.exceptAll(expect3).isEmpty && expect3.exceptAll(got3).isEmpty)
    // pinned pre-delete history still shows every row
    assert(Snapshots.read(spark, root, Some(2)).count() == ev.count())
    // the sidecar side of the anti-join broadcasts; the scan side stays
    // a parquet scan (no shuffle added by merge-on-read)
    val plan = Snapshots.read(spark, root, Some(4))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"DV merge not a broadcast anti-join:\n$plan")
  }

  test("src20 deletion vectors: no-op erasure, purge on compact, feed refusal") {
    import org.apache.spark.sql.functions._
    import graft.sources.Snapshots
    val root = s"${graft.Scratch.dir}/src20_mut_test"
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(root), true)
    val ev = Tables.events(spark, sfDir).limit(300).cache()
    Snapshots.commit(spark, root, ev.filter(col("event_id") < 150))
    Snapshots.commit(spark, root, ev.filter(col("event_id") >= 150))
    // an erasure request matching nothing is a safe no-op commit
    Snapshots.deleteWhere(spark, root, col("user_id") === -1L)
    assert(Snapshots.read(spark, root).count() == ev.count())
    Snapshots.deleteWhere(spark, root, col("user_id") % 3 === 1)
    val live = Snapshots.read(spark, root)
    val expected = ev.filter(!(col("user_id") % 3 === 1))
    assert(live.count() == expected.count())
    // an APPEND after a delete carries the sidecars forward: deleted
    // rows stay dead, the appended rows all land
    Snapshots.commit(spark, root, ev.limit(0)) // empty append, v5
    assert(Snapshots.dvDirsOf(spark, root, 5).size == 2)
    assert(Snapshots.read(spark, root).count() == expected.count())
    // a deleted row is NOT double-recorded by a later overlapping delete
    Snapshots.deleteWhere(spark, root, col("user_id") % 3 === 1) // v6
    val dv6 = spark.read.parquet(Snapshots.dvDirsOf(spark, root, 6): _*)
    assert(dv6.count() == dv6.distinct().count())
    assert(dv6.count() == ev.count() - expected.count())
    // compact materializes every outstanding delete: same rows, no
    // sidecars, and the pinned pre-compaction version is untouched
    val vPre = Snapshots.headVersion(spark, root)
    val vPost = Snapshots.compact(spark, root, Seq("user_id"))
    assert(Snapshots.dvDirsOf(spark, root, vPost).isEmpty)
    val post = Snapshots.read(spark, root, Some(vPost)).select("event_id")
    val pre = Snapshots.read(spark, root, Some(vPre)).select("event_id")
    assert(post.exceptAll(pre).isEmpty && pre.exceptAll(post).isEmpty)
    // the change feed refuses a range crossing a delete commit (the
    // logical change includes removals), and still answers before it
    assert(Snapshots.changesBetween(spark, root, 1, 2).count() > 0)
    intercept[IllegalArgumentException] {
      Snapshots.changesBetween(spark, root, 2, 4)
    }
    // VACUUM below the compacted version: history is forfeited, the
    // kept state is untouched, and the erased rows' HISTORICAL BYTES
    // are gone from disk — no parquet file under the root still holds
    // a deleted user's row (the retention half of the GDPR story)
    val keepRows = Snapshots.read(spark, root, Some(vPost)).count()
    val nDropped = Snapshots.vacuum(spark, root, vPost)
    assert(nDropped > 0, "vacuum should delete the pre-compaction dirs")
    assert(Snapshots.read(spark, root, Some(vPost)).count() == keepRows)
    intercept[Exception] { Snapshots.read(spark, root, Some(2)).count() }
    val survivors = spark.read.option("recursiveFileLookup", "true")
      .parquet(root + "/data")
    assert(survivors.filter(col("user_id") % 3 === 1).count() == 0,
      "vacuumed history still holds erased rows")
    // append-lineage safety: a shared data dir referenced by a KEPT
    // manifest survives vacuum even though dropped manifests list it
    val root3 = s"${graft.Scratch.dir}/src20_vac_append"
    f.delete(new org.apache.hadoop.fs.Path(root3), true)
    Snapshots.commit(spark, root3, ev.filter(col("event_id") < 150))
    Snapshots.commit(spark, root3, ev.filter(col("event_id") >= 150))
    assert(Snapshots.vacuum(spark, root3, 2) == 0,
      "append lineage shares every dir with HEAD — nothing to drop")
    assert(Snapshots.read(spark, root3).count() == ev.count())
    ev.unpersist()
  }

  test("snapshots: stale replace raises conflict; appended rows survive") {
    import graft.sources.{Snapshots, SnapshotConflictException}
    import org.apache.spark.sql.functions.col
    val root = s"${graft.Scratch.dir}/snap_conflict"
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(root), true)
    val ev = Tables.events(spark, sfDir).limit(300).cache()
    try {
      val a = ev.filter(col("event_id") % 3 === 0)
      val b = ev.filter(col("event_id") % 3 === 1)
      assert(Snapshots.commit(spark, root, a) == 1)
      // a replace derived from v1 ... while an append lands v2 first
      val base = Snapshots.headVersion(spark, root)
      assert(Snapshots.commit(spark, root, b) == 2)
      // the ADVICE-high lost-update scenario: pre-fix, the stale
      // replace would blindly retry at v3 with its v1-derived file set
      // and silently drop b's committed rows — now it must CONFLICT
      val e = intercept[SnapshotConflictException] {
        Snapshots.replaceAt(spark, root, base, a.limit(5), None)
      }
      assert(e.getMessage.contains("lost the race"), e.getMessage)
      // nothing was lost or half-committed
      assert(Snapshots.headVersion(spark, root) == 2)
      assert(Snapshots.read(spark, root).count() == a.count() + b.count())
      // the loser removed its never-referenced data dir eagerly: no
      // orphan remains even at a zero age horizon
      assert(Snapshots.vacuumOrphans(spark, root, olderThanMs = 0) == 0)
      // a replace derived from the CURRENT head still commits
      assert(Snapshots.commitReplace(spark, root,
        Snapshots.read(spark, root)) == 3)
      assert(Snapshots.read(spark, root).count() == a.count() + b.count())
    } finally ev.unpersist()
  }

  test("snapshots: appends racing compactions lose no rows (lost-update)") {
    import graft.sources.Snapshots
    import org.apache.spark.sql.functions.col
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = s"${graft.Scratch.dir}/snap_compact_race"
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(root), true)
    val ev = Tables.events(spark, sfDir).limit(90).cache()
    try {
      assert(Snapshots.commit(spark, root,
        ev.filter(col("event_id") % 9 === 0)) == 1)
      // writer thread: 8 appends; maintenance thread: 3 compactions
      // interleaved — every compaction that loses its CAS race to an
      // append must REBASE on the new head (re-read + rewrite), so the
      // final state carries every appended row whatever the timing
      val appender = Future {
        (1 to 8).foreach { i =>
          Snapshots.commit(spark, root, ev.filter(col("event_id") % 9 === i))
        }
      }
      val compactor = Future {
        (1 to 3).foreach { _ =>
          Thread.sleep(150)
          Snapshots.compact(spark, root, Seq.empty)
        }
      }
      Await.result(Future.sequence(Seq(appender, compactor)), 180.seconds)
      // all 9 slices present: no append's rows were dropped by a
      // concurrently-committing compaction
      assert(Snapshots.read(spark, root).count() == ev.count())
      assert(Snapshots.headVersion(spark, root) == 12)
    } finally ev.unpersist()
  }

  test("snapshots schema contract: pinned narrow, merged head, fork rejected") {
    import graft.sources.Snapshots
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = s"${graft.Scratch.dir}/snap_schema"
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(root), true)
    assert(Snapshots.commit(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "tag")) == 1)
    // an append ADDING a column widens the committed contract
    assert(Snapshots.commit(spark, root,
      Seq((3L, 1.5)).toDF("id", "score")) == 2)
    // old pinned reader keeps its own version's narrower schema
    assert(Snapshots.read(spark, root, Some(1)).columns.toSeq ==
      Seq("id", "tag"))
    // head reader sees the merged contract, late columns null on old dirs
    val head = Snapshots.read(spark, root)
    assert(head.columns.toSeq == Seq("id", "tag", "score"))
    assert(head.filter(col("id") === 1L && col("score").isNull).count() == 1)
    assert(head.filter(col("id") === 3L && col("tag").isNull
      && col("score") === 1.5).count() == 1)
    // a TYPE FORK on a shared column is rejected loudly, nothing
    // half-commits (silently dropping/mangling a column is the failure
    // mode this contract exists to prevent)
    val e = intercept[IllegalArgumentException] {
      Snapshots.commit(spark, root, Seq(("x", "y")).toDF("id", "tag"))
    }
    assert(e.getMessage.contains("incompatible append"), e.getMessage)
    assert(Snapshots.headVersion(spark, root) == 2)
    assert(Snapshots.read(spark, root).count() == 3)
    // a REPLACE rewrites the contract outright (the documented path for
    // a type change); pinned history keeps its own schemas
    assert(Snapshots.commitReplace(spark, root,
      Seq(("x", 9L)).toDF("id", "n")) == 3)
    assert(Snapshots.read(spark, root).columns.toSeq == Seq("id", "n"))
    assert(Snapshots.read(spark, root, Some(2)).columns.toSeq ==
      Seq("id", "tag", "score"))
    // deletes carry the contract forward untouched
    Snapshots.commit(spark, root, Seq(("y", 1L)).toDF("id", "n"))
    assert(Snapshots.deleteWhere(spark, root, col("n") === 9L) == 5)
    assert(Snapshots.read(spark, root).columns.toSeq == Seq("id", "n"))
    assert(Snapshots.read(spark, root).count() == 1)
  }

  test("snapshots MERGE: one commit replaces matched + inserts new, pinned intact") {
    import graft.sources.Snapshots
    import spark.implicits._
    val root = s"${graft.Scratch.dir}/snap_merge"
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(root), true)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, Double)] =
      df.orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(Snapshots.commit(spark, root,
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
        .toDF("id", "tag", "v")) == 1)
    val src = Seq((2L, "B", 200.0), (9L, "i", 90.0)).toDF("id", "tag", "v")
    assert(Snapshots.mergeInto(spark, root, src, Seq("id")) == 2)
    val want = Seq((1L, "a", 10.0), (2L, "B", 200.0), (3L, "c", 30.0),
      (9L, "i", 90.0))
    assert(rows(Snapshots.read(spark, root)) == want)
    // the pinned pre-merge version reads back untouched
    assert(rows(Snapshots.read(spark, root, Some(1))) ==
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
    // re-merging the same source converges on the same state
    // (latest-wins: the replay replaces its own rows)
    assert(Snapshots.mergeInto(spark, root, src, Seq("id")) == 3)
    assert(rows(Snapshots.read(spark, root)) == want)
    // duplicate source keys would BOTH survive — refused loudly
    val e = intercept[IllegalArgumentException] {
      Snapshots.mergeInto(spark, root,
        Seq((5L, "x", 1.0), (5L, "y", 2.0)).toDF("id", "tag", "v"), Seq("id"))
    }
    assert(e.getMessage.contains("duplicate keys"), e.getMessage)
    assert(Snapshots.headVersion(spark, root) == 3)
    // a merge commit is deletes + adds at once: the file-add change
    // feed must refuse the range, not mis-ship it
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.changesBetween(spark, root, 1, 2)
    }
    assert(e2.getMessage.contains("delete"), e2.getMessage)
    // compaction materializes the merged state and purges the sidecars
    Snapshots.compact(spark, root, Seq.empty)
    assert(rows(Snapshots.read(spark, root)) == want)
    assert(Snapshots.dvDirsOf(spark, root,
      Snapshots.headVersion(spark, root)).isEmpty)
  }

  test("snapshots MERGE: dup refusal rides the write, not a separate job") {
    import graft.sources.Snapshots
    import org.apache.spark.JobCount
    import spark.implicits._
    val root = s"${graft.Scratch.dir}/snap_merge_jobs"
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(root), true)
    Snapshots.commit(spark, root,
      Seq((1L, "a"), (2L, "b"), (5L, "e"), (6L, "f")).toDF("id", "tag"))
    val first = JobCount(spark.sparkContext) {
      Snapshots.mergeInto(spark, root,
        Seq((2L, "B"), (3L, "c")).toDF("id", "tag"), Seq("id"))
    }
    val second = JobCount(spark.sparkContext) {
      Snapshots.mergeInto(spark, root,
        Seq((3L, "C"), (4L, "d")).toDF("id", "tag"), Seq("id"))
    }
    var got = Set.empty[(Long, String)]
    val read = JobCount(spark.sparkContext) {
      got = Snapshots.read(spark, root).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    }
    assert(got == Set((1L, "a"), (2L, "B"), (3L, "C"), (4L, "d"), (5L, "e"),
      (6L, "f")))
    // measured shape at this Spark version. A first merge runs 4 jobs:
    // the data write (AQE window-shuffle job + write job, the dup check
    // riding it via dupValidated) and the sidecar write (broadcast of
    // the key set read back from the written dir + write job). A merge
    // into a table that already carries sidecars adds ONE job: the
    // sidecar broadcast (read with its fixed schema, no distinct
    // shuffle, no schema-inference job). A read with sidecars is the
    // same broadcast plus its action. If a bound breaks, a separate
    // validation job, a second evaluation of the source, a distinct or
    // an inference job crept back in. These pins only get stricter.
    assert(first <= 4, s"first mergeInto ran $first jobs")
    assert(second <= 5, s"mergeInto over sidecars ran $second jobs")
    assert(read <= 2, s"Snapshots.read with sidecars ran $read jobs")
    // both merges stayed on the sidecar path: even one removed row per
    // added row would leave 2 dead of 6 rows after the first and 3 dead
    // of 8 after the second
    assert(Snapshots.manifest(spark, root, 2).recorded ==
      Some(Snapshots.Counts(6, 1)))
    assert(Snapshots.dvDirsOf(spark, root, 3).size == 2)
  }

  test("snapshots MERGE: once dead rows reach live ones, the next merge rewrites in the same commit") {
    import graft.sources.Snapshots
    import org.apache.spark.JobCount
    import spark.implicits._
    val root = s"${graft.Scratch.dir}/snap_merge_rewrite"
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(root), true)
    def rows(v: Option[Int] = None): Set[(Long, String)] =
      Snapshots.read(spark, root, v).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    Snapshots.commit(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag"))
    assert(Snapshots.manifest(spark, root, 1).recorded ==
      Some(Snapshots.Counts(3, 0)))
    // v2 replaces one row by sidecar: 4 rows, 1 dead, 3 live
    assert(Snapshots.mergeInto(spark, root,
      Seq((1L, "A")).toDF("id", "tag"), Seq("id")) == 2)
    assert(Snapshots.manifest(spark, root, 2).recorded ==
      Some(Snapshots.Counts(4, 1)))
    // v3 adds 2 rows: one removed row per added row would leave 6 rows,
    // 3 dead, 3 live — due, so it rewrites without writing a sidecar
    val merge = JobCount(spark.sparkContext) {
      assert(Snapshots.mergeInto(spark, root,
        Seq((1L, "X"), (2L, "C")).toDF("id", "tag"), Seq("id")) == 3)
    }
    // ONE version: the kept live rows and the merge's own dir, no
    // sidecar, no dir of v2 left in HEAD, and the counts restart
    val m3 = Snapshots.manifest(spark, root, 3)
    assert(m3.sidecars.isEmpty && m3.pathDvs.isEmpty && m3.dirs.size == 2,
      m3.toString)
    assert(m3.dirs.toSet.intersect(Snapshots.dirsOf(spark, root, 2).toSet)
      .isEmpty)
    assert(m3.recorded == Some(Snapshots.Counts(3, 0)))
    var got = Set.empty[(Long, String)]
    val read = JobCount(spark.sparkContext) { got = rows() }
    assert(got == Set((1L, "X"), (2L, "C"), (3L, "c")))
    val plan = Snapshots.read(spark, root).queryExecution.executedPlan.toString
    assert(!plan.contains("LeftAnti") && !plan.contains("Broadcast"),
      s"a rewritten HEAD still anti-joins sidecars:\n$plan")
    // history is untouched
    assert(rows(Some(2)) == Set((1L, "A"), (2L, "b"), (3L, "c")))
    assert(rows(Some(1)) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // measured shape at this Spark version. The rewrite merge runs 5
    // jobs: the data write (AQE window-shuffle job + write job, the dup
    // check riding it) and the kept-rows write (the broadcast of HEAD's
    // sidecar, the broadcast of the key set read back from the written
    // dir, the write job). The read after it runs its action only: no
    // sidecar broadcast is left to build.
    assert(merge <= 5, s"rewrite mergeInto ran $merge jobs")
    assert(read <= 1, s"Snapshots.read after a rewrite ran $read jobs")
  }

  test("snapshots manifest: a root holding [1], a quote and a space keeps every dir") {
    import graft.sources.Snapshots
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val root = s"${graft.Scratch.dir}/snap odd \"q\" t[1]"
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(root), true)
    val ids = spark.range(0, 20, 1, 2).select(col("id"), lit("a").as("tag"))
    assert(Snapshots.commit(spark, root, ids.filter(col("id") < 10)) == 1)
    assert(Snapshots.commit(spark, root, ids.filter(col("id") >= 10)) == 2)
    assert(Snapshots.dirsOf(spark, root, 2).size == 2)
    assert(Snapshots.dirsOf(spark, root, 2).forall(_.startsWith(root)))
    assert(Snapshots.read(spark, root).count() == 20)
    assert(Snapshots.read(spark, root, Some(1)).count() == 10)
    assert(Snapshots.changesBetween(spark, root, 1, 2).count() == 10)
    // sidecars and merge keys are read back from under the same root
    assert(Snapshots.deleteWhere(spark, root, col("id") % 5 === 0) == 3)
    assert(Snapshots.mergeInto(spark, root,
      Seq((1L, "b"), (30L, "c")).toDF("id", "tag"), Seq("id")) == 4)
    val live = Snapshots.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(live.size == 17 && live(1L) == "b" && live(30L) == "c" &&
      !live.contains(5L))
    fsys.delete(new org.apache.hadoop.fs.Path(root), true)
  }

  test("snapshots: a table with file_path and row_index columns deletes and merges by them") {
    import graft.sources.Snapshots
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = s"${graft.Scratch.dir}/snap_position_names"
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(root), true)
    // the sidecar scan adds the parquet positions beside the table's own
    // columns; same-named table columns must stay the ones a condition
    // or a merge key names
    Snapshots.commit(spark, root, Seq((1L, "a", 10L), (2L, "b", 20L),
      (3L, "c", 30L)).toDF("id", "file_path", "row_index"))
    assert(Snapshots.deleteWhere(spark, root, col("file_path") === "b") == 2)
    assert(Snapshots.mergeInto(spark, root,
      Seq((9L, "c", 31L)).toDF("id", "file_path", "row_index"),
      Seq("file_path")) == 3)
    val got = Snapshots.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1L, "a", 10L), (9L, "c", 31L)))
  }

  test("snapshots manifest: pre-change manifests parse unchanged; counts come from footers once") {
    import graft.sources.Snapshots
    import graft.sources.Snapshots.{Counts, DataFile, Listed, Manifest}
    import org.apache.spark.sql.types._
    import spark.implicits._
    val sc = StructType(Seq(StructField("id", LongType),
      StructField("tag", StringType)))
    val b64 = java.util.Base64.getEncoder
      .encodeToString(sc.json.getBytes("UTF-8"))
    // verbatim forms earlier writers published: no file list, and "dvs"
    // names path-keyed sidecars
    assert(Manifest.parse("""{"version": 3, "dirs": ["/t/data/wa", "/t/data/wb"]}""")
      == Manifest(Seq("/t/data/wa", "/t/data/wb"), None, Nil, Nil, None, None))
    assert(Manifest.parse(
      """{"version": 2, "dirs": ["/t/data/wa"], "dvs": ["/t/dv/wc"]}""")
      == Manifest(Seq("/t/data/wa"), None, Nil, Seq("/t/dv/wc"), None, None))
    assert(Manifest.parse(
      s"""{"version": 4, "dirs": ["/t/data/wa"], "dvs": [], "schema": "$b64"}""")
      == Manifest(Seq("/t/data/wa"), None, Nil, Nil, Some(sc), None))
    // the current form round-trips any path character
    val odd = Manifest(Seq("/t [1]/\"q\"/data/wa", "/t/data/w]"),
      Some(Seq(DataFile("/t [1]/\"q\"/data/wa/part-0.parquet", 812L, 3L),
        DataFile("/t/data/w]/part-1.parquet", 640L, 2L))),
      Seq(Listed("/t/dv/w,\\", Seq(DataFile("/t/dv/w,\\/p.parquet", 90L, 2L)))),
      Seq("/t/dv/wold"), Some(sc), Some(Counts(5, 2)))
    assert(Manifest.parse(odd.toJson(7)) == odd)
    // a table whose manifests are in the pre-count form, with a
    // path-keyed sidecar, reads as before, and its next commit records
    // counts taken from the footers
    val root = s"${graft.Scratch.dir}/snap_legacy_counts"
    legacyTable(root, (1L to 6L).map(i => (i, "a")).toDF("id", "tag"),
      "id <= 2", counts = false)
    assert(Snapshots.manifest(spark, root, 2).recorded.isEmpty)
    assert(Snapshots.read(spark, root, Some(1)).count() == 6)
    assert(Snapshots.read(spark, root).count() == 4)
    assert(Snapshots.commit(spark, root, Seq((7L, "b")).toDF("id", "tag")) == 3)
    assert(Snapshots.manifest(spark, root, 3).recorded == Some(Counts(7, 2)))
    assert(Snapshots.read(spark, root).count() == 5)
  }

  /** A table in the form published before manifests listed files: v1
    * holds `rows` in two files, v2 adds a (file_path, row_index) sidecar
    * of the rows matching `dead`, written as that writer wrote it (the
    * positions a plain parquet read of the dir reports), and both
    * manifests carry only dirs, dvs, schema and (with `counts`) counts.
    */
  private def legacyTable(root: String, rows: org.apache.spark.sql.DataFrame,
      dead: String, counts: Boolean): Unit = {
    import graft.sources.Snapshots
    import org.apache.spark.sql.functions.{col, expr}
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(root), true)
    Snapshots.commit(spark, root, rows.coalesce(2))
    val dir = Snapshots.dirsOf(spark, root, 1).head
    val dv = s"$root/dv/wlegacy"
    spark.read.parquet(dir).filter(expr(dead))
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("row_index"))
      .write.parquet(dv)
    val b64 = java.util.Base64.getEncoder
      .encodeToString(rows.schema.json.getBytes("UTF-8"))
    val n = rows.count()
    val d = rows.filter(expr(dead)).count()
    def q(ps: Seq[String]) = ps.map(p => "\"" + p + "\"").mkString(", ")
    Seq(1 -> Nil, 2 -> Seq(dv)).foreach { case (v, dvs) =>
      val c = if (!counts) "" else s""", "rows": $n, "dead": ${if (v == 1) 0 else d}"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/manifests/v$v.json"),
        (s"""{"version": $v, "dirs": [${q(Seq(dir))}], "dvs": [${q(dvs)}], """ +
          s""""schema": "$b64"$c}""").getBytes("UTF-8"))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/HEAD"),
      "2".getBytes("UTF-8"))
    assert(Snapshots.manifest(spark, root, 2).pathDvs == Seq(dv))
  }

  test("snapshots: a pre-change table with a path-keyed sidecar reads, merges and time-travels as before") {
    import graft.sources.Snapshots
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = s"${graft.Scratch.dir}/snap legacy dv"
    def rows(v: Option[Int] = None): Set[(Long, String)] =
      Snapshots.read(spark, root, v).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val base = (1L to 20L).map(i => (i, "a"))
    legacyTable(root, base.toDF("id", "tag"), "id <= 2 OR id = 11",
      counts = true)
    val v2 = base.filterNot { case (i, _) => i <= 2 || i == 11 }.toSet
    assert(rows(Some(1)) == base.toSet)
    assert(rows() == v2)
    // a merge over it keeps the legacy sidecar, adds a position sidecar
    // and records the file list in the order the legacy listing gave
    assert(Snapshots.mergeInto(spark, root,
      Seq((3L, "b"), (12L, "b"), (30L, "c")).toDF("id", "tag"), Seq("id")) == 3)
    val m3 = Snapshots.manifest(spark, root, 3)
    assert(m3.pathDvs == Snapshots.manifest(spark, root, 2).pathDvs)
    assert(m3.sidecars.size == 1)
    val listed = Snapshots.manifest(spark, root, 2).dataFiles
    val recorded = Snapshots.Manifest.parse(new String(java.nio.file.Files
      .readAllBytes(java.nio.file.Paths.get(s"$root/manifests/v3.json")),
      "UTF-8")).files
    assert(recorded.exists(_.take(listed.size) == listed), recorded.toString)
    assert(m3.recorded == Some(Snapshots.Counts(23, 5)))
    val v3 = v2.filterNot(r => Set(3L, 12L)(r._1)) ++
      Set((3L, "b"), (12L, "b"), (30L, "c"))
    assert(rows() == v3)
    // an append keeps both kinds of sidecar live
    assert(Snapshots.commit(spark, root, Seq((40L, "d")).toDF("id", "tag")) == 4)
    assert(rows() == v3 + ((40L, "d")))
    // a rewrite drops the legacy sidecar with the rest
    assert(Snapshots.deleteWhere(spark, root, col("id") > 4L) == 5)
    val m5 = Snapshots.manifest(spark, root, 5)
    assert(m5.pathDvs.isEmpty && m5.sidecars.isEmpty, m5.toString)
    assert(rows() == Set((3L, "b"), (4L, "a")))
    // time travel to every earlier version reads as it did
    assert(rows(Some(1)) == base.toSet)
    assert(rows(Some(2)) == v2)
    assert(rows(Some(3)) == v3)
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root), true)
  }

  test("snapshots: after 40 appends a read runs no job before its action") {
    import graft.sources.Snapshots
    import org.apache.spark.JobCount
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = s"${graft.Scratch.dir}/snap_40_appends"
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(root), true)
    (1 to 40).foreach { i =>
      Snapshots.commit(spark, root, Seq((i.toLong, "a")).toDF("id", "tag"))
    }
    // 40 dirs is past Spark's 32-path parallel-listing threshold: a scan
    // that listed them would run a listing job here
    var df: org.apache.spark.sql.DataFrame = null
    val plain = JobCount(spark.sparkContext) { df = Snapshots.read(spark, root) }
    assert(plain == 0, s"Snapshots.read ran $plain jobs before its action")
    assert(df.count() == 40)
    assert(Snapshots.deleteWhere(spark, root, col("id") === 7L) == 41)
    val withDv = JobCount(spark.sparkContext) { df = Snapshots.read(spark, root) }
    assert(withDv == 0, s"Snapshots.read over a sidecar ran $withDv jobs")
    assert(df.count() == 39)
    // the sidecar anti-join is keyed by one bigint position, not a path
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti") && !plan.contains("file_path"),
      s"sidecar join not keyed by position:\n$plan")
    fsys.delete(new org.apache.hadoop.fs.Path(root), true)
  }

  test("snapshots: a failed delete leaves no sidecar or data dir behind") {
    import graft.sources.Snapshots
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.{lit, raise_error}
    import spark.implicits._
    val root = s"${graft.Scratch.dir}/snap_failed_delete"
    val fsys = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new Path(root), true)
    Snapshots.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    def files(): Set[String] = Seq("data", "dv").map(d => new Path(s"$root/$d"))
      .filter(fsys.exists).flatMap(fsys.listStatus(_).map(_.getPath.getName))
      .toSet
    val before = files()
    // the condition fails inside the sidecar's write job
    intercept[Exception] {
      Snapshots.deleteWhere(spark, root,
        raise_error(lit("refused")).cast("boolean"))
    }
    assert(Snapshots.headVersion(spark, root) == 1)
    assert(files() == before, "the failed attempt left files behind")
  }

  test("snapshots MERGE: a nondeterministic source deletes exactly the keys it wrote") {
    import graft.sources.Snapshots
    import org.apache.spark.sql.functions.{col, lit, udf}
    val root = s"${graft.Scratch.dir}/snap_merge_nondet"
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(root), true)
    val n = 400L
    Snapshots.commit(spark, root,
      spark.range(0, n, 1, 4).select(col("id"), lit("old").as("tag")))
    // every evaluation of the source keeps a different random half: a
    // merge that evaluated it twice would delete one set of keys and
    // append another
    val coin = udf(() => scala.util.Random.nextBoolean()).asNondeterministic()
    val src = spark.range(0, n, 1, 4).filter(coin())
      .select(col("id"), lit("new").as("tag"))
    assert(Snapshots.mergeInto(spark, root, src, Seq("id")) == 2)
    val written = Snapshots.dirsOf(spark, root, 2)
      .diff(Snapshots.dirsOf(spark, root, 1))
    val landed = spark.read.parquet(written: _*).collect()
      .map(_.getLong(0)).toSet
    assert(landed.nonEmpty && landed.size < n, s"${landed.size} landed")
    val live = Snapshots.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(live.groupBy(_._1).forall(_._2.size == 1),
      "a key has more than one live row")
    assert(live.map(_._1).toSet == (0L until n).toSet, "a key lost its row")
    assert(live.filter(_._2 == "new").map(_._1).toSet == landed)
  }

  test("snapshots versioned MERGE: out-of-order replay cannot clobber newer state") {
    import graft.sources.Snapshots
    import spark.implicits._
    val root = s"${graft.Scratch.dir}/snap_vmerge"
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(root), true)
    def rows(): Set[(Long, String, Long)] = Snapshots.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    Snapshots.commit(spark, root,
      Seq((1L, "a", 5L), (2L, "b", 5L)).toDF("id", "tag", "v"))
    // the in-order leg: newer versions replace, new keys insert
    Snapshots.mergeIntoVersioned(spark, root,
      Seq((2L, "B", 7L), (3L, "c", 7L)).toDF("id", "tag", "v"),
      Seq("id"), "v")
    val want = Set((1L, "a", 5L), (2L, "B", 7L), (3L, "c", 7L))
    assert(rows() == want)
    // OUT-OF-ORDER replay: older versions for live keys must be
    // dropped (no resurrection), genuinely new keys still insert
    Snapshots.mergeIntoVersioned(spark, root,
      Seq((2L, "old", 6L), (3L, "older", 1L), (4L, "d", 2L))
        .toDF("id", "tag", "v"), Seq("id"), "v")
    assert(rows() == want + ((4L, "d", 2L)),
      "an older replayed version clobbered newer state")
    // equal-version re-apply converges (replay idempotence)
    Snapshots.mergeIntoVersioned(spark, root,
      Seq((2L, "B", 7L)).toDF("id", "tag", "v"), Seq("id"), "v")
    assert(rows() == want + ((4L, "d", 2L)))
    // duplicate source keys refused (reduce-first contract)
    val e = intercept[IllegalArgumentException] {
      Snapshots.mergeIntoVersioned(spark, root,
        Seq((9L, "x", 1L), (9L, "y", 2L)).toDF("id", "tag", "v"),
        Seq("id"), "v")
    }
    assert(e.getMessage.contains("duplicate keys"), e.getMessage)
  }

  test("snapshots: pre-contract parent anchors on inferred schema, never narrows") {
    import graft.sources.Snapshots
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // strip the schema key in place — manifests publish via hard link,
    // so v<n>.json carries no .crc sidecar and a raw edit stays readable
    def stripSchema(root: String, v: Int): Unit = {
      val p = java.nio.file.Paths.get(s"$root/manifests/v$v.json")
      val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      assert(txt.contains("\"schema\""))
      java.nio.file.Files.write(p,
        txt.replaceAll(""",\s*"schema"\s*:\s*"[^"]*"""", "").getBytes("UTF-8"))
    }
    val root = s"${graft.Scratch.dir}/snap_precontract"
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(root), true)
    assert(Snapshots.commit(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "tag")) == 1)
    stripSchema(root, 1) // a table committed before the schema contract
    assert(Snapshots.read(spark, root).columns.toSeq == Seq("id", "tag"))
    // the first post-upgrade append carries FEWER columns: the pinned
    // contract must be the UNION with what the parent's files hold —
    // pinning df.schema here silently dropped `tag` for HEAD readers
    assert(Snapshots.commit(spark, root, Seq(3L).toDF("id")) == 2)
    val head = Snapshots.read(spark, root)
    assert(head.columns.toSeq == Seq("id", "tag"),
      s"pre-contract append narrowed the table to ${head.columns.toSeq}")
    assert(head.filter(col("id") === 1L && col("tag") === "a").count() == 1)
    assert(head.filter(col("id") === 3L && col("tag").isNull).count() == 1)
    // and a type fork against pre-contract data is refused, not pinned
    val root2 = s"${graft.Scratch.dir}/snap_precontract2"
    fsys.delete(new org.apache.hadoop.fs.Path(root2), true)
    Snapshots.commit(spark, root2, Seq((1L, "a")).toDF("id", "tag"))
    stripSchema(root2, 1)
    val e = intercept[IllegalArgumentException] {
      Snapshots.commit(spark, root2, Seq(("x", "y")).toDF("id", "tag"))
    }
    assert(e.getMessage.contains("incompatible append"), e.getMessage)
    assert(Snapshots.read(spark, root2).count() == 1)
  }

  test("snapshots: stale HEAD hint self-heals; vacuum repairs before truncating") {
    import graft.sources.Snapshots
    import org.apache.spark.sql.functions.col
    val root = s"${graft.Scratch.dir}/snap_stale_head"
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(root), true)
    val ev = Tables.events(spark, sfDir).limit(60).cache()
    // raw java.nio: HEAD is checksum-free by design (see Snapshots'
    // hintFs) — a checksummed create here would plant a .crc sidecar
    // the production raw renames deliberately never maintain
    def writeHead(v: String): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/HEAD"),
        v.getBytes("UTF-8"))
    def readHead(): String =
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$root/HEAD")), "UTF-8").trim
    try {
      (0 until 6).foreach(i =>
        Snapshots.commit(spark, root, ev.filter(col("event_id") % 6 === i)))
      // a hint lagging >=2 (crash after publish before advance, twice
      // over — or an older concurrent advance landing last): the probe
      // still resolves AND repairs the pointer, so the gap is paid once,
      // not on every future resolution
      writeHead("2")
      assert(Snapshots.headVersion(spark, root) == 6)
      assert(readHead() == "6", "probe must self-heal the HEAD hint")
      // the ADVICE-medium gap: stale hint + vacuum past it used to
      // strand every reader (probe stops at a truncated manifest).
      // vacuum now re-anchors HEAD before truncating
      writeHead("1")
      // (dropped-dir count is 0 here: append lineage shares every dir
      // with HEAD — the vacuum's work is the manifest truncation)
      assert(Snapshots.vacuum(spark, root, 5) == 0)
      assert(!fsys.exists(new org.apache.hadoop.fs.Path(
        s"$root/manifests/v4.json")), "manifests below the floor truncate")
      assert(readHead() == "6")
      assert(Snapshots.headVersion(spark, root) == 6)
      assert(Snapshots.read(spark, root).count() == ev.count())
      assert(Snapshots.commit(spark, root, ev.limit(1)) == 7)
    } finally ev.unpersist()
  }

  test("snapshots: 200-commit managed history keeps metadata flat") {
    import graft.sources.Snapshots
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = s"${graft.Scratch.dir}/snap_longhist"
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(root), true)
    // ~200 micro-commits with the maintenance policy folded in — the
    // thousand-commit table in miniature. Flatness is asserted
    // STRUCTURALLY (bounded dir list, bounded manifest bytes, fresh
    // O(1) HEAD pointer), which is what makes commit latency and read
    // planning flat at ANY commit count; wall-clock medians are checked
    // against a generous bound only to catch an accidental O(N) rescan.
    val maxDirs = 12
    val times = (1 to 200).map { i =>
      val t0 = System.nanoTime()
      Snapshots.commitManaged(spark, root,
        Seq(i).toDF("batch").coalesce(1), maxDirs)
      (System.nanoTime() - t0) / 1e6
    }
    val head = Snapshots.headVersion(spark, root)
    assert(head >= 200, s"200 appends (+folds) must all land, head=$head")
    // bounded read planning: the manifest's dir list never exceeds the
    // policy bound (+1 for the append that triggers the next fold)
    assert(Snapshots.dirsOf(spark, root, head).size <= maxDirs + 1)
    // bounded metadata: the head manifest is O(maxDirs) bytes, not O(N)
    val mLen = fsys.getFileStatus(new org.apache.hadoop.fs.Path(
      s"$root/manifests/v$head.json")).getLen
    assert(mLen < 8192, s"head manifest grew to $mLen bytes")
    // O(1) resolution: the HEAD pointer is FRESH after arbitrary
    // commits — the next headVersion pays one hint read + one probe
    val in = fsys.open(new org.apache.hadoop.fs.Path(s"$root/HEAD"))
    val hint = try scala.io.Source.fromInputStream(in).mkString.trim
      finally in.close()
    assert(hint == head.toString, s"HEAD hint $hint vs head $head")
    // no row ever lost across ~200 commits and ~15 folds
    val st = Snapshots.read(spark, root)
    assert(st.count() == 200)
    assert(st.agg(org.apache.spark.sql.functions.countDistinct(col("batch")))
      .head.getLong(0) == 200)
    // pinned readers below and above any fold still resolve
    assert(Snapshots.read(spark, root, Some(3)).count() == 3)
    assert(Snapshots.read(spark, root, Some(head - 1)).count() >= 199)
    // generous latency guard: an O(N)-manifest implementation shows a
    // multiple-of-N drift by commit 200; flat metadata stays near-flat
    val (early, late) = (times.slice(10, 60), times.takeRight(50))
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    assert(med(late) < med(early) * 8 + 50,
      f"commit latency drifted: early ${med(early)}%.0f ms -> late ${med(late)}%.0f ms")
    // vacuum composes with the folded history: truncate below head-3,
    // everything kept resolves, below fails loudly, commits continue
    assert(Snapshots.vacuum(spark, root, head - 3) > 0)
    assert(Snapshots.headVersion(spark, root) == head)
    assert(Snapshots.read(spark, root).count() == 200)
    assert(Snapshots.read(spark, root, Some(head - 3)).count() > 0)
    val e = intercept[IllegalArgumentException] {
      Snapshots.read(spark, root, Some(3)).count()
    }
    assert(e.getMessage.contains("retention floor"), e.getMessage)
    assert(Snapshots.commitManaged(spark, root,
      Seq(201).toDF("batch").coalesce(1), maxDirs) > head)
    assert(Snapshots.read(spark, root).count() == 201)
  }

  test("snapshots OCC across PROCESSES: both JVMs' commits land, none lost") {
    import graft.sources.Snapshots
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val root = s"${graft.Scratch.dir}/snap_crossproc"
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(root), true)
    val tmp = Files.createTempDirectory("occ_race")
    val ready = s"$tmp/ready"; val start = s"$tmp/start"
    val log = new java.io.File(s"$tmp/child.log")
    val n = 10
    // a SECOND JVM (plain java -cp over the same classes + Spark jars,
    // sharing nothing with this session but the filesystem) races the
    // same root: the exclusive manifest link must arbitrate across
    // process boundaries — the actual two-drivers-one-lake deployment
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = new java.io.File("target/scala-2.13/classes").getAbsolutePath +
      ":/opt/spark/jars/*"
    val opens = Seq("java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio", "java.base/java.util",
      "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
      "java.base/sun.nio.cs", "java.base/sun.security.action",
      "java.base/sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = (Seq(javaBin, "-Xmx2g") ++ opens ++
      Seq("-cp", cp, "graft.OccRace", root, "child", n.toString,
        ready, start)).toArray
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(log)
    val proc = pb.start()
    try {
      val deadline = System.currentTimeMillis() + 120000
      while (!Files.exists(Paths.get(ready)) &&
        System.currentTimeMillis() < deadline && proc.isAlive)
        Thread.sleep(50)
      assert(Files.exists(Paths.get(ready)),
        s"child JVM never came up:\n${scala.io.Source.fromFile(log).mkString.takeRight(2000)}")
      Files.write(Paths.get(start), "go".getBytes("UTF-8"))
      (1 to n).foreach { i =>
        Snapshots.commit(spark, root,
          Seq(("parent", i)).toDF("writer", "seq").coalesce(1))
      }
      assert(proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
        "child JVM did not finish")
      assert(proc.exitValue() == 0,
        s"child failed:\n${scala.io.Source.fromFile(log).mkString.takeRight(2000)}")
      // every commit from both processes landed as its own version,
      // no version double-assigned, no row lost
      assert(Snapshots.headVersion(spark, root) == 2 * n)
      val st = Snapshots.read(spark, root)
      assert(st.count() == 2 * n)
      val perWriter = st.groupBy(col("writer")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(perWriter == Map("parent" -> n.toLong, "child" -> n.toLong),
        s"per-writer counts: $perWriter")
      // each writer's sequence complete — a lost CAS retry never
      // dropped or duplicated a commit
      assert(st.groupBy(col("writer"))
        .agg(org.apache.spark.sql.functions.countDistinct(col("seq")).as("d"))
        .filter(col("d") =!= n).count() == 0)
    } finally if (proc.isAlive) proc.destroyForcibly()
  }

  test("src22 SCD2: unchanged stay open, changes close+reopen, inserts") {
    val dim = Tables.customer(spark, sfDir)
      .select("c_custkey", "c_mktsegment", "c_acctbal").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    val hist = RoundTrip.src22(spark, sfDir).collect()
      .groupBy(_.getLong(0))
    // classify every dimension key independently and check its history
    dim.foreach { case (k, (seg, bal)) =>
      val inFeed = k % 4 == 0
      val fSeg = if (k % 20 == 0) "premium" else seg
      val fBal = if (k % 8 == 0) bal + 100.0 else bal
      val changed = inFeed && (fSeg != seg || fBal != bal)
      val rows = hist(k).sortBy(_.getString(3))
      if (!changed) {
        // matched-but-identical (and untouched) keys keep ONE open row
        // — the classic SCD2 bug is closing these
        assert(rows.length == 1 && rows(0).getBoolean(5) &&
          rows(0).isNullAt(4), s"key $k: $rows")
        assert(rows(0).getString(1) == seg && rows(0).getDouble(2) == bal)
      } else {
        assert(rows.length == 2, s"key $k: ${rows.length} rows")
        val (old, nw) = (rows(0), rows(1))
        assert(!old.getBoolean(5) && old.getString(4) == RoundTrip.SCD2_D1
          && old.getString(1) == seg && old.getDouble(2) == bal)
        assert(nw.getBoolean(5) && nw.isNullAt(4) &&
          nw.getString(1) == fSeg && nw.getDouble(2) == fBal)
      }
    }
    // inserts: exactly the %100 keys, one new-current row each
    val inserts = hist.keySet.diff(dim.keySet)
    assert(inserts == dim.keySet.filter(_ % 100 == 0).map(_ + 1000000L))
    inserts.foreach { k =>
      val rows = hist(k)
      assert(rows.length == 1 && rows(0).getBoolean(5) &&
        rows(0).getString(1) == "new_market" &&
        rows(0).getString(3) == RoundTrip.SCD2_D1)
    }
    // both change arms non-vacuous at this SF
    assert(dim.keySet.exists(k => k % 4 == 0 && k % 8 != 0 && k % 20 != 0))
    assert(dim.keySet.exists(_ % 8 == 0))
  }
}
