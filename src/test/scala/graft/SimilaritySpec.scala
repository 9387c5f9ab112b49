package graft

import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {

  test("s01 returns k descending-cosine neighbours excluding the query") {
    val rows = Similarity.s01(spark, sfDir).collect()
    assert(rows.length == 10)
    assert(!rows.exists(_.getAs[Long]("vec_id") == 0L))
    val cos = rows.map(_.getAs[Double]("cosine"))
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
  }

  test("s02 LSH top-k reaches recall@10 >= 0.7 against brute force") {
    // Random 64-dim data is LSH's worst case (no true near neighbours);
    // 16 tables x 4 bits still keeps expected recall ~0.9. Real corpora
    // with planted near-dups only do better.
    val exact = Similarity.s01(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val approx = Similarity.s02(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.7, s"recall@10 = $recall")
  }

  test("s02b prebuilt-index ANN equals s02 with no index rebuild in-plan") {
    // index rows are identical by construction (decimal plane-dot
    // accumulation is partitioning-independent), so the persisted path
    // must return exactly s02's rows — same recall contract by extension
    val live = Similarity.s02(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val pre = Similarity.s02b(spark, sfDir)
    val rows = pre.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(rows == live, s"prebuilt=$rows live=$live")
    // the query must not re-derive bucket codes over the corpus: no
    // Generate (posexplode) node anywhere in the executed plan, and the
    // persisted bucketed index table is what gets scanned
    val plan = pre.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Generate"), s"index rebuilt in-query:\n$plan")
    assert(plan.contains("graft_ann_idx"), "must read the persisted index")
  }

  test("s03 IVF top-k reaches recall@10 >= 0.7 against brute force") {
    // random data is IVF's worst case too (no cluster structure, so
    // k-means cells are arbitrary Voronoi regions); 2-way multi-
    // assignment + 3-of-8 probes keeps recall at the s02 bar
    val exact = Similarity.s01(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val ivf = Similarity.s03(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.7, s"recall@10 = $recall")
  }

  test("s03b prebuilt IVF equals s03 with no index rebuild in-plan") {
    // centroids are deterministic (decimal means, fixed seeding, tie-
    // broken argmax), so the persisted cells equal the live assignment
    val live = Similarity.s03(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val pre = Similarity.s03b(spark, sfDir)
    val rows = pre.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(rows == live, s"prebuilt=$rows live=$live")
    val plan = pre.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Generate"), s"index rebuilt in-query:\n$plan")
    assert(plan.contains("graft_ivf_cells"), "must read the persisted index")
  }

  test("s04 PQ top-k reaches recall@10 >= 0.7 against brute force") {
    // ADC over 8x16 codebooks then exact re-rank of the top-100
    // approximate scores; random data again the worst case (quantization
    // error is maximal when vectors have no cluster structure)
    val exact = Similarity.s01(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val pq = Similarity.s04(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.7, s"recall@10 = $recall")
  }

  test("s04b prebuilt PQ equals s04, scans codes not vectors, 4-bit codes") {
    val live = Similarity.s04(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val pre = Similarity.s04b(spark, sfDir)
    val rows = pre.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(rows == live, s"prebuilt=$rows live=$live")
    // the compressed corpus really is 8 nibble-range codes per vector
    val codes = spark.table(Similarity.ensurePqIndex(spark, sfDir)._1)
    val n = Tables.embeddings(spark, sfDir).count()
    assert(codes.count() == 8 * n)
    import org.apache.spark.sql.functions.{col, max}
    assert(codes.agg(max(col("code"))).collect()(0).getInt(0) < 16)
    // no Generate: neither codebook training nor encoding in the plan;
    // the scored scan is the codes table, vectors only in the re-rank
    val plan = pre.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Generate"), s"encoding re-run in-query:\n$plan")
    assert(plan.contains("graft_pq_codes"), "must read the persisted codes")
  }

  test("s05b LSH knn join: mean recall@10 >= 0.7 vs exact, no nested loop") {
    val exact = Similarity.s05(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(2))
      .groupBy(_._1).map { case (q, g) => q -> g.map(_._2).toSet }
    val lsh = Similarity.s05b(spark, sfDir)
    val approx = lsh.collect()
      .map(r => r.getLong(0) -> r.getLong(2))
      .groupBy(_._1).map { case (q, g) => q -> g.map(_._2).toSet }
    assert(exact.keySet == Similarity.KNN_PROBE_IDS.toSet)
    val recalls = exact.map { case (q, ids) =>
      (ids & approx.getOrElse(q, Set.empty)).size.toDouble / ids.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.7, s"mean recall@10 = $mean per-probe $recalls")
    // the batch path must candidate via the bucket equi-join — the
    // nested loop is only licensed for the fixed-probe exact twin
    val plan = lsh.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"s05b must not plan a nested loop:\n$plan")
  }

  test("s06 range search equals an exact driver-side radius scan") {
    // the SAME left-to-right double summation as vecDot, so membership
    // at the radius is bit-identical (the d05b spec's brute-force form)
    val vecs = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val nrm = vecs.map { case (id, v) => id -> dot(v, v) }.toMap
    val probes = vecs.filter(v => Similarity.KNN_PROBE_IDS.contains(v._1))
    val truth = (for {
      (q, qv) <- probes; (v, vv) <- vecs if v != q
      c = dot(vv, qv) / math.sqrt(nrm(v) * nrm(q))
      if c >= Similarity.RANGE_T
    } yield (q, v) -> c).toMap
    assert(truth.nonEmpty, "vacuous without in-radius neighbours")
    val got = Similarity.s06(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == truth.keySet,
      s"membership diff: ${(got.keySet -- truth.keySet) ++ (truth.keySet -- got.keySet)}")
    got.foreach { case (k, c) =>
      assert(math.abs(c - truth(k)) < 1e-6, s"cosine drift at $k") }
    // a top-k can truncate; the range form must hold every qualifying
    // neighbour the kNN twin surfaced at or above the radius
    val fromKnn = Similarity.s05(spark, sfDir).collect()
      .filter(_.getDouble(3) >= Similarity.RANGE_T)
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(fromKnn.subsetOf(got.keySet))
  }

  test("s07 filtered kNN: pre-filter semantics, predicate pushed to the scan") {
    val df = Similarity.s07(spark, sfDir)
    val got = df.collect()
    // every neighbour satisfies the predicate; probes are unfiltered
    val labels = Tables.embeddings(spark, sfDir)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach { r =>
      assert(labels(r.getLong(2)) < Similarity.S07_MAX_LABEL) }
    assert(got.map(_.getLong(0)).distinct.length ==
      Similarity.KNN_PROBE_IDS.length)
    // pre-filter is NOT post-filter: filtering s05's top-k must lose
    // rows somewhere (qualifying neighbours past rank k), while s07
    // keeps a full k per probe
    val post = Similarity.s05(spark, sfDir).collect()
      .filter(r => labels(r.getLong(2)) < Similarity.S07_MAX_LABEL)
    assert(post.length < got.length,
      "post-filtering the unfiltered top-k should lose qualifying rows")
    got.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.length == 10, s"probe $q must keep a full k") }
    // the predicate reaches the parquet reader, not a post-scan filter
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("PushedFilters: [IsNotNull(label), LessThan(label,4)"),
      s"label predicate must be pushed into the scan:\n$plan")
  }

  test("s13 filtered IVF ANN: qualifying-only, recall vs s07, no nested loop") {
    val df = Similarity.s13(spark, sfDir)
    val got = df.collect()
    val labels = Tables.embeddings(spark, sfDir)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // pre-filter semantics on the candidate set: every served
    // neighbour satisfies the predicate
    got.foreach { r =>
      assert(labels(r.getLong(2)) < Similarity.S07_MAX_LABEL) }
    // recall measured against s07's oracle-checked exact answer
    val exact = Similarity.s07(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(2))
      .groupBy(_._1).map { case (q, g) => q -> g.map(_._2).toSet }
    val approx = got.map(r => r.getLong(0) -> r.getLong(2))
      .groupBy(_._1).map { case (q, g) => q -> g.map(_._2).toSet }
    val recalls = exact.map { case (q, ids) =>
      (ids & approx.getOrElse(q, Set.empty)).size.toDouble / ids.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.7, s"mean recall@10 = $mean per-probe $recalls")
    // candidates come from the cid equi-join against the persisted
    // cells table: the ONLY nested loop licensed is the bounded
    // 10-probe × K-centroid cell scoring (constants, not the corpus)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size == 1,
      s"exactly one bounded probe×centroid loop allowed:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("ivf_cells"), "must read the persisted index")
  }

  test("s14 tombstoned ANN: no deleted id served, purge twin identical") {
    import org.apache.spark.sql.functions.col
    val live = Similarity.s14(spark, sfDir)
    val got = live.collect()
    assert(got.length == 10)
    // a deleted vector can never surface
    val dead = Similarity.tombstones(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    assert(dead.nonEmpty)
    got.foreach(r => assert(!dead.contains(r.getLong(0)),
      s"tombstoned ${r.getLong(0)} served"))
    // the purged index (no anti-join at query time) answers
    // byte-identically: the tombstone path and the compaction path are
    // the SAME logical index state
    val purged = Similarity.s14Purged(spark, sfDir).collect()
    assert(got.map(_.toSeq).toSeq == purged.map(_.toSeq).toSeq)
    // purge physically shrank the cells table by exactly the tombstoned
    // assignments; the centroid table is untouched (no retraining)
    val (cellsT, _) = Similarity.ensureIvfIndex(spark, sfDir)
    val purgedT = Similarity.purgeTombstones(spark, sfDir)
    val nDeadCells = spark.table(cellsT)
      .filter(col("vec_id").isin(dead.toSeq: _*)).count()
    assert(nDeadCells > 0)
    assert(spark.table(purgedT).count() ==
      spark.table(cellsT).count() - nDeadCells)
    // recall vs the exact answer over the SURVIVING corpus
    val exact = Similarity.exactTopKExcluding(spark, sfDir,
      spark.read.parquet(Similarity.tombstonePath(sfDir)))
      .collect().map(_.getLong(0)).toSet
    val rec = (got.map(_.getLong(0)).toSet & exact).size.toDouble / exact.size
    assert(rec >= 0.7, s"recall@10 over surviving corpus = $rec")
  }

  test("s08 truncated-dim two-stage kNN: rank dominance and pinned recall") {
    def perProbe(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(t => (t._3, t._4)).toVector).toMap
    val exact = perProbe(Similarity.s05(spark, sfDir))
    val trunc = perProbe(Similarity.s08(spark, sfDir))
    assert(trunc.keySet == exact.keySet)
    trunc.foreach { case (q, rows) =>
      assert(rows.size == exact(q).size, s"probe $q must fill its k")
      // a top-k over a candidate SUBSET can never beat the exact top-k
      // at any rank (rounding to 6 is monotone, so <= survives it)
      rows.zip(exact(q)).zipWithIndex.foreach { case (((_, tc), (_, ec)), i) =>
        assert(tc <= ec, s"probe $q rank ${i + 1}: $tc > $ec")
      }
    }
    // iid random embeddings are the WORST case for prefix scoring
    // (signal spread evenly across dims); measured at this SF: mean
    // 0.44, min 0.3 — pinned below with slack. MRL-style front-loaded
    // embeddings push this toward 1 at the same S08_CAND.
    val recalls = exact.keySet.toSeq.map { q =>
      val e = exact(q).map(_._1).toSet
      (e intersect trunc(q).map(_._1).toSet).size.toDouble / e.size
    }
    assert(recalls.sum / recalls.size >= 0.35,
      s"mean recall ${recalls.sum / recalls.size}")
    assert(recalls.min >= 0.2, s"min recall ${recalls.min}")
  }

  test("s09 hybrid RRF equals an independent two-leg recompute") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val qTok = docs(Similarity.S09_Q).split(" ", -1).toSet
    val kwPool = docs.toSeq.collect {
      case (id, t) if id != Similarity.S09_Q =>
        id -> t.split(" ", -1).toSet.count(qTok)
    }.filter(_._2 > 0).sortBy { case (id, sh) => (-sh, id) }
      .take(Similarity.S09_POOL).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1).toLong }.toMap
    // the vector leg's reference: s01's scoring shape with k = POOL
    val vecRanks = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") =!= Similarity.S09_Q)
      .withColumn("nrm", Oracles
        .dotFixed("embedding", "embedding", 64))
      .crossJoin(broadcast(Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") === Similarity.S09_Q)
        .select(col("embedding").as("qv"),
          Oracles
            .dotFixed("embedding", "embedding", 64).as("qnrm"))))
      .select(col("vec_id"), Oracles
        .cosineFromNormsFixed("embedding", "qv", col("nrm"), col("qnrm"), 64)
        .as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(Similarity.S09_POOL)
      .collect().zipWithIndex
      .map { case (r, i) => r.getLong(0) -> (i + 1).toLong }.toMap
    val fused = (kwPool.keySet ++ vecRanks.keySet).toSeq.map { id =>
      val rrf =
        kwPool.get(id).map(r => 1.0 / (r + Similarity.S09_RRF_K))
          .getOrElse(0.0) +
          vecRanks.get(id).map(r => 1.0 / (r + Similarity.S09_RRF_K))
            .getOrElse(0.0)
      (id, kwPool.get(id), vecRanks.get(id),
        BigDecimal(rrf).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, _, _, rrf) => (-rrf, id) }.take(10)
    val got = Similarity.s09(spark, sfDir).collect().map(r =>
      (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getDouble(3))).toSeq
    assert(got == fused, s"got=$got\nexp=$fused")
    // fusion is non-vacuous: the hybrid list is NOT the vector leg's
    // top-10 alone — keyword evidence actually reordered it
    val vecTop10 = vecRanks.toSeq.sortBy(_._2).take(10).map(_._1)
    assert(got.map(_._1) != vecTop10)
  }

  test("ad-hoc vector queries against the persisted indexes serve correctly") {
    // feed vec 0's own embedding as an ad-hoc (non-member) query: the
    // deterministic bucketing must land it in identical buckets/cells,
    // so the top hit is vec 0 at cosine 1.0 and the tail reproduces the
    // member-query results
    val vec0 = Tables.embeddings(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("vec_id") === 0L)
      .collect()(0).getSeq[Float](1)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSeq

    val lsh = Similarity.annQueryLsh(spark, sfDir, vec0, k = 11)
    assert(ids(lsh).head == 0L)
    assert(lsh.collect()(0).getDouble(1) == 1.0)
    assert(ids(lsh).tail == ids(Similarity.s02(spark, sfDir)))

    val ivf = Similarity.annQueryIvf(spark, sfDir, vec0, k = 11)
    assert(ids(ivf).head == 0L)
    assert(ids(ivf).tail == ids(Similarity.s03(spark, sfDir)))

    val pq = Similarity.annQueryPq(spark, sfDir, vec0, k = 11)
    assert(ids(pq).head == 0L)
    assert(pq.collect()(0).getDouble(1) == 1.0)
    assert(ids(pq).tail == ids(Similarity.s04(spark, sfDir)))
  }

  test("s11 recall report equals a recall recomputed from the kNN joins") {
    val exact = Similarity.s05(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val lsh = Similarity.s05b(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val perProbe = exact.map { case (q, ex) =>
      (ex & lsh.getOrElse(q, Set.empty)).size.toDouble / 10 }
    val wantMean = math.rint(perProbe.sum / perProbe.size * 1e6) / 1e6
    val rows = Similarity.s11(spark, sfDir).collect()
      .map(r => r.getAs[String]("index") ->
        ((r.getAs[Long]("n_queries"), r.getAs[Double]("mean_recall"),
          r.getAs[Double]("min_recall")))).toMap
    assert(rows.keySet == Set("ivf", "lsh", "ivf_app"))
    val (nq, mean, mn) = rows("lsh")
    assert(nq == exact.size)
    assert(math.abs(mean - wantMean) < 1e-9, s"$mean vs $wantMean")
    assert(mn <= mean)
    // every index family holds a recall floor on the probe panel (the
    // appended index trains on 3/4 of the corpus — a weaker quantizer
    // than the full-corpus one, so its floor is the evidence bound)
    assert(rows("ivf")._2 >= 0.7 && rows("lsh")._2 >= 0.7)
    assert(rows("ivf_app")._2 >= 0.3, s"ivf_app recall ${rows("ivf_app")._2}")
  }

  test("appendIvf: append equals rebuild at fixed centroids, buckets preserved") {
    import org.apache.spark.sql.functions.col
    val (cellsT, centT) = Similarity.ensureIvfIndexAppended(spark, sfDir)
    val e = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    // assignment is a pure per-vector function of (vector, centroids),
    // so base-assign + delta-append must equal assigning the UNION in
    // one shot against the same fixed centroids — exactly, not apx
    val appended = spark.table(cellsT).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val rebuilt = Similarity.assignCells(e, spark.table(centT)).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(appended == rebuilt, s"append diverged from rebuild: " +
      s"${(appended diff rebuilt).take(3)} / ${(rebuilt diff appended).take(3)}")
    // every corpus vector is in the index with its full multi-assignment
    assert(spark.table(cellsT).groupBy("vec_id").count()
      .filter(col("count") =!= 2).count() == 0)
    // the delta slice actually went through the append path
    assert(spark.table(cellsT)
      .filter(col("vec_id") % Similarity.APP_DELTA_MOD ===
        Similarity.APP_DELTA_MOD - 1).count() > 0)
  }

  test("ensureIvfIndexAppended repairs a PARTIAL delta publish; empty delta skips") {
    import org.apache.spark.sql.functions.col
    // a private corpus copy so the shared sfDir index stays untouched
    val base = s"${graft.Scratch.dir}/ivf_repair_corpus"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    Tables.embeddings(spark, sfDir).write.parquet(s"$base/embeddings.parquet")
    val (cellsT, centT) = Similarity.ensureIvfIndexAppended(spark, base)
    val want = spark.table(cellsT).select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val mod = Similarity.APP_DELTA_MOD
    // simulate the FileOutputCommitter-v1 prefix: the delta append's
    // job commit published only SOME task files (here: even cids —
    // split vectors included), then the writer died. The old isEmpty
    // guard accepted this as fully published forever.
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(cellsT))
      .location.toString
    val partial = spark.table(cellsT)
      .filter(col("vec_id") % mod =!= mod - 1 || col("cid") % 2 === 0)
      .collect()
    spark.sql(s"DROP TABLE $cellsT") // external: dir survives the drop
    fs.delete(new org.apache.hadoop.fs.Path(loc), true)
    assert(partial.length < want.size)
    spark.createDataFrame(spark.sparkContext.parallelize(partial.toSeq, 2),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cid",
          org.apache.spark.sql.types.IntegerType))))
      .write.bucketBy(GraftConf.indexBuckets(spark), "cid").sortBy("cid")
      .option("path", loc).saveAsTable(cellsT)
    // repair: the count invariant fails, ONLY the missing rows append
    val (cellsT2, _) = Similarity.ensureIvfIndexAppended(spark, base)
    assert(cellsT2 == cellsT)
    val got = spark.table(cellsT).select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(got.length == want.size && got.toSet == want,
      "repair must complete the partial slice without duplicating")
    // empty-delta corpus (no vec_id % mod == mod-1 rows): ensure is
    // build-once and repeat calls run NO append at all — the file set
    // stays byte-identical (the old guard re-ran an empty append per
    // call)
    val base2 = s"${graft.Scratch.dir}/ivf_repair_nodelta"
    fs.delete(new org.apache.hadoop.fs.Path(base2), true)
    Tables.embeddings(spark, sfDir).filter(col("vec_id") % mod =!= mod - 1)
      .write.parquet(s"$base2/embeddings.parquet")
    val (cellsT3, _) = Similarity.ensureIvfIndexAppended(spark, base2)
    val n3 = spark.table(cellsT3).count()
    def files(t: String): Set[String] = {
      val l = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t)).location
      fs.listStatus(new org.apache.hadoop.fs.Path(l)).map(st =>
        s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}").toSet
    }
    val before = files(cellsT3)
    Similarity.ensureIvfIndexAppended(spark, base2)
    Similarity.ensureIvfIndexAppended(spark, base2)
    assert(files(cellsT3) == before, "empty delta must not re-append")
    assert(spark.table(cellsT3).count() == n3)
  }

  test("s10 mmrSelect stops cleanly when every remaining score is NaN") {
    // a zero-norm vector makes every cosine NaN; NaN compares false
    // against everything, so no candidate can ever win — the guard
    // must return the picks made instead of indexing at -1
    val zero = Array.fill(4)(0.0f)
    val cands = Array((1L, Double.NaN, zero, 0.0), (2L, Double.NaN, zero, 0.0))
    assert(Similarity.mmrSelect(cands, 10, 0.7).isEmpty)
    // and a clean prefix before the NaN tail is still returned
    val one = Array(1.0f, 0f, 0f, 0f)
    val mixed = Array((1L, 0.9, one, 1.0), (2L, Double.NaN, zero, 0.0))
    val got = Similarity.mmrSelect(mixed, 10, 0.7)
    assert(got.map(_._2) == Seq(1L))
  }

  test("s10 MMR selection matches an independent greedy recomputation") {
    import org.apache.spark.sql.functions.col
    val out = Similarity.s10(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("relevance"), r.getAs[Double]("mmr_score")))
    assert(out.map(_._1).toSeq == (1L to out.length))
    assert(out.map(_._2).distinct.length == out.length)

    // independent reference: pool + greedy recomputed from the raw
    // parquet with this test's own code (not mmrSelect)
    val vecs = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
    def r6(x: Double): Double = math.rint(x * 1e6) / 1e6
    val q = vecs(0L)
    def cos(a: Long, b: Long): Double =
      dot(vecs(a), vecs(b)) / math.sqrt(dot(vecs(a), vecs(a)) * dot(vecs(b), vecs(b)))
    val pool = vecs.keys.filter(_ != 0L).toSeq
      .map(id => id -> cos(id, 0L)).sortBy { case (id, rel) => (-rel, id) }
      .take(Similarity.MMR_POOL)
    var selected = Vector.empty[Long]
    pool.foreach { _ =>
      if (selected.size < 10) {
        val cand = pool.filterNot(p => selected.contains(p._1)).map {
          case (id, rel) =>
            val maxSim = if (selected.isEmpty) 0.0
              else selected.map(sid => cos(id, sid)).max
            (id, r6(Similarity.MMR_LAMBDA * rel -
              (1 - Similarity.MMR_LAMBDA) * maxSim))
        }
        val best = cand.minBy { case (id, sc) => (-sc, id) }
        selected :+= best._1
      }
    }
    assert(out.map(_._2).toSeq == selected,
      s"spark=${out.map(_._2).toSeq} ref=$selected")
    // rank 1 is pure relevance: must be s01's top hit
    val s01Top = Similarity.s01(spark, sfDir)
      .collect().head.getAs[Long]("vec_id")
    assert(out.head._2 == s01Top)
  }
  test("s12 IVF-PQ residual ANN reaches recall@10 >= 0.7, deterministically") {
    // residual encoding cannot beat plain PQ on iid data (isotropic
    // covariance — the s04c/OPQ argument), but must not fall below it:
    // measured 1.0 at sf0.001, 0.9 at sf0.01
    val exact = Similarity.s01(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val run1 = Similarity.s12(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cosine")))
    val recall = (exact & run1.map(_._1).toSet).size.toDouble / exact.size
    assert(recall >= 0.7, s"recall@10 = $recall")
    // decimal Lloyd means + decimal ADC: a re-run is bit-identical
    val run2 = Similarity.s12(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cosine")))
    assert(run1.sameElements(run2))
    // re-ranked cosines are the exact ones: every returned pair must
    // match s01's cosine for the same vec_id when present there
    val exactCos = Similarity.s01(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine")).toMap
    run1.foreach { case (id, c) =>
      exactCos.get(id).foreach(ec => assert(ec == c)) }
  }
  test("s12b prebuilt IVF-PQ equals s12; no Lloyd, no Generate in-plan") {
    val live = Similarity.s12(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val pre = Similarity.s12b(spark, sfDir)
    val rows = pre.collect().map(r => (r.getLong(0), r.getDouble(1)))
    // deterministic end to end on both paths -> identical ORDERED rows
    assert(rows.sameElements(live), s"prebuilt=${rows.toSeq} live=${live.toSeq}")
    // codes carry the owning cell and nibble-range residual codewords
    val codes = spark.table(Similarity.ensureIvfPqIndex(spark, sfDir)._3)
    import org.apache.spark.sql.functions.{col, max}
    assert(codes.count() == 8 * Tables.embeddings(spark, sfDir).count())
    assert(codes.agg(max(col("code"))).collect()(0).getInt(0) < 16)
    // the query plan reads the persisted tables: no k-means, no
    // encoding Generate, the codes table as the scored scan
    val plan = pre.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Generate"), s"encoding re-run in-query:\n$plan")
    assert(plan.contains("graft_ivfpq_codes"), "must read the persisted codes")
    assert(plan.contains("graft_ivf_cent"), "must read the shared centroids")
  }

  test("s15 SQ8 ANN: recall@10 >= 0.9, byte-range codes, deterministic") {
    val exact = Similarity.s01(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val run1 = Similarity.s15(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cosine")))
    // per-coordinate quantization error <= step/2 ~ 0.002: candidate
    // ranking tracks the exact dots far tighter than the codebook
    // families (measured 1.0 at sf0.001/sf0.01)
    val recall = (exact & run1.map(_._1).toSet).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall@10 = $recall")
    // min/max stats + fixed-order sums: a re-run is bit-identical
    val run2 = Similarity.s15(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cosine")))
    assert(run1.sameElements(run2))
    // re-ranked cosines are the exact ones where s01 also returns them
    val exactCos = Similarity.s01(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine")).toMap
    run1.foreach { case (id, c) =>
      exactCos.get(id).foreach(ec => assert(ec == c)) }
  }

  test("s15b prebuilt SQ8 equals s15; codes in 0..255, no Generate in-plan") {
    val live = Similarity.s15(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val pre = Similarity.s15b(spark, sfDir)
    val rows = pre.collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.sameElements(live), s"prebuilt=${rows.toSeq} live=${live.toSeq}")
    // one codes row per vector, every code a byte
    val (codesT, _) = Similarity.ensureSqIndex(spark, sfDir)
    val codes = spark.table(codesT)
    assert(codes.count() == Tables.embeddings(spark, sfDir).count())
    import org.apache.spark.sql.functions.{array_max, array_min, col, max, min}
    val mm = codes.agg(min(array_min(col("codes"))).as("lo"),
      max(array_max(col("codes"))).as("hi")).collect()(0)
    assert(mm.getInt(0) >= 0 && mm.getInt(1) <= 255, mm.toString)
    // no min/max training pass, no Generate; the scored scan is the
    // persisted int-codes table, vectors touched only in the re-rank
    val plan = pre.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Generate"), s"stats re-derived in-query:\n$plan")
    assert(plan.contains("graft_sq_codes"), "must read the persisted codes")
    assert(plan.contains("graft_sq_stats"), "must read the persisted stats")
  }
}
