package graft

import graft.operators.Dedup

class DedupSpec extends SparkSpec {

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("d01 keeps one representative per distinct content") {
    val d = Dedup.d01(spark, sfDir).collect()
    val total = Tables.documents(spark, sfDir).count()
    assert(d.map(_.getAs[Long]("n_copies")).sum == total)
    assert(d.map(_.getAs[Long]("keep_id")).distinct.length == d.length)
  }

  test("d10 bloom-gated decision equals the plain hash join, both branches live") {
    import org.apache.spark.sql.functions._
    // independent reference: the ungated decision straight off the table
    val hashed = Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val corpusRows = hashed.filter(col("doc_id") % 3 =!= 2).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val minByHash = corpusRows.groupBy(_._2)
      .view.mapValues(_.map(_._1).min).toMap
    val expected = hashed.filter(col("doc_id") % 5 === 4).collect()
      .map(r => r.getLong(0) -> minByHash.get(r.getString(1))).toMap
    val got = Dedup.d10(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got == expected)
    // the partial-replay geometry keeps BOTH outcomes non-vacuous
    assert(got.values.exists(_.isDefined) && got.values.exists(_.isEmpty),
      "gate scenario must exercise dup-found AND new-content branches")
  }

  test("the bloom filter never false-negatives its own build keys") {
    import org.apache.spark.sql.functions._
    val corpus = Tables.documents(spark, sfDir)
      .select(md5(col("text").cast("binary")).as("h"))
    val bf = graft.functions.Bloom.buildBytes(corpus, col("h"), 1000L)
    assert(corpus.filter(!graft.functions.Bloom.mightContain(bf, col("h")))
      .count() == 0, "every inserted key must probe positive")
    // and an unrelated key population mostly probes negative (fp rate
    // is a few percent at this sizing, not ~100%): the gate PRUNES
    val probes = spark.range(1000000, 1001000)
      .select(md5(col("id").cast("string").cast("binary")).as("h"))
    val fp = probes.filter(graft.functions.Bloom.mightContain(bf, col("h")))
      .count()
    assert(fp < 100, s"fp=$fp of 1000 — the filter must actually prune")
  }

  test("sharded bloom gate: d10/p03 verdicts equal the single-filter form") {
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq)
    val (d10Single, p03Single) =
      (rows(Dedup.d10(spark, sfDir)),
        rows(graft.operators.Pipeline.p03(spark, sfDir)))
    try {
      spark.conf.set("spark.graft.dedup.bloomShards", "4")
      assert(rows(Dedup.d10(spark, sfDir)) == d10Single,
        "d10 verdicts must be shard-invariant")
      assert(rows(graft.operators.Pipeline.p03(spark, sfDir)) == p03Single,
        "p03 verdicts must be shard-invariant")
      // the sharded probe itself: no false negatives, still prunes
      val corpus = Tables.documents(spark, sfDir)
        .select(md5(col("text").cast("binary")).as("h"))
      val bfs = graft.functions.Bloom.buildShardBytes(corpus, col("h"), 1000L, 4)
      assert(bfs.exists(_ != null))
      assert(corpus.filter(
        !graft.functions.Bloom.mightContainSharded(bfs, col("h")))
        .count() == 0, "every inserted key must probe positive")
      val probes = spark.range(2000000, 2001000)
        .select(md5(col("id").cast("string").cast("binary")).as("h"))
      val fp = probes.filter(
        graft.functions.Bloom.mightContainSharded(bfs, col("h"))).count()
      assert(fp < 100, s"fp=$fp of 1000 — the sharded gate must prune")
    } finally spark.conf.unset("spark.graft.dedup.bloomShards")
  }

  test("d02 finds the planted near-duplicate pairs with high jaccard") {
    val rows = Dedup.d02(spark, sfDir).collect()
    assert(rows.nonEmpty, "corpus has planted near-dups; d02 must find them")
    assert(rows.forall(_.getAs[Double]("jaccard") >= 0.7))
  }

  test("d03 minhash-LSH agrees with the exact inverted index") {
    // 8 bands x 4 rows: P(miss | jaccard >= 0.7) <= (1 - 0.7^4)^8 < 4%,
    // and the planted pairs sit at ~0.98 where P(miss) ~ 1e-9. The final
    // exact-Jaccard verify keeps precision at 1.0 on both sides. Strict
    // set equality would be data-dependent (d02's candidate gates and
    // d03's LSH miss probability are different asymmetries), so assert
    // mutual recall >= 0.95 plus exact coverage of the high-confidence
    // pairs (jaccard >= 0.9, where P(LSH miss) ~ 1e-7).
    val d02rows = Dedup.d02(spark, sfDir).collect()
    val exact = d02rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val strong = d02rows.filter(_.getAs[Double]("jaccard") >= 0.9)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = pairSet(Dedup.d03(spark, sfDir))
    val r1 = (exact & lsh).size.toDouble / exact.size.max(1)
    val r2 = (exact & lsh).size.toDouble / lsh.size.max(1)
    assert(r1 >= 0.95 && r2 >= 0.95, s"mutual recall $r1/$r2")
    assert((strong -- lsh).isEmpty, s"missed strong pairs ${strong -- lsh}")
  }

  test("d03b prebuilt-index dedup equals d03 with no index rebuild in-plan") {
    val live = pairSet(Dedup.d03(spark, sfDir))
    val pre = Dedup.d03b(spark, sfDir)
    assert(pairSet(pre) == live)
    // the persisted-index path must not re-derive signatures or shingles:
    // no Generate (explode) node and no documents-text scan in the plan
    val plan = pre.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Generate"), s"index rebuilt in-query:\n$plan")
    assert(plan.contains("graft_lsh_bands"), "must read the persisted index")
  }

  test("incremental LSH index append equals a full rebuild, probing only the delta") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val half = 250L
    // day 1: index the old corpus; day 2: APPEND the delta — no re-
    // shingling of day 1
    Dedup.buildLshIndex(spark, docs.filter(col("doc_id") < half), "inc_test")
    Dedup.appendLshIndex(spark, docs.filter(col("doc_id") >= half), "inc_test")
    val full = pairSet(Dedup.d03(spark, sfDir))
    // the appended index answers the full-corpus query identically
    val viaIndex = pairSet(Dedup.lshPairsFromIndex(spark,
      "graft_lsh_bands_inc_test", "graft_shingle_sets_inc_test"))
    assert(viaIndex == full, s"missed=${full -- viaIndex} extra=${viaIndex -- full}")
    // delta-only pair discovery: probe just the new docs' buckets and
    // recover exactly the pairs involving a new doc
    val touching = pairSet(Dedup.lshPairsTouching(spark,
      "graft_lsh_bands_inc_test", "graft_shingle_sets_inc_test",
      docs.filter(col("doc_id") >= half).select("doc_id")))
    val expected = full.filter { case (a, b) => a >= half || b >= half }
    assert(touching == expected,
      s"missed=${expected -- touching} extra=${touching -- expected}")
  }

  test("d02's DF_CAP/MIN_SHARED candidate gates are safe on this corpus") {
    // Brute-force ground truth with NO gates: all-pairs exact Jaccard
    // over the full shingle sets. Every true pair must clear both gates
    // (>= MIN_SHARED shared shingles, each with df <= DF_CAP), proving
    // d02's pruned candidate generation loses nothing — as a computed
    // corpus property, not a hand-calculated comment.
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions._
    val sets = Tables.documents(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), shingles3("w").as("sh"))
    val truth = sets.toDF("doc_a", "sh_a")
      .crossJoin(sets.toDF("doc_b", "sh_b"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sh_a"), col("sh_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double")).as("jac"))
      .filter(col("jac") >= Dedup.JACCARD_T)
    // shingles appearing in more than DF_CAP docs (what d02 drops)
    val hot = sets.select(col("doc_id"), explode(col("sh")).as("shingle"))
      .distinct()
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > Dedup.DF_CAP)
      .select(collect_set("shingle").as("hot"))
    val minSubCapShared = truth.crossJoin(hot.select(
        coalesce(col("hot"), array().cast("array<string>")).as("hot")))
      .select(size(array_except(array_intersect(col("sh_a"), col("sh_b")),
        col("hot"))).as("n_subcap"))
      .agg(min("n_subcap")).collect()(0).getInt(0)
    assert(minSubCapShared >= Dedup.MIN_SHARED,
      s"a true pair has only $minSubCapShared sub-cap shared shingles; " +
        s"MIN_SHARED=${Dedup.MIN_SHARED} would drop it")
  }

  test("d07 equals brute-force substring containment exactly") {
    // ground truth by brute force on the driver: every ordered doc pair
    // with strictly shorter text contained verbatim in the longer
    val texts = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val truth = (for {
      (ia, ta) <- texts
      (ib, tb) <- texts
      if ta.length < tb.length && tb.contains(ta)
    } yield (ia, ib, ta.length, tb.length)).toSet
    val got = Dedup.d07(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    assert(truth.nonEmpty, "corpus must contain planted containment pairs")
    assert(got == truth,
      s"missed: ${(truth -- got).take(5)}; spurious: ${(got -- truth).take(5)}")
    // the candidate gate (>= MIN_SHARED sub-cap shared shingles) loses
    // nothing on this corpus — asserted by the exact equality above,
    // which fails if a true pair is pruned before the contains verify
  }

  test("d04 simhash candidates cover the true near-duplicates") {
    val exact = pairSet(Dedup.d02(spark, sfDir))
    val sim = pairSet(Dedup.d04(spark, sfDir))
    val recall = (exact & sim).size.toDouble / exact.size
    assert(recall >= 0.75, s"simhash recall $recall over ${exact.size} true pairs")
  }

  test("d04b wide-chunk simhash returns exactly d04's pairs at hamming <= 3") {
    val narrow = Dedup.d04(spark, sfDir).collect()
      .filter(_.getAs[Int]("hamming") <= 3)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wide = pairSet(Dedup.d04b(spark, sfDir))
    assert(wide == narrow, s"missed=${narrow -- wide} extra=${wide -- narrow}")
  }

  test("d06 cluster representatives equal an exact union-find over d02's pairs") {
    val pairs = Dedup.d02(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(x => x -> find(x)).toMap
    val got = Dedup.d06(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expected,
      s"diff=${(got.toSet -- expected.toSet) ++ (expected.toSet -- got.toSet)}")
  }

  test("d11 savings report is the exact rollup of d06's decision") {
    val comp = Dedup.d06(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val chars = Tables.documents(spark, sfDir)
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val perCluster = comp.groupBy(_._2).toSeq.map { case (keep, members) =>
      (members.length.toLong,
        members.filter(_._1 != keep).map(m => chars(m._1)).sum)
    }
    val expected = perCluster.groupBy(_._1).map { case (size, cs) =>
      size -> ((cs.length.toLong, (size - 1) * cs.length, cs.map(_._2).sum))
    }
    val got = Dedup.d11(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == expected)
    // the report must account for every clustered doc exactly once
    assert(got.map { case (size, (n, _, _)) => size * n }.sum == comp.length)
    assert(got.nonEmpty && comp.nonEmpty)
  }

  test("d11/p01 consume the persisted decision — no inline fixpoint in the plan") {
    val t = Dedup.ensureDecision(spark, sfDir)
    // the saved table IS the live fixpoint's labels, bit for bit
    val saved = spark.table(t).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val live = Dedup.d06Core(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(saved == live)
    // consumers scan the bucketed table; a live fixpoint would show up
    // as checkpointed ExistingRDD leaves in the executed plan
    for (q <- Seq(Dedup.d11(spark, sfDir),
        graft.operators.Pipeline.p01(spark, sfDir))) {
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("graft_dedup_decision"),
        "consumer must scan the persisted decision table")
      assert(!plan.contains("ExistingRDD"),
        "consumer plan must not embed the components fixpoint")
    }
  }

  test("d06 reaches identical labels under local and reliable checkpointing") {
    val local = Dedup.d06Core(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = s"${graft.Scratch.dir}/cp_d06"
    val reliable = Dedup
      .d06Core(spark, sfDir, graft.ReliableCheckpointer(dir)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == reliable)
    // the reliable strategy really wrote through the checkpoint dir
    val f = new java.io.File(dir)
    assert(f.exists && f.listFiles().nonEmpty,
      "reliable checkpointing must materialize into the given directory")
  }

  // the long-chain corpus shape (boilerplate-chained crawl dups) the
  // alternating star contraction exists for: diameter 250 with the
  // component min at the far end. Per-hop min-label propagation needs
  // one round per hop — 250 > the 50-round cap — so this graph is
  // unreachable for the pre-r9 implementation; large-star/small-star
  // re-hangs subtrees and lands in O(log^2 n) rounds.
  test("componentsOf converges on a 250-hop path graph within the round cap") {
    import spark.implicits._
    val n = 250
    val chain = (0 until n).map(i => (i.toLong, (i + 1).toLong))
    // a second, disjoint 3-node component keeps the test honest about
    // per-component mins (no single global min shortcut)
    val pairs = (chain ++ Seq((1000L, 1001L), (1001L, 1002L)))
      .toDF("doc_a", "doc_b")
    val labels = Dedup.componentsOf(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == n + 4)
    assert((0 to n).forall(i => labels(i.toLong) == 0L))
    assert(Seq(1000L, 1001L, 1002L).forall(labels(_) == 1000L))
  }

  test("d09 semantic dedup decision equals an exact union-find over d05's pairs") {
    val pairs = Dedup.d05(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "vacuous without embedding near-dup pairs")
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(x => x -> find(x)).toMap
    val got = Dedup.d09(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expected,
      s"diff=${(got.toSet -- expected.toSet) ++ (expected.toSet -- got.toSet)}")
  }

  test("d05 embedding pairs are symmetric-free and above threshold") {
    val rows = Dedup.d05(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("vec_a") < r.getAs[Long]("vec_b"))
      assert(r.getAs[Double]("cosine") >= 0.4)
    }
  }

  // longest common substring by dynamic programming — the independent
  // ground truth for d08 (O(|a||b|), driver-side, candidate pairs only)
  private def lcsLen(a: String, b: String): Int = {
    val dp = Array.ofDim[Int](b.length + 1)
    var best = 0
    for (i <- 1 to a.length) {
      var prev = 0
      for (j <- 1 to b.length) {
        val cur = dp(j)
        dp(j) = if (a(i - 1) == b(j - 1)) prev + 1 else 0
        if (dp(j) > best) best = dp(j)
        prev = cur
      }
    }
    best
  }

  test("d08 spans are real shared substrings; containment pairs are recalled") {
    val texts = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = Dedup.d08(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty, "corpus has near-dup docs sharing >=64-char runs")
    // precision: every reported span is bounded by the true longest
    // common substring (the span is PROVEN shared, never overstated)
    for (((a, b), span) <- got) {
      assert(span >= Dedup.D08_W)
      val lcs = lcsLen(texts(a), texts(b))
      assert(span <= lcs, s"($a,$b): claimed span $span > true LCS $lcs")
    }
    // recall, chained to the oracle-checked twin: a d07 containment pair
    // shares the whole inner text — wherever it clears the detection
    // guarantee (len >= W + maxTokenLen + 1), d08 must report it
    val maxTok = texts.values.flatMap(_.split(" ")).map(_.length).max
    val guaranteed = Dedup.d07(spark, sfDir).collect()
      .filter(_.getAs[Int]("len_inner") >= Dedup.D08_W + maxTok + 1)
      .map(r => (r.getAs[Long]("doc_inner"), r.getAs[Long]("doc_outer")))
      .map { case (a, b) => if (a < b) (a, b) else (b, a) }
    assert(guaranteed.nonEmpty, "spec needs at least one guaranteed pair")
    for (p <- guaranteed)
      assert(got.contains(p), s"containment pair $p missed by d08")
  }

  test("d08b prebuilt-index passages equal d08 with no anchor rebuild in-plan") {
    val live = Dedup.d08(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val pre = Dedup.d08b(spark, sfDir)
    val got = pre.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == live)
    // the persisted-index path must not re-tokenize or re-anchor: no
    // Generate (posexplode) and no documents scan in the plan
    val plan = pre.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Generate"), s"anchor index rebuilt in-query:\n$plan")
    assert(plan.contains("graft_anchor_idx"), "must read the persisted index")
    assert(!plan.contains("documents.parquet"),
      "the prebuilt path must not touch the documents table")
    // the candidate self-join keys on the fixed-width 8-byte anchor
    // hash (what the index buckets by). Catalyst may ALSO fold the
    // in-bucket string verify (a_x = a_y) into the equi-keys — fine:
    // hash partitioning on the {h} subset still satisfies the join's
    // clustered distribution, so the bucket layout is honored — but
    // the long hash must be among the keys of every candidate join.
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.types.LongType
    val joinKeys = pre.queryExecution.sparkPlan.collect {
      case j: SortMergeJoinExec     => j.leftKeys
      case j: ShuffledHashJoinExec  => j.leftKeys
      case j: BroadcastHashJoinExec => j.leftKeys
    }
    assert(joinKeys.nonEmpty && joinKeys.forall(_.exists(_.dataType == LongType)),
      s"candidate join must key on the long anchor hash: $joinKeys")
  }

  test("incremental anchor index: append + delta probe equals a full rebuild") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val half = 250L
    // day 1: index the old corpus; day 2: APPEND the delta — no
    // re-anchoring of day 1
    Dedup.buildAnchorIndexInc(spark,
      docs.filter(col("doc_id") < half), "d08inc")
    Dedup.appendAnchorIndex(spark,
      docs.filter(col("doc_id") >= half), "d08inc")
    val deltaIds = docs.filter(col("doc_id") >= half).select("doc_id")
    val touching = Dedup.passagesTouching(spark, "d08inc", deltaIds)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // ground truth: the full-rebuild d08 pairs that involve a delta doc
    // — identical SPANS too, because the recomputed df-cap over the
    // appended generations equals the full-corpus cap exactly
    val full = Dedup.d08(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      .filter { case ((a, b), _) => a >= half || b >= half }
    assert(touching == full,
      s"missing=${full.keySet -- touching.keySet} extra=${touching.keySet -- full.keySet}")
    assert(touching.nonEmpty, "the spec needs delta-crossing pairs to bite")
    // appending never creates an index without a base
    intercept[IllegalArgumentException] {
      Dedup.appendAnchorIndex(spark, docs.limit(1), "d08inc_nobase")
    }
  }

  test("d08 on planted passages: detects >= W-char overlaps, ignores shorter ones") {
    import spark.implicits._
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi" // 83 chars, all tokens <= 7
    assert(passage.length >= Dedup.D08_W + 7 + 1)
    val short = "uno dos tres cuatro cinco seis siete" // 36 chars < W
    assert(short.length < Dedup.D08_W)
    val d1 = s"intro words here $passage tail piece"
    val d2 = s"completely different heading text $passage other ending"
    val docs = Seq(
      1L -> d1, 2L -> d2,
      3L -> s"xx $short yy", 4L -> s"zz $short ww",
      5L -> d1,
      6L -> "nothing shared with anyone else at all truly disjoint content")
      .toDF("doc_id", "text")
    val got = Dedup.d08Of(spark, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // exactly the passage-sharing pairs — no sub-W pair, no strangers
    assert(got.keySet == Set((1L, 2L), (1L, 5L), (2L, 5L)))
    for (((a, b), span) <- got) {
      val la = Seq(d1, d2, s"xx $short yy", s"zz $short ww", d1)
      val lcs = lcsLen(la(a.toInt - 1), la(b.toInt - 1))
      assert(span >= Dedup.D08_W && span <= lcs,
        s"($a,$b): span $span outside [64, $lcs]")
    }
    // the identical pair's span covers essentially the whole document
    assert(got((1L, 5L)) >= d1.length - 12,
      s"identical docs must yield a near-full span, got ${got((1L, 5L))}")
  }

  test("d05b quantized near-dup: recall vs brute force and d05, label shortcut gone") {
    // brute-force truth: the SAME left-to-right double summation as
    // dotFixed, so pair membership at the threshold is bit-identical
    val vecs = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val nrm = vecs.map { case (id, v) => id -> dot(v, v) }.toMap
    val truth = (for {
      (a, va) <- vecs; (b, vb) <- vecs if a < b
      if dot(va, vb) / math.sqrt(nrm(a) * nrm(b)) >= 0.4
    } yield (a, b)).toSet
    assert(truth.nonEmpty)

    val q = Dedup.d05b(spark, sfDir)
    val got = q.collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    // precision is exact by construction (every candidate is verified
    // with the exact cosine): no pair outside the truth set
    assert(got.subsetOf(truth), s"false positives: ${got -- truth}")
    val recall = (got & truth).size.toDouble / truth.size
    assert(recall >= 0.95, s"recall vs brute force $recall")
    // and the oracle-checked twin's pairs (d05 = same-label subset of
    // the truth) are recovered too — the spec chain to the SQL gate
    val d05pairs = Dedup.d05(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val recall05 = (got & d05pairs).size.toDouble / d05pairs.size.max(1)
    assert(recall05 >= 0.95, s"recall vs d05 $recall05")
    // the plan reads the persisted cells table and never references the
    // label stand-in column
    val plan = q.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("graft_ivf_dedup_cells"),
      "candidates must come from the persisted IVF dedup cells")
    assert(!plan.toLowerCase.contains("label"),
      s"the label stand-in must be gone from the plan:\n$plan")
    // the 100 TB plan shape: the pair expansion is the bucketed
    // layout's own co-located sort-merge self-join — NOTHING corpus-
    // sized is ever broadcast, and the bucketed scans feed the join
    // with no exchange over the bucket key
    assert(!plan.contains("BroadcastExchange"),
      s"d05b must not broadcast any side of the pair join:\n$plan")
    assert(plan.contains("SortMergeJoin"),
      s"d05b's pair expansion must be the bucket-local merge join:\n$plan")
    assert(!plan.contains("hashpartitioning(cid"),
      s"the cid join must ride the bucketed layout, not an exchange:\n$plan")
  }

  test("d05 falls back to a broadcast-free shuffle join past the size gate") {
    val rowsOf = (df: org.apache.spark.sql.DataFrame) => df.collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
        r.getAs[Double]("cosine"))).toSet
    val default = rowsOf(Dedup.d05(spark, sfDir))
    val gate = "spark.sql.autoBroadcastJoinThreshold"
    spark.conf.set(gate, "-1")
    try {
      val q = Dedup.d05(spark, sfDir)
      val plan = q.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!plan.contains("BroadcastExchange"),
        s"with Spark's size gate off no side may broadcast:\n$plan")
      // identical pairs AND identical cosines: the fixed-order dot is
      // partitioning-independent, so the join strategy cannot show
      // through in the answer
      assert(rowsOf(q) == default)
    } finally spark.conf.unset(gate)
  }

  test("d12 keeps the max-quality member of every d06 cluster") {
    val quality = operators.TextAnalysis.t02(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality")).toMap
    val clusters = Dedup.d06(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("keep_id")))
      .groupBy(_._2).map { case (k, xs) => k -> xs.map(_._1).sorted.toSeq }
    val got = Dedup.d12(spark, sfDir).collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        ((r.getAs[Long]("cluster_size"), r.getAs[Long]("keep_doc"),
          r.getAs[Double]("best_quality")))).toMap
    assert(got.keySet == clusters.keySet)
    clusters.foreach { case (cid, members) =>
      val (size, keep, bq) = got(cid)
      assert(size == members.length)
      // argmax with (quality desc, id asc) tie-break — recomputed
      val want = members.map(m => (m, quality(m)))
        .minBy { case (m, q) => (-q, m) }
      assert(keep == want._1, s"cluster $cid keeps $keep, want ${want._1}")
      assert(bq == want._2)
      // the min-id rule would have kept members.head — d12 must only
      // differ when a higher-quality member exists
      if (keep != members.head)
        assert(quality(keep) > quality(members.head))
    }
  }

  test("a non-default cell-index geometry builds apart and answers the same") {
    val default = Dedup.d05b(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    spark.conf.set("spark.graft.dedup.cells.buckets", "7")
    try {
      val t = graft.operators.Similarity.ensureIvfDedupCells(spark, sfDir)
      assert(t.endsWith("b7"), s"layout must be encoded in the name: $t")
      val got = Dedup.d05b(spark, sfDir).collect()
        .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
      // bucket count is pure layout: same candidates, same survivors
      assert(got == default)
    } finally spark.conf.unset("spark.graft.dedup.cells.buckets")
  }
  test("d13 matrix: upper-triangle, counts partition d02's pairs exactly") {
    val pairs = Dedup.d02(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val srcOf = Tables.documents(spark, sfDir)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = pairs.groupBy { case (a, b) =>
      val (sa, sb) = (srcOf(a), srcOf(b))
      if (sa <= sb) (sa, sb) else (sb, sa)
    }.map { case (k, v) => k -> v.length.toLong }
    val got = Dedup.d13(spark, sfDir).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        r.getAs[Long]("n_pairs")).toMap
    assert(got == want)
    got.keys.foreach { case (a, b) => assert(a <= b) }
  }
  test("d14 bands partition d02's pairs with exact doc accounting") {
    val pairs = Dedup.d02(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard")))
    def bandOf(j: Double) =
      if (j < 0.8) "0.7-0.8" else if (j < 0.9) "0.8-0.9" else "0.9-1.0"
    val want = pairs.groupBy(p => bandOf(p._3)).map { case (b, ps) =>
      b -> (ps.length.toLong,
        ps.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong)
    }
    val got = Dedup.d14(spark, sfDir).collect()
      .map(r => r.getAs[String]("band") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs"))).toMap
    assert(got == want)
    assert(got.values.map(_._1).sum == pairs.length.toLong,
      "bands must partition the pair set")
  }

  test("d15 blocked linkage equals the all-pairs fuzzy join (lossless blocking)") {
    import org.apache.spark.sql.functions._
    // independent reference: derive the same dirty feed, then brute-force
    // Levenshtein over ALL (feed, customer) pairs in Scala — the
    // quadratic join the mask-neighborhood blocking replaces. Equality
    // proves the pigeonhole argument end-to-end on real data: for
    // length-preserving names, every lev<=1 pair collides in >=1 mask.
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    val reg = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val feed = Tables.customer(spark, sfDir)
      .select(col("c_custkey"),
        expr(Dedup.D15_FEED_SQL).as("f_name")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = feed.map { case (fid, fn) =>
      val ms = reg.map { case (ck, cn) => (lev(fn, cn), ck) }
        .filter(_._1 <= 1)
      fid -> (if (ms.isEmpty) None else Some(ms.min))
    }.toMap
    val got = Dedup.d15(spark, sfDir).collect().map { r =>
      r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some((r.getInt(2), r.getLong(1))))
    }.toMap
    assert(got == want)
    // the planted error model keeps all three outcomes non-vacuous
    val types = Dedup.d15(spark, sfDir).groupBy("match_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(types.getOrElse("exact", 0L) > 0 &&
      types.getOrElse("fuzzy", 0L) > 0 && types.getOrElse("none", 0L) > 0,
      s"feed must exercise exact, fuzzy AND unlinkable rows: $types")
  }
}
