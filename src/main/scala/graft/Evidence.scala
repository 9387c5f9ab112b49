package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods.{pretty, render}

/** Machine-readable evidence for the declared rows-only operators —
  * the gate's blind spot made checkable. The DuckDB gate hash-checks
  * every SQL-expressible query; the 22 rows-only entries (hash-seeded
  * LSH/MinHash/SimHash/IVF/PQ candidate generation, mergeable-sketch
  * twins, MMR, binary plumbing, the custom Expression) are instead
  * spec-chained to oracle-checked twins. This main re-derives that
  * chain's QUANTITATIVE claims (recall floors, error bounds, twin
  * equality, determinism) and emits them as one JSON file
  * (`docs/rowsonly_evidence.json`) so the gate tooling can assert
  * bounds instead of trusting prose: tools/localgate.py reads it and
  * FAILS any rows-only query whose evidence row is missing or
  * failing. Bounds mirror the spec suite's exactly — this file is the
  * suite's verdict exported, not a second opinion.
  *
  * Usage: runMain graft.Evidence [sfDir] [outJson]
  */
object Evidence {

  final case class Item(query: String, cls: String, metric: String,
      value: Double, bound: Double, op: String) {
    def pass: Boolean = op match {
      case ">=" => value >= bound
      case "<=" => value <= bound
      case "<"  => value < bound
      case "==" => value == bound
    }
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def topIds(df: DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  private def recall[A](got: Set[A], truth: Set[A]): Double =
    if (truth.isEmpty) 1.0 else (got & truth).size.toDouble / truth.size

  private def rowsEqual(a: DataFrame, b: DataFrame): Double = {
    def canon(df: DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))
    if (canon(a) == canon(b)) 1.0 else 0.0
  }

  /** Max relative error between two keyed single-row-per-key frames
    * over their numeric cells (key = first column's string form).
    */
  private def maxRelErr(exact: DataFrame, approx: DataFrame): Double = {
    def num(r: Row): Seq[Double] = r.toSeq.collect {
      case d: Double => d
      case l: Long   => l.toDouble
      case i: Int    => i.toDouble
      case d: java.math.BigDecimal => d.doubleValue()
    }
    def keyed(df: DataFrame): Map[String, Seq[Double]] =
      df.collect().map(r => r.get(0).toString -> num(r)).toMap
    val (e, a) = (keyed(exact), keyed(approx))
    require(e.keySet == a.keySet, s"key mismatch: ${e.keySet} vs ${a.keySet}")
    e.flatMap { case (k, es) =>
      es.zip(a(k)).map { case (ev, av) =>
        if (ev == av) 0.0 else math.abs(ev - av) / math.max(math.abs(ev), 1.0)
      }
    }.foldLeft(0.0)(math.max)
  }

  def collect(s: SparkSession, d: String): Seq[Item] = {
    import graft.operators._
    val q = SparkEntry.queries
    def run(name: String): DataFrame = q(name)(s, d)

    val d02p = pairs(run("d02_dedup_ngram_jaccard"))
    val d05p = pairs(run("d05_dedup_embedding"))
    val s01top = topIds(run("s01_ann_bruteforce"))
    // s05's exact per-probe neighbor sets: (q_id -> ids)
    val s05exact = run("s05_knn_join_exact").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("vec_id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val s05b = run("s05b_knn_join_lsh").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("vec_id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val s05bMean = s05exact.map { case (k, ids) =>
      recall(s05b.getOrElse(k, Set.empty), ids) }.sum / s05exact.size
    // s13's reference is s07 — the FILTERED exact answer, not s05's
    val s07exact = run("s07_knn_join_filtered").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("vec_id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val s13 = run("s13_ann_filtered_ivf").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("vec_id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val s13Mean = s07exact.map { case (k, ids) =>
      recall(s13.getOrElse(k, Set.empty), ids) }.sum / s07exact.size
    // s14's reference: the exact top-k over the SURVIVING corpus
    val s14Exact = {
      topIds(operators.Similarity.exactTopKExcluding(s, d,
        operators.Similarity.tombstones(s, d)))
    }

    val d04pairs = run("d04_dedup_simhash")
    val d04strict = d04pairs.collect()
      .filter(_.getAs[Int]("hamming") <= 3)
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val t04a = run("t04_fingerprint").collect().map(_.toSeq)
    val t04b = run("t04_fingerprint").collect().map(_.toSeq)

    val s11rows = run("s11_index_quality").collect()
      .map(r => r.getString(0) -> r.getAs[Double]("mean_recall")).toMap

    // Strata's 100 TB path: the GK-sketch banding behind q34/c40/c41
    // under spark.graft.approx=true, compared row-by-row against the
    // exact NTILE on the operators' own frames — the gate always runs
    // the exact path, so this is the ONLY machine-checked accuracy
    // evidence for the knob StrataSpec pins structurally
    def withApprox[T](f: => T): T =
      try { s.conf.set("spark.graft.approx", "true"); f }
      finally s.conf.unset("spark.graft.approx")
    def bandAgreement(frame: DataFrame, n: Int, value: String,
        tiebreak: String, keyCols: Seq[String]): (Double, Double) = {
      def bands(df: DataFrame): Map[String, Int] =
        df.collect().map(r =>
          keyCols.map(k => r.get(r.fieldIndex(k)).toString).mkString("|") ->
            r.getInt(r.fieldIndex("__band"))).toMap
      val exact = bands(operators.Strata.band(s, frame, n, value, tiebreak,
        "__band", keyCols.filterNot(Set(value, tiebreak))))
      val approx = withApprox { bands(operators.Strata.band(s, frame, n,
        value, tiebreak, "__band", keyCols.filterNot(Set(value, tiebreak)))) }
      val agree = exact.count { case (k, b) => approx(k) == b }.toDouble /
        exact.size
      val maxShift = exact.map { case (k, b) =>
        math.abs(approx(k) - b) }.foldLeft(0)(math.max).toDouble
      (agree, maxShift)
    }
    val (q34Agree, q34Shift) = bandAgreement(
      Tables.customer(s, d)
        .select(col("c_mktsegment"), col("c_acctbal"), col("c_custkey")),
      10, "c_acctbal", "c_custkey", Seq("c_mktsegment", "c_custkey"))
    val (c40Agree, c40Shift) = bandAgreement(
      Tables.events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events")),
      4, "n_events", "user_id", Seq("user_id"))

    Seq(
      Item("q15b_percentiles_approx", "approx-error",
        "max_rel_err_vs_q15",
        maxRelErr(run("q15_percentiles"), run("q15b_percentiles_approx")),
        0.025, "<"),
      Item("q29b_column_profile_approx", "approx-error",
        "max_rel_err_vs_q29",
        maxRelErr(run("q29_column_profile"), run("q29b_column_profile_approx")),
        0.10, "<="),
      Item("c06b_los_percentiles_approx", "approx-error",
        "max_rel_err_vs_c06",
        maxRelErr(run("c06_los_percentiles"), run("c06b_los_percentiles_approx")),
        0.025, "<"),
      Item("c20_report_incremental", "approx-error",
        "max_rel_err_vs_c18",
        maxRelErr(
          run("c18_monthly_report").selectExpr(
            "concat(section, '|', sec_key) AS k", "n_events", "n_users"),
          run("c20_report_incremental").selectExpr(
            "concat(section, '|', sec_key) AS k", "n_events", "approx_users")),
        0.10, "<="),
      Item("d03_dedup_minhash_lsh", "recall",
        "recall_vs_d02", recall(pairs(run("d03_dedup_minhash_lsh")), d02p),
        0.95, ">="),
      Item("d03b_dedup_lsh_prebuilt", "twin-equality",
        "equals_d03",
        rowsEqual(run("d03b_dedup_lsh_prebuilt"), run("d03_dedup_minhash_lsh")),
        1.0, "=="),
      Item("d04_dedup_simhash", "recall",
        "recall_vs_d02", recall(pairs(d04pairs), d02p), 0.75, ">="),
      Item("d04b_dedup_simhash_wide", "twin-equality",
        "equals_d04_at_hamming3",
        if (pairs(run("d04b_dedup_simhash_wide")) == d04strict) 1.0 else 0.0,
        1.0, "=="),
      Item("d05b_dedup_embedding_ivf", "recall",
        "recall_vs_d05", recall(pairs(run("d05b_dedup_embedding_ivf")), d05p),
        0.95, ">="),
      Item("m01_multimodal_meta", "shape",
        "rows_over_documents",
        run("m01_multimodal_meta").count().toDouble /
          Tables.documents(s, d).count(), 1.0, "=="),
      Item("s02_ann_lsh", "recall",
        "recall_at_10_vs_s01", recall(topIds(run("s02_ann_lsh")), s01top),
        0.7, ">="),
      Item("s02b_ann_lsh_prebuilt", "twin-equality",
        "equals_s02", rowsEqual(run("s02b_ann_lsh_prebuilt"), run("s02_ann_lsh")),
        1.0, "=="),
      Item("s03_ann_ivf", "recall",
        "recall_at_10_vs_s01", recall(topIds(run("s03_ann_ivf")), s01top),
        0.7, ">="),
      Item("s03b_ann_ivf_prebuilt", "twin-equality",
        "equals_s03", rowsEqual(run("s03b_ann_ivf_prebuilt"), run("s03_ann_ivf")),
        1.0, "=="),
      Item("s04_ann_pq", "recall",
        "recall_at_10_vs_s01", recall(topIds(run("s04_ann_pq")), s01top),
        0.7, ">="),
      Item("s04b_ann_pq_prebuilt", "twin-equality",
        "equals_s04", rowsEqual(run("s04b_ann_pq_prebuilt"), run("s04_ann_pq")),
        1.0, "=="),
      Item("s12_ann_ivfpq", "recall",
        "recall_at_10_vs_s01", recall(topIds(run("s12_ann_ivfpq")), s01top),
        0.7, ">="),
      Item("s12b_ann_ivfpq_prebuilt", "twin-equality",
        "equals_s12",
        rowsEqual(run("s12b_ann_ivfpq_prebuilt"), run("s12_ann_ivfpq")),
        1.0, "=="),
      // SQ8's per-dimension quantization error is bounded by step/2 ≈
      // 0.002 per coordinate, so its candidate ranking tracks the exact
      // dots far tighter than the codebook families — floor 0.9
      Item("s15_ann_sq8", "recall",
        "recall_at_10_vs_s01", recall(topIds(run("s15_ann_sq8")), s01top),
        0.9, ">="),
      Item("s15b_ann_sq8_prebuilt", "twin-equality",
        "equals_s15",
        rowsEqual(run("s15b_ann_sq8_prebuilt"), run("s15_ann_sq8")),
        1.0, "=="),
      Item("s05b_knn_join_lsh", "recall",
        "mean_recall_at_10_vs_s05", s05bMean, 0.7, ">="),
      Item("s13_ann_filtered_ivf", "recall",
        "mean_recall_at_10_vs_s07", s13Mean, 0.7, ">="),
      // recall over the SURVIVING corpus: exact = s01's frame minus the
      // tombstoned ids (truth shrinks with the deletes, got must track
      // it); purged-index twin equality is pinned in SimilaritySpec
      Item("s14_ann_tombstones", "recall",
        "recall_at_10_vs_exact_minus_deleted",
        recall(topIds(run("s14_ann_tombstones")), s14Exact), 0.7, ">="),
      Item("s10_mmr_rerank", "twin-equality",
        "rank1_is_s01_top1",
        if (run("s10_mmr_rerank").collect().head.getLong(1) ==
          run("s01_ann_bruteforce").collect().head.getLong(0)) 1.0 else 0.0,
        1.0, "=="),
      Item("s11_index_quality", "consistency",
        "min_family_mean_recall",
        s11rows.values.foldLeft(1.0)(math.min), 0.3, ">="),
      Item("t04_fingerprint", "determinism",
        "rerun_identical",
        if (t04a.length == t04b.length &&
          t04a.zip(t04b).forall { case (x, y) => x == y }) 1.0 else 0.0,
        1.0, "=="),
      // streamed-append ≡ batch-append: st16's three legs (batch,
      // common, streamed) must agree on BOTH counts — the semi-join
      // ("common") equaling both sides is set equality of the cells
      // tables, i.e. the streaming maintenance path reproduced the
      // batch append exactly
      Item("st16_stream_index_maintenance", "twin-equality",
        "streamed_equals_batch_cells", {
          val legs = run("st16_stream_index_maintenance").collect()
            .map(r => (r.getLong(1), r.getLong(2))).toSet
          if (legs.size == 1) 1.0 else 0.0
        }, 1.0, "=="),
      // the approx-banding knob (NOT gate queries — the gate runs the
      // exact path; these rows assert the 100 TB path's accuracy):
      // per-row band agreement stays high and no row shifts by more
      // than one adjacent band (the GK-sketch boundary-error class)
      Item("q34_ntile_deciles.approx_banding", "approx-agreement",
        "band_agreement_vs_exact", q34Agree, 0.90, ">="),
      Item("q34_ntile_deciles.approx_shift", "approx-error",
        "max_band_shift_vs_exact", q34Shift, 1.0, "<="),
      Item("c40_case_control.approx_banding", "approx-agreement",
        "stratum_agreement_vs_exact", c40Agree, 0.90, ">="),
      Item("c40_case_control.approx_shift", "approx-error",
        "max_stratum_shift_vs_exact", c40Shift, 1.0, "<=")
    )
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "docs/rowsonly_evidence.json"
    val spark = Bench.session(Bench.envCpus, Seq(sfDir), gate = true)
    val items = collect(spark, sfDir)
    Files.writeString(Paths.get(out), pretty(render(JObject(items.toList.map {
      i => i.query -> JObject(
        "class" -> JString(i.cls),
        "metric" -> JString(i.metric),
        "value" -> JDouble(i.value),
        "bound" -> JDouble(i.bound),
        "op" -> JString(i.op),
        "pass" -> JBool(i.pass))
    }))))
    items.foreach(i => println(
      s"[evidence] ${if (i.pass) "PASS" else "FAIL"} ${i.query}: " +
        s"${i.metric} = ${i.value} ${i.op} ${i.bound}"))
    val failed = items.filterNot(_.pass)
    println(s"[evidence] ${items.size - failed.size} pass, ${failed.size} fail -> $out")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
