package graft.operators

import graft.Gate
import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.C p01 — the training-data pipeline END TO END.
  *
  * Individual operators are necessary but not sufficient: what a corpus
  * team actually runs is their composition — quality-filter, dedup at
  * two granularities, split, report. p01 is that composition as ONE
  * declarative query over the per-stage operators, proving they compose
  * (shared doc_id keys, compatible schemas) and giving the gate an
  * oracle for the pipeline RESULT, not just its parts.
  *
  * Stage contract (decisions computed on the FULL corpus, intersected
  * at the end — the industrial shape, where each stage emits a keep
  * list and the final materialization applies them all):
  *   1. quality: keep docs with t02 quality >= 0.5;
  *   2. exact dedup: keep d01's min-id representative per content hash;
  *   3. near-dup dedup: drop non-representative members of d06's
  *      connected components;
  *   4. split: t05's content-addressed train/val/test rule;
  *   5. report: (split, lang) doc and token totals.
  *
  * Scale shape: stages 1-3 are the already-audited operator plans; the
  * composition adds two broadcast-size semi/anti joins (keep lists are
  * tiny relative to the corpus) and one final aggregate — no new
  * shuffle on the fact side beyond the operators' own.
  */
object Pipeline {

  def p01(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("lang"))
    // the UNSORTED stage cores: composing the gate-facing operators
    // would bake their verify-path orderBys into the plan as global
    // range-shuffle sorts of intermediates the joins then discard
    val quality = TextAnalysis.t02Core(s, d)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
    val exactKeep = Dedup.d01Core(s, d).select(col("keep_id").as("doc_id"))
    // the near-dup keep list comes from the PERSISTED decision
    // (Dedup.ensureDecision): the components fixpoint runs once at
    // save time, not once per pipeline composition — at 100 TB the
    // pipeline rerun must not re-pay the decision it already made
    val nearDrop = s.table(Dedup.ensureDecision(s, d))
      .filter(col("doc_id") =!= col("keep_id")).select("doc_id")
    docs
      .join(quality, "doc_id")
      .filter(col("quality") >= 0.5)
      .join(exactKeep, Seq("doc_id"), "left_semi")
      .join(nearDrop, Seq("doc_id"), "left_anti")
      .withColumn("split", TextAnalysis.splitOf(col("doc_id")))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"))
      .transform(Gate.ordered("split", "lang"))
  }

  // -- p03: the nightly-import pipeline — delta decisions, no history
  // recompute. Tonight's docs (doc_id % 5 == 4, d10's delta convention)
  // get the FULL stage battery with every leg delta-scoped:
  //   1. quality: t02's score computed on the delta scan only (the
  //      modulo predicate reaches the reader);
  //   2. exact dedup: d10's bloom gate — a constant-size filter over
  //      corpus hashes prunes the delta BEFORE any corpus join; the
  //      exact verify touches only bloom survivors; within-delta copies
  //      resolve to the smallest delta id (d01's min-id rule);
  //   3. near-dup: d02's df-capped candidate gate with the delta on the
  //      stream side (Dedup.deltaNearPairs) — corpus wins regardless of
  //      id, delta partners only when smaller-id (a deterministic
  //      first-wins policy with no sequential dependency chain);
  //   4. split: t05's content-addressed rule — needs no history at all.
  // Emitted per delta doc: every stage's verdict plus the final keep
  // bit, so the gate hash-checks each DECISION, not just the counts.
  // At 100 TB: the corpus is touched by one bloom build (mergeable,
  // maintainable across nights — d10) and the persisted shingle index
  // (the d03b/d08b append machinery); every shuffle is delta-sized.
  // Bloom sizing is honest only to ~10^9-10^10 corpus keys per filter
  // (1-12 GB at 1% fp); past that the gate SHARDS the filter by hash prefix
  // (spark.graft.dedup.bloomShards, Bloom.corpusGate — one grouped
  // build pass, per-shard literal probes), keeping every filter
  // honestly sized with the probes still delta-sized (SURVEY §5).
  def p03(s: SparkSession, d: String): DataFrame = {
    val isDelta = col("doc_id") % 5 === 4
    val quality = TextAnalysis.t02Core(s, d).filter(isDelta)
      .select(col("doc_id"), col("quality"))
    val hashed = documents(s, d)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val corpusH = hashed.filter(!isDelta)
    val deltaH = hashed.filter(isDelta)
    val probe = graft.functions.Bloom.corpusGate(corpusH, col("h"))
    val candH = deltaH.filter(probe(col("h")))
    val dupCorpus = corpusH
      .join(candH.select("h").distinct(), Seq("h"), "left_semi")
      .groupBy(col("h")).agg(min(col("doc_id")).as("corpus_dup"))
    val firstDelta = deltaH.groupBy(col("h"))
      .agg(min(col("doc_id")).as("first_delta"))
    val near = Dedup.deltaNearPairs(s, d, isDelta)
      .filter(col("doc_b") % 5 =!= 4 || col("doc_b") < col("doc_a"))
      .groupBy(col("doc_a")).agg(min(col("doc_b")).as("near_dup_of"))
      .withColumnRenamed("doc_a", "doc_id")
    deltaH
      .join(quality, "doc_id")
      .join(dupCorpus, Seq("h"), "left_outer")
      .join(firstDelta, Seq("h"), "left_outer")
      .join(near, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("quality"),
        coalesce(col("corpus_dup"),
          when(col("first_delta") < col("doc_id"), col("first_delta")))
          .as("dup_of"),
        col("near_dup_of"),
        TextAnalysis.splitOf(col("doc_id")).as("split"))
      .withColumn("kept",
        (col("quality") >= 0.5 && col("dup_of").isNull &&
          col("near_dup_of").isNull).cast("int"))
      .transform(Gate.ordered("doc_id"))
  }

  // -- p04: the dataset-RELEASE pipeline (publication, after p01's
  // curation): source-level gating, quality-canonical dedup, language
  // mixture, and the per-language release accounting — each stage an
  // already-audited operator, composed so the gate hash-checks the
  // RELEASE MANIFEST a corpus team would actually publish:
  //   1. source gate: t18's corpus-relative bar drops whole sources;
  //   2. near-dup dedup, quality-canonical: d12's keep (the HIGHEST-
  //      quality cluster member survives, not the smallest id — the
  //      release wants the clean copy) via the PERSISTED d06 decision;
  //   3. mixture: t06's content-addressed per-language rates;
  //   4. manifest: per language, docs surviving each stage + released
  //      token totals.
  // Scale shape: ONE scored corpus scan; the source keep-list and the
  // cluster-drop list are broadcast-size; counts are conditional
  // aggregates over flags, so no stage re-scans the corpus.
  def p04(s: SparkSession, d: String): DataFrame = {
    val scored = TextAnalysis.t02Scored(s, d, Seq("lang", "source"))
      .select(col("doc_id"), col("n_tokens"), col("lang"), col("source"))
    val srcKeep = broadcast(TextAnalysis.t18(s, d)
      .filter(col("keep") === 1).select(col("source")))
    // cluster members that are NOT their cluster's quality keeper
    val best = Dedup.d12(s, d)
      .select(col("cluster_id").as("keep_id"), col("keep_doc"))
    val dupDrop = broadcast(s.table(Dedup.ensureDecision(s, d))
      .join(best, "keep_id")
      .filter(col("doc_id") =!= col("keep_doc"))
      .select(col("doc_id")))
    scored
      .join(srcKeep.withColumn("src_ok", lit(1)), Seq("source"), "left_outer")
      .join(dupDrop.withColumn("is_dup", lit(1)), Seq("doc_id"), "left_outer")
      .withColumn("k1", col("src_ok").isNotNull)
      .withColumn("k2", col("k1") && col("is_dup").isNull)
      .withColumn("k3", col("k2") && TextAnalysis.mixtureKeep)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("k1"), 1)).as("n_source_gated"),
        count(when(col("k2"), 1)).as("n_after_dedup"),
        count(when(col("k3"), 1)).as("n_released"),
        coalesce(sum(when(col("k3"), col("n_tokens"))), lit(0L))
          .as("tok_released"))
      .transform(Gate.ordered("lang"))
  }

  // -- p05: decontaminated evaluation holdout -----------------------------
  // The eval-integrity composition: t05 assigns the content-addressed
  // split, t11 finds val/test documents sharing enough shingles with
  // any train document — and the RELEASED holdout must exclude them,
  // or reported eval numbers are memorization. p05 is that contract as
  // one query: every document's final disposition (train kept as-is;
  // clean val/test kept; contaminated val/test QUARANTINED — dropped
  // from eval, never silently retrained-on, so the audit trail shows
  // exactly what was removed and why). Definitions are referenced, not
  // re-declared: the split is t05's splitOf, the contamination verdict
  // is t11's output, and the oracle splices both SQL fragments
  // (SPLIT_CASE_SQL, CONTAM_CTES) — neither side can fork a rule.
  def p05(s: SparkSession, d: String): DataFrame = {
    val split = documents(s, d)
      .select(col("doc_id"), TextAnalysis.splitOf(col("doc_id")).as("split"))
    val contam = broadcast(TextAnalysis.t11(s, d)
      .select(col("doc_id")).withColumn("contam", lit(1)))
    split.join(contam, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("split"),
        when(col("split") =!= "train" && col("contam").isNotNull,
          lit("quarantined")).otherwise(col("split")).as("final_split"))
      .transform(Gate.ordered("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p01_pipeline_e2e" -> (p01 _),
    "p03_pipeline_incremental" -> (p03 _),
    "p04_pipeline_release" -> (p04 _),
    "p05_decontaminated_holdout" -> (p05 _)
  )

  /** The oracle composes the SAME stage fragments the per-operator
    * oracles use (T02_SCORED_SQL, D06_CTES/D02_SQL, SPLIT_CASE_SQL) —
    * one definition per stage on each side.
    */
  val oracle: Map[String, String] = Map(
    // t05's split CASE + t11's contamination CTEs, both by reference
    "p05_decontaminated_holdout" ->
      s"""WITH ${TextAnalysis.CONTAM_CTES},
         |contam AS (SELECT DISTINCT doc_id FROM m)
         |SELECT sp.doc_id, sp.split,
         | CASE WHEN sp.split <> 'train' AND c.doc_id IS NOT NULL
         |   THEN 'quarantined' ELSE sp.split END AS final_split
         |FROM sp LEFT JOIN contam c USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // the same stage fragments: t18's bar over T02_SCORED_SQL means,
    // d06's recursive components + d12's quality argmax, t06's mixture
    // predicate — all by reference, no stage rule re-declared
    "p04_pipeline_release" ->
      s"""WITH RECURSIVE ${Dedup.D06_CTES},
         |q AS (SELECT doc_id, n_tokens, quality
         |  FROM ${TextAnalysis.T02_SCORED_SQL} sc),
         |per AS (SELECT d.source, COUNT(*) AS n_docs,
         |  SUM(CAST(q.quality AS DECIMAL(18,6))) AS sum_q
         | FROM documents d JOIN q USING (doc_id) GROUP BY 1),
         |tot AS (SELECT SUM(sum_q) AS sq,
         |  CAST(SUM(n_docs) AS BIGINT) AS nd FROM per),
         |keep_src AS (SELECT source FROM per CROSS JOIN tot
         | WHERE ROUND(CAST(sum_q AS DOUBLE) / n_docs, 6) >=
         |  ${TextAnalysis.T18_REL_BAR} * ROUND(CAST(sq AS DOUBLE) / nd, 6)),
         |best AS (SELECT keep_id, doc_id AS keep_doc FROM (
         |  SELECT keep_id, d06.doc_id, ROW_NUMBER() OVER (
         |    PARTITION BY keep_id ORDER BY quality DESC, d06.doc_id) AS rk
         |  FROM d06 JOIN q USING (doc_id)) WHERE rk = 1),
         |dup_drop AS (SELECT d06.doc_id FROM d06 JOIN best USING (keep_id)
         | WHERE d06.doc_id <> best.keep_doc),
         |flags AS (
         | SELECT d.lang, q.n_tokens,
         |  (d.source IN (SELECT source FROM keep_src)) AS k1,
         |  (d.source IN (SELECT source FROM keep_src)
         |   AND d.doc_id NOT IN (SELECT doc_id FROM dup_drop)) AS k2,
         |  (d.source IN (SELECT source FROM keep_src)
         |   AND d.doc_id NOT IN (SELECT doc_id FROM dup_drop)
         |   AND (${TextAnalysis.MIXTURE_COND_SQL})) AS k3
         | FROM documents d JOIN q USING (doc_id))
         |SELECT lang, COUNT(*) AS n_docs,
         | COUNT(CASE WHEN k1 THEN 1 END) AS n_source_gated,
         | COUNT(CASE WHEN k2 THEN 1 END) AS n_after_dedup,
         | COUNT(CASE WHEN k3 THEN 1 END) AS n_released,
         | CAST(COALESCE(SUM(CASE WHEN k3 THEN n_tokens END), 0) AS BIGINT)
         |  AS tok_released
         |FROM flags GROUP BY 1 ORDER BY lang""".stripMargin,
    "p01_pipeline_e2e" ->
      s"""WITH RECURSIVE ${Dedup.D06_CTES},
         |q AS (SELECT doc_id, n_tokens, quality
         |  FROM ${TextAnalysis.T02_SCORED_SQL} sc),
         |d01keep AS (SELECT keep_id AS doc_id
         |  FROM ${Dedup.D01_GROUPS_SQL} g),
         |kept AS (
         |  SELECT d.doc_id, d.lang, q.n_tokens,
         |   ${TextAnalysis.SPLIT_CASE_SQL} AS split
         |  FROM documents d JOIN q USING (doc_id)
         |  WHERE q.quality >= 0.5
         |   AND d.doc_id IN (SELECT doc_id FROM d01keep)
         |   AND d.doc_id NOT IN (
         |    SELECT doc_id FROM d06 WHERE doc_id <> keep_id))
         |SELECT split, lang, COUNT(*) AS n_docs,
         | CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
         |FROM kept GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // every delta-scoped leg mirrored: exact-string shingles (the d02
    // xxhash collision caveat), the same first-wins policies, the same
    // raw-jaccard threshold before rounding
    "p03_pipeline_incremental" ->
      s"""WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
         |dl AS (SELECT * FROM h WHERE doc_id % 5 = 4),
         |q AS (SELECT doc_id, quality
         |  FROM ${TextAnalysis.T02_SCORED_SQL} sc WHERE doc_id % 5 = 4),
         |cd AS (SELECT d.doc_id, MIN(c.doc_id) AS corpus_dup
         |  FROM dl d JOIN h c ON c.h = d.h AND c.doc_id % 5 <> 4
         |  GROUP BY 1),
         |fd AS (SELECT h, MIN(doc_id) AS first_delta FROM dl GROUP BY 1),
         |${Dedup.SQL_SHINGLES},
         |ci AS (SELECT * FROM sh WHERE shingle NOT IN (
         |  SELECT shingle FROM sh GROUP BY 1 HAVING COUNT(*) > ${Dedup.DF_CAP})),
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM ci a JOIN ci b ON a.shingle = b.shingle
         |   AND a.doc_id % 5 = 4 AND b.doc_id <> a.doc_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= ${Dedup.MIN_SHARED}),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |pr AS (SELECT cand.doc_a, cand.doc_b, COUNT(*) AS shared
         |  FROM cand JOIN sh a ON a.doc_id = cand.doc_a
         |   JOIN sh b ON b.doc_id = cand.doc_b AND b.shingle = a.shingle
         |  GROUP BY 1, 2),
         |np AS (SELECT doc_a AS doc_id, MIN(doc_b) AS near_dup_of FROM (
         |  SELECT doc_a, doc_b,
         |   CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE)
         |    AS jac
         |  FROM pr JOIN cnt ca ON ca.doc_id = doc_a
         |   JOIN cnt cb ON cb.doc_id = doc_b)
         | WHERE jac >= ${Dedup.JACCARD_T}
         |  AND (doc_b % 5 <> 4 OR doc_b < doc_a) GROUP BY 1)
         |SELECT doc_id, quality, dup_of, near_dup_of, split,
         | CAST(quality >= 0.5 AND dup_of IS NULL AND near_dup_of IS NULL
         |  AS INT) AS kept
         |FROM (
         | SELECT doc_id, q.quality,
         |  COALESCE(cd.corpus_dup, CASE WHEN fd.first_delta < doc_id
         |    THEN fd.first_delta END) AS dup_of,
         |  np.near_dup_of,
         |  ${TextAnalysis.SPLIT_CASE_SQL} AS split
         | FROM dl d JOIN q USING (doc_id) LEFT JOIN cd USING (doc_id)
         |  LEFT JOIN fd ON fd.h = d.h LEFT JOIN np USING (doc_id))
         |ORDER BY doc_id""".stripMargin
  )
}
