package graft.operators

import graft.Gate
import graft.Tables._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.C d01–d06 — deduplication over the `documents` corpus (and
  * embedding near-dup over `embeddings`).
  *
  * The reference DWH deduplicates at import time (i2b2 CRC upserts facts
  * by patient/encounter/concept key); a training-data pipeline needs the
  * same capability content-wise: exact hash dedup plus near-duplicate
  * detection that stays LINEAR at 100 TB. Candidate generation here is
  * always index-shaped (inverted shingle index, MinHash band buckets,
  * SimHash chunk buckets, quantization buckets) — never an all-pairs
  * cross join; exact verification runs only inside candidate buckets.
  */
object Dedup {

  private[graft] val JACCARD_T = 0.7
  private val COSINE_T = 0.4

  /** documents.parquet is one file -> ONE input partition; every explode
    * downstream would otherwise run single-task (same trap as s02's
    * bucket index — pinned count because AQE sizes by bytes and cannot
    * see the ~90x shingle amplification).
    */
  private def docsRepart(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))

  /** Distinct (doc_id, shingle) pairs — the inverted-index rows.
    * private[graft]: t21's novelty scoring reuses the ONE shingle
    * definition (as t11 reuses the caps) rather than re-declaring it.
    */
  private[graft] def shingleIndex(s: SparkSession, d: String): DataFrame =
    docsRepart(s, d)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), explode(shingles3("w")).as("shingle"))

  // -- d01: exact dedup by content hash ---------------------------------
  // One shuffle on the 128-bit content hash; keeps the smallest doc_id of
  // each identical-content group. At 100 TB this is the cheapest possible
  // dedup: map-side partial agg collapses per-partition copies first.
  /** Unsorted core — composed by Pipeline.p01. */
  private[graft] def d01Core(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  def d01(s: SparkSession, d: String): DataFrame =
    d01Core(s, d).transform(Gate.ordered("keep_id"))

  // -- d02: word-3-gram Jaccard near-dup pairs ---------------------------
  // Inverted-index join with a DOCUMENT-FREQUENCY CAP on candidate
  // generation: a stop-shingle appearing in k docs creates a k² join
  // bucket, so shingles with df > DF_CAP are dropped from the index
  // BEFORE the self-join (a broadcast anti-join — the common shingles
  // are few by construction). Verification stays EXACT: shared/union
  // counts come from the full uncapped index, so any pair that shares
  // at least one sub-cap shingle gets its true Jaccard. Bounded bucket
  // size makes the join cost linear in corpus size at 100 TB.
  private[graft] val DF_CAP = 50
  // a jaccard>=0.7 pair missed by this bound would need a shingle union
  // of <8, i.e. BOTH docs under ~9 tokens — below the corpus minimum
  // (n_chars >= 128). The shortest real near-dup pair shares 8 shingles.
  // This corpus property is ASSERTED, not assumed: DedupSpec computes the
  // brute-force ground-truth pairs and checks every one clears both
  // gates, so a generator change that invalidates the bound fails CI.
  // (Caveat: the Spark side computes df and the shared count over 64-bit
  // xxhash64(shingle), the oracle over exact strings. A hash collision
  // that merges two shingles could in principle push a df across DF_CAP
  // or a shared count across MIN_SHARED — a gate flip the exact verify
  // cannot repair, unlike the benign added-candidate case. At ~2^-64 per
  // shingle pair this is an accepted risk.)
  private[graft] val MIN_SHARED = 5

  /** df-capped candidate pairs (doc_a < doc_b) — the shared candidate
    * contract of d02 (Jaccard verify) and d07 (containment verify).
    *
    * The index joins/aggregates on the 8-byte shingle hash, not the
    * ~30-byte string — cheaper shuffle and group comparisons; a 64-bit
    * collision can only ADD a candidate. d02's Jaccard verify rejects
    * any such extra pair; d07's containment verify would KEEP a
    * collision-added pair that happens to be a true containment while
    * the string-based oracle gate excludes it — an accepted one-sided
    * divergence risk at ~2^-64 per shingle pair, not a correctness
    * guarantee. The groupBy doubles as dedup of candidate pairs and
    * partial-aggregates map-side; the shared-count filter is part of
    * the contract: a pair qualifies only with >= MIN_SHARED sub-cap
    * shared shingles (any jaccard>=0.7 pair shares >=0.7*union),
    * discarding the birthday-collision pairs (a small vocabulary makes
    * ~27% of ALL doc pairs share >=1 shingle) before an exact verify
    * touches them.
    */
  private def cappedCandidates(s: SparkSession, d: String): DataFrame =
    cappedCandidatesOf(s, graft.LocalCheckpointer(setRows(s, d)))

  /** The same candidates derived from an ALREADY-MATERIALIZED shingle-set
    * frame (r15): the exploded index rows are a map-side explode of the
    * per-doc arrays, so one tokenize+shingle pass feeds the df filter,
    * both index sides of the self-join AND (via the caller passing the
    * same frame to exactJaccard) the verify operands — the pre-r15 plan
    * replayed the corpus tokenize five times per d02-family query.
    */
  private def cappedCandidatesOf(s: SparkSession, sets: DataFrame)
      : DataFrame = {
    val sh = sets
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
    val common = sh.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > graft.GraftConf.dfCap(s))
      .select("h")
    // rename by NAME, not position: a using-join reorders its output
    // (join key first), so toDF here would silently relabel doc ids as
    // hashes if Spark ever changed that ordering contract
    val ci = sh.join(broadcast(common), Seq("h"), "left_anti")
    ci.select(col("h"), col("doc_id").as("doc_a"))
      .join(ci.select(col("h"), col("doc_id").as("doc_b")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_cap"))
      .filter(col("n_cap") >= MIN_SHARED)
      .select("doc_a", "doc_b")
  }

  /** d02's near-dup semantics DELTA-SCOPED (Pipeline.p03's leg): only
    * pairs with a deltaPred doc on the left are generated — the
    * candidate join's stream side is delta-sized, the corpus side is
    * the df-capped inverted index (at 100 TB: the PERSISTED artifact,
    * cf. the d03b/d08b append machinery — df counts over the full
    * index keep the cap exact under growth). Emits (doc_a = delta doc,
    * doc_b = any partner, jaccard >= JACCARD_T).
    */
  private[graft] def deltaNearPairs(s: SparkSession, d: String,
      isDelta: org.apache.spark.sql.Column): DataFrame = {
    // one materialized tokenize pass shared by index and verify (r15),
    // same move as d02Core
    val sets = graft.LocalCheckpointer(setRows(s, d))
    val sh = sets
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
    val common = sh.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > graft.GraftConf.dfCap(s))
      .select("h")
    // by-name renames for the same reason as cappedCandidates above
    val ci = sh.join(broadcast(common), Seq("h"), "left_anti")
    val cand = ci.filter(isDelta)
      .select(col("h"), col("doc_id").as("doc_a"))
      .join(ci.select(col("h"), col("doc_id").as("doc_b")), "h")
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_cap"))
      .filter(col("n_cap") >= MIN_SHARED)
      .select("doc_a", "doc_b")
    exactJaccard(cand, sets)
  }

  /** Unsorted core — the edge source for d06's components. */
  private[graft] def d02Core(s: SparkSession, d: String): DataFrame = {
    // exact verify per candidate pair on the FULL shingle sets (array
    // intersection/union — same shape as d03's verify); the set frame
    // is materialized ONCE and shared by candidates and verify
    val sets = graft.LocalCheckpointer(setRows(s, d))
    exactJaccard(cappedCandidatesOf(s, sets), sets)
  }

  def d02(s: SparkSession, d: String): DataFrame =
    d02Core(s, d).transform(Gate.ordered("doc_a", "doc_b"))

  // -- d03: MinHash + LSH banding near-dup (the 100 TB dedup path) -------
  // 32 hashes, 8 bands × 4 rows: P(candidate | jaccard=0.98) ≈ 1-1e-9,
  // P(candidate | jaccard=0.3) ≈ 6%. Candidate generation is
  // explode(bands) + one shuffle on (band, bucket); exact Jaccard runs
  // only on candidates via per-pair array intersection — linear in corpus
  // size for bounded bucket sizes, never all-pairs.
  def d03(s: SparkSession, d: String): DataFrame = {
    // signatures via explode + 32 codegen'd min-aggs (map-side combined),
    // one shuffle on doc_id; the string is hashed once per shingle.
    // Band rows and shingle sets are each materialized once (r15) —
    // both sides of the bucket self-join and both verify operands
    // otherwise replay the signature/tokenize pass
    val bands = graft.LocalCheckpointer(bandRows(s, d))
    val cand = bands.toDF("doc_a", "band", "bucket")
      .join(bands.toDF("doc_b", "band", "bucket"), Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    exactJaccard(cand, graft.LocalCheckpointer(setRows(s, d)))
      .transform(Gate.ordered("doc_a", "doc_b"))
  }

  // -- d03b: MinHash LSH over PERSISTED index tables ---------------------
  // The 100 TB dedup story made concrete (same move as Similarity.s02b):
  // the expensive corpus passes — shingling, 32 minhash aggregates, band
  // bucketing, and the exact-verify shingle sets — are built ONCE and
  // stored as bucketed tables. A dedup run then reads the band table
  // (bucketBy (band, bucket): the candidate self-join is exchange-free,
  // the src03 technique) and the sets table (bucketBy doc_id: both
  // verify joins co-located). The query plan touches neither documents
  // text nor any explode — DedupSpec asserts the executed plan contains
  // NO Generate node and proves set-equality with d03.

  private def sanitize(x: String): String = graft.Scratch.tag(x)

  private def scratch: String = graft.Scratch.dir

  /** Band-bucket rows (doc_id, band, bucket) for an arbitrary documents
    * frame — d03's candidate index.
    */
  private def bandRowsOf(s: SparkSession, docs: DataFrame): DataFrame =
    docs.repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), explode(shingles3("w")).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      .groupBy(col("doc_id"))
      .agg(minhashAggs(col("h"), 32).head, minhashAggs(col("h"), 32).tail: _*)
      .select(col("doc_id"), minhashSigCols(32).as("sig"))
      .select(col("doc_id"),
        posexplode(lshBands("sig", 8, 4)).as(Seq("band", "bucket")))

  private def bandRows(s: SparkSession, d: String): DataFrame =
    bandRowsOf(s, documents(s, d))

  /** Shingle-set rows (doc_id, sh) — the exact-verify operand. */
  private def setRowsOf(s: SparkSession, docs: DataFrame): DataFrame =
    docs.repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), shingles3("w").as("sh"))

  private def setRows(s: SparkSession, d: String): DataFrame =
    setRowsOf(s, documents(s, d))

  /** Exact-Jaccard verification of candidate pairs against the shingle
    * sets — the shared tail of every MinHash variant.
    */
  private def exactJaccard(cand: DataFrame, sets: DataFrame): DataFrame =
    cand
      .join(sets.toDF("doc_a", "sh_a"), "doc_a")
      .join(sets.toDF("doc_b", "sh_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= JACCARD_T)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))

  /** Build (overwrite) the persisted LSH index pair for a documents
    * frame under the given tag; returns (bands, sets) table names.
    */
  def buildLshIndex(s: SparkSession, docs: DataFrame, tag: String)
      : (String, String) = {
    val bands = s"graft_lsh_bands_$tag"
    val sets = s"graft_shingle_sets_$tag"
    val nb = graft.GraftConf.indexBuckets(s)
    bandRowsOf(s, docs).write.mode("overwrite")
      .bucketBy(nb, "band", "bucket").sortBy("band", "bucket")
      .option("path", s"$scratch/lsh_bands/$tag")
      .saveAsTable(bands)
    setRowsOf(s, docs).write.mode("overwrite")
      .bucketBy(nb, "doc_id").sortBy("doc_id")
      .option("path", s"$scratch/shingle_sets/$tag")
      .saveAsTable(sets)
    (bands, sets)
  }

  /** CDC-style incremental import: signatures and shingle sets are
    * computed for the NEWLY ARRIVED docs only and appended into the
    * bucketed layout — the corpus is never re-shingled. At 100 TB this
    * turns dedup of a growing corpus from a full rebuild into work
    * linear in the day's delta (pair discovery for the delta probes only
    * the buckets the new docs land in, cf. lshPairsTouching).
    */
  def appendLshIndex(s: SparkSession, newDocs: DataFrame, tag: String): Unit = {
    require(s.catalog.tableExists(s"graft_lsh_bands_$tag") &&
        s.catalog.tableExists(s"graft_shingle_sets_$tag"),
      s"no complete LSH index '$tag' to append to — run buildLshIndex first " +
        "(appending would create a managed table outside the index layout)")
    // the index's geometry was fixed at build: an append under a
    // DIFFERENT spark.graft.index.buckets fails fast on Spark's own
    // bucket-spec check rather than corrupting the layout
    val nb = graft.GraftConf.indexBuckets(s)
    bandRowsOf(s, newDocs).write.mode("append")
      .bucketBy(nb, "band", "bucket").sortBy("band", "bucket")
      .saveAsTable(s"graft_lsh_bands_$tag")
    setRowsOf(s, newDocs).write.mode("append")
      .bucketBy(nb, "doc_id").sortBy("doc_id")
      .saveAsTable(s"graft_shingle_sets_$tag")
  }

  /** Build-if-absent the persisted LSH index for a test-SF dir (tag
    * encodes the bucket count, so a resized deployment rebuilds instead
    * of serving the stale geometry).
    */
  def ensureLshIndex(s: SparkSession, d: String): (String, String) = {
    val tag = s"${sanitize(d)}_b${graft.GraftConf.indexBuckets(s)}"
    if (!s.catalog.tableExists(s"graft_lsh_bands_$tag"))
      buildLshIndex(s, documents(s, d), tag)
    (s"graft_lsh_bands_$tag", s"graft_shingle_sets_$tag")
  }

  /** All near-dup pairs from a persisted index (d03's semantics, zero
    * signature derivation in-plan).
    */
  def lshPairsFromIndex(s: SparkSession, bandsT: String, setsT: String)
      : DataFrame = {
    val bands = s.table(bandsT)
    val cand = bands.toDF("doc_a", "band", "bucket").hint("merge")
      .join(bands.toDF("doc_b", "band", "bucket"), Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    exactJaccard(cand, s.table(setsT))
      .transform(Gate.ordered("doc_a", "doc_b"))
  }

  /** Near-dup pairs INVOLVING a given id set (e.g. today's delta): probe
    * only the buckets those docs occupy — cost is proportional to the
    * delta, not the corpus.
    */
  def lshPairsTouching(s: SparkSession, bandsT: String, setsT: String,
      ids: DataFrame): DataFrame = {
    val bands = s.table(bandsT)
    val nb = bands.join(ids, Seq("doc_id"), "left_semi")
    val cand = nb.toDF("doc_a", "band", "bucket")
      .join(bands.toDF("doc_b", "band", "bucket"), Seq("band", "bucket"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .distinct()
    exactJaccard(cand, s.table(setsT))
      .transform(Gate.ordered("doc_a", "doc_b"))
  }

  def d03b(s: SparkSession, d: String): DataFrame = {
    val (bandsT, setsT) = ensureLshIndex(s, d)
    lshPairsFromIndex(s, bandsT, setsT)
  }

  // -- d04: SimHash 64-bit near-dup -------------------------------------
  // Candidates by pigeonhole: hamming(a,b) <= 7 implies at least one of 8
  // 8-bit chunks is identical, so pairs meet through a chunk-bucket join
  // (one shuffle on (chunk, value)); verification is bit_count(xor).
  // Scale: 8-bit chunks give only 256 buckets per position, so bucket
  // sizes grow as corpus/2048 — fine to ~10M docs; d04b below is the
  // billion-doc variant (tighter radius, wider chunks).

  /** 64-bit simhash per doc: per-bit counters via explode + 64 codegen'd
    * sums, one shuffle on doc_id with map-side partial aggregation.
    */
  private def simhashes(s: SparkSession, d: String): DataFrame =
    docsRepart(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
      .groupBy(col("doc_id"))
      .agg(simhashAggs(col("h")).head, simhashAggs(col("h")).tail: _*)
      .select(col("doc_id"), simhashFromCounters.as("simhash"))

  /** Chunk-bucket candidate pairs verified by exact xor popcount. */
  private def simhashPairs(hs: DataFrame, nChunks: Int, bits: Int,
      maxHamming: Int): DataFrame = {
    val mask = (1L << bits) - 1
    val chunks = hs.select(col("doc_id"), col("simhash"),
      posexplode(expr(s"transform(sequence(0, ${nChunks - 1}), c -> " +
        s"shiftright(simhash, $bits * c) & $mask)")).as(Seq("chunk", "cval")))
    chunks.toDF("doc_a", "sim_a", "chunk", "cval")
      .join(chunks.toDF("doc_b", "sim_b", "chunk", "cval"), Seq("chunk", "cval"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  def d04(s: SparkSession, d: String): DataFrame =
    // the 64-bit hashes are materialized once (r16, d02Core's move):
    // both sides of the chunk-bucket self-join otherwise replay the
    // full token-explode + 64-counter aggregation over the corpus —
    // the plan carried two complete simhash subtrees
    simhashPairs(graft.LocalCheckpointer(simhashes(s, d)), 8, 8, 7)
      .transform(Gate.ordered("doc_a", "doc_b"))

  // -- d04b: wide-chunk SimHash (the billion-doc shape) ------------------
  // Pigeonhole at hamming <= 3 over 4 chunks of 16 bits: 65536 buckets
  // per position instead of 256, so bucket sizes — and the quadratic
  // in-bucket work — shrink 256x for the same corpus. The tighter
  // radius is the price; DedupSpec proves d04b returns exactly d04's
  // pairs at hamming <= 3.
  def d04b(s: SparkSession, d: String): DataFrame =
    simhashPairs(graft.LocalCheckpointer(simhashes(s, d)), 4, 16, 3)
      .transform(Gate.ordered("doc_a", "doc_b"))

  // -- d06: dedup DECISION — near-dup clusters and their representative --
  // Pair lists are not a dedup policy: the pipeline must group pairs
  // into connected components and keep ONE representative per cluster
  // (a~b, b~c ⇒ keep one of {a,b,c}). Components via ALTERNATING
  // large-star/small-star contraction (Kiveris, Lattanzi, Mirrokni,
  // Rastogi, Vassilvitskii — "Connected Components in MapReduce and
  // Beyond", SoCC 2014): each round re-hangs every node under the
  // minimum of its neighborhood, which HALVES tree heights instead of
  // walking them, so the round count is O(log^2 n) in the worst case —
  // independent of component DIAMETER. (The previous min-label
  // propagation needed one round per hop to the component min; a
  // boilerplate-chained crawl component with diameter in the hundreds
  // — routine at 100 TB — would exhaust any fixed cap. DedupSpec's
  // 250-node path graph converges in a handful of rounds here and
  // provably could not under per-hop propagation with the same cap.)
  // Iterates TO THE FIXPOINT (round output == input) with a round cap
  // that exists to make a logic bug loud, not to bound real corpora;
  // lineage is checkpointed per round.

  /** Unsorted core — composed by Pipeline.p01. The checkpointer is the
    * deployment knob (graft.Checkpointing): local for single-JVM runs,
    * ReliableCheckpointer(hdfsDir) on a cluster — spec-proven to reach
    * identical labels.
    */
  private[graft] def d06Core(s: SparkSession, d: String,
      cp: graft.Checkpointer = graft.LocalCheckpointer): DataFrame =
    componentsOf(d02Core(s, d).select(col("doc_a"), col("doc_b")), cp)
      .toDF("doc_id", "keep_id")

  /** Connected components over any (doc_a, doc_b) pair frame →
    * (id, keep_id = component min). The dedup DECISION is the same
    * whatever produced the pairs — d06 runs it over d02's text
    * near-dups, d09 over d05's embedding near-dups.
    */
  /** Both neighborhood orientations of a directed parent-edge set. */
  private def symmetrize(e: DataFrame): DataFrame =
    e.unionByName(e.select(col("b").as("a"), col("a").as("b"))).distinct()

  /** Large-star: every node u re-hangs its STRICTLY LARGER neighbors
    * under m = min(Γ(u) ∪ {u}). Each undirected edge {u,v}, u<v, is
    * seen from both endpoints but emitted only from the smaller one —
    * as (v, m_u) with m_u ≤ u < v, so no self loops can appear.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val s = symmetrize(e)
    val m = s.groupBy(col("a")).agg(least(min(col("b")), col("a")).as("m"))
    s.join(m, "a").filter(col("b") > col("a"))
      .select(col("b").as("a"), col("m").as("b"))
      .distinct()
  }

  /** Small-star: every node u re-hangs its smaller-or-equal closure
    * N⁻(u) ∪ {u} (N⁻ = strictly smaller neighbors) under its minimum.
    * Nodes with no smaller neighbor emit nothing — they are candidate
    * roots and keep whatever edges largeStar gave their children.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val s = symmetrize(e)
    val n = s.filter(col("b") < col("a"))
    val m = n.groupBy(col("a")).agg(min(col("b")).as("m"))
    n.join(m, "a")
      .select(col("b").as("v"), col("m"))
      .unionByName(m.select(col("a").as("v"), col("m")))
      .filter(col("v") =!= col("m"))
      .select(col("v").as("a"), col("m").as("b"))
      .distinct()
  }

  private[graft] def componentsOf(pairs: DataFrame,
      cp: graft.Checkpointer = graft.LocalCheckpointer): DataFrame = {
    // O(log^2 n) rounds converge any physically storable corpus in far
    // fewer than 50; the cap turns a logic bug into a loud error instead
    // of an unbounded shuffle loop
    val maxIter = 50
    // LINEAGE TRUNCATION is load-bearing for every iterative DataFrame
    // algorithm: an uncut plan embeds every prior round twice (join
    // left + union right) and Catalyst grinds to a halt around round 8.
    // Materialize the edge state once per round; within a round the
    // two star steps stay lazy (constant plan depth).
    var edges = cp(pairs
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .filter(col("a") =!= col("b")).distinct())
    var nEdges = edges.count()
    var converged = nEdges == 0L
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = cp(smallStar(largeStar(edges)))
      val nNext = next.count()
      // fixpoint test is EXACT set equality (both frames are distinct
      // sets: equal counts + one empty difference ⇒ equal) — at the
      // fixpoint every component is a star centered on its minimum
      converged = nNext == nEdges && next.except(edges).isEmpty
      edges = next
      nEdges = nNext
      iter += 1
    }
    require(converged, s"components did not converge within $maxIter rounds")
    // star edges are (member, component-min); the root labels itself
    edges.select(col("a").as("id"), col("b").as("label"))
      .unionByName(edges.select(col("b").as("id"), col("b").as("label"))
        .distinct())
      .select(col("id"), col("label").as("keep_id"))
  }

  def d06(s: SparkSession, d: String): DataFrame =
    d06Core(s, d).transform(Gate.ordered("doc_id"))

  /** Persist a (doc_id, keep_id) decision frame as a doc_id-bucketed
    * table — i2b2's QT result-lifecycle pattern (a query runs once,
    * its patient set is materialized, every report joins the saved
    * set; cf. Panels.ensureSavedPatientSet) applied to the dedup
    * decision: the components fixpoint is the expensive step, and
    * every consumer after it (the d11 audit, p01's keep-list
    * application, ad-hoc "is this kept?" joins) only needs the tiny
    * decision table. Bucketed by doc_id so corpus-side joins on the
    * same bucketing are exchange-free (src03's technique).
    */
  def saveDecision(s: SparkSession, decision: DataFrame, tag: String): String = {
    val nb = graft.GraftConf.indexBuckets(s)
    val name = s"graft_dedup_decision_$tag"
    decision.write.mode("overwrite")
      .bucketBy(nb, "doc_id").sortBy("doc_id")
      .option("path", s"$scratch/dedup_decision/$tag")
      .saveAsTable(name)
    name
  }

  /** Build-if-absent the persisted d06 decision for a test-SF dir. The
    * tag encodes the candidate gate's accuracy knob (dfCap) and the
    * bucket count, so changing either rebuilds instead of serving a
    * decision computed under different semantics/geometry.
    */
  def ensureDecision(s: SparkSession, d: String): String = {
    val tag = s"${sanitize(d)}_df${graft.GraftConf.dfCap(s)}" +
      s"_b${graft.GraftConf.indexBuckets(s)}"
    if (!s.catalog.tableExists(s"graft_dedup_decision_$tag"))
      saveDecision(s, d06Core(s, d), tag)
    s"graft_dedup_decision_$tag"
  }

  // -- d11: dedup savings report (the audit face of the d06 decision) ---
  // What a pipeline owner actually reviews before enabling a dedup
  // stage: how many clusters of each size, how many documents the
  // keep-one rule removes, and how many bytes that saves. Two tiny
  // aggregates over the PERSISTED (doc_id, keep_id) decision joined to
  // the doc sizes — the components fixpoint ran once at save time
  // (ensureDecision), so the audit costs only the rollup; before r9 it
  // re-ran the whole fixpoint inline per consumer (DedupSpec asserts
  // the plan carries no fixpoint artifacts, only the table scan).
  // bytes_saved counts non-representative docs only: what the keep-one
  // rewrite deletes.
  def d11(s: SparkSession, d: String): DataFrame =
    s.table(ensureDecision(s, d))
      .join(documents(s, d).select(col("doc_id"), col("n_chars")), "doc_id")
      .groupBy(col("keep_id"))
      .agg(count(lit(1)).as("cluster_size"),
        sum(when(col("doc_id") =!= col("keep_id"), col("n_chars"))
          .otherwise(0L)).as("saved"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size") - 1).as("n_removed"),
        sum(col("saved")).as("bytes_saved"))
      .transform(Gate.ordered("cluster_size"))

  // -- d12: quality-aware canonical selection ----------------------------
  // The keep-one rule most production dedups actually want: within each
  // near-dup cluster keep the HIGHEST-QUALITY member (t02's score), not
  // the smallest id — the min-id decision can keep a truncated OCR copy
  // and delete the clean one. Composes the persisted d06 decision with
  // t02's scoring core: one scan of the tiny decision table, one
  // quality join (doc-keyed, AQE-splittable), one argmax aggregate per
  // cluster via max(struct) — no window sort, no second fixpoint
  // (ensureDecision). quality is already rounded to 6, so the
  // (quality desc, doc_id asc) argmax picks the same member on every
  // engine and partitioning.
  def d12(s: SparkSession, d: String): DataFrame =
    s.table(ensureDecision(s, d))
      .join(TextAnalysis.t02Core(s, d).select(col("doc_id"), col("quality")),
        "doc_id")
      .groupBy(col("keep_id").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        max(struct(col("quality"), (-col("doc_id")).as("neg_id"))).as("best"))
      .select(col("cluster_id"), col("cluster_size"),
        (-col("best.neg_id")).as("keep_doc"),
        col("best.quality").as("best_quality"))
      .transform(Gate.ordered("cluster_id"))

  // -- d13: cross-source duplication matrix ------------------------------
  // The data-governance report over d02's verified near-dup pairs:
  // which SOURCES mirror each other (a crawl re-serving another feed,
  // two ingest paths of the same wire service)? Each pair tags its two
  // docs' sources via two broadcast-sized joins against the doc→source
  // projection (at 100 TB: a column scan, and the pair frame is the
  // small side — near-dup pairs ≪ corpus); least/greatest folds the
  // matrix to its upper triangle so (a,b) and (b,a) can't split counts.
  def d13(s: SparkSession, d: String): DataFrame = {
    val src = documents(s, d).select(col("doc_id"), col("source"))
    d02Core(s, d)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("same_source",
        (col("source_a") === col("source_b")).cast("int"))
      .transform(Gate.ordered("source_a", "source_b"))
  }

  // -- d14: dedup threshold sensitivity (the tuning report) --------------
  // "What happens if I move the Jaccard bar?" answered from ONE pair
  // computation: d02's verified pairs banded by similarity, with pair
  // and involved-doc counts per band — the report a curator reads
  // before committing a threshold (a fat 0.7–0.8 band means the corpus
  // is threshold-sensitive there; an empty one means 0.7 was already
  // conservative). The banded frame is checkpointed (c30's move) so
  // its two consumers — the pair count and the distinct-doc count —
  // don't re-run the candidate join.
  def d14(s: SparkSession, d: String): DataFrame = d14Core(s, d)

  private[graft] def d14Core(s: SparkSession, d: String,
      cp: graft.Checkpointer = graft.LocalCheckpointer): DataFrame = {
    val banded = cp(d02Core(s, d)
      .withColumn("band",
        when(col("jaccard") < 0.8, "0.7-0.8")
          .when(col("jaccard") < 0.9, "0.8-0.9")
          .otherwise("0.9-1.0"))
      .select(col("band"), col("doc_a"), col("doc_b")))
    val pairs = banded.groupBy(col("band")).agg(count(lit(1)).as("n_pairs"))
    val docs = banded
      .select(col("band"), explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .distinct()
      .groupBy(col("band")).agg(count(lit(1)).as("n_docs"))
    pairs.join(docs, "band").transform(Gate.ordered("band"))
  }

  // -- d05: embedding cosine near-dup pairs ------------------------------
  // Bucketed self-join: `label` stands in for a coarse quantization cell
  // so the candidate generation is SQL-expressible and the cosine math
  // can be oracle-checked bit-for-bit; d05b below is the production
  // wiring of the same verify over REAL k-means cells. Cosines use the
  // fixed-order double dot in its loop-codegen'd form
  // (VectorFunctions.vecDot / FloatVecDot) — deterministic on any
  // partitioning, bit-equal to the oracle's unrolled expression
  // (identical left-to-right accumulation; VecDotSpec pins it).
  /** Unsorted pair core — composed by d09's component decision. */
  private[graft] def d05Core(s: SparkSession, d: String): DataFrame = {
    // self-dots computed once per VECTOR, before the join — at n² pairs
    // recomputing them per pair would be 2/3 of all decimal work; the
    // pairwise dot is the unrolled codegen'd form (embeddings are 64-dim)
    val e = embeddings(s, d).select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("nrm", vecDot("embedding", "embedding", 64))
    // single-file input = ONE partition, and the broadcast join keeps
    // the stream side's partitioning — without this repartition every
    // per-bucket pair expansion (and its 64-term cosines) runs in a
    // single task (measured 4.7 s at sf0.1; 0.9 s spread over the
    // cores). Same trap as s02's bucket index, pair-expansion edition.
    val eSpread = e
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
    // the join strategy is Spark's own size decision
    // (spark.sql.autoBroadcastJoinThreshold, then AQE): the few-MB test
    // corpus broadcasts and the stream side keeps its spread
    // partitioning; a corpus-sized side falls back to a shuffle join on
    // label and never reaches the driver. d05b below is the production
    // shape (co-located bucketed self-join, no broadcast decision at all).
    eSpread.toDF("vec_a", "label", "emb_a", "nrm_a")
      .join(e.toDF("vec_b", "label", "emb_b", "nrm_b"), "label")
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        cosineFromNormsLoop("emb_a", "emb_b", col("nrm_a"), col("nrm_b"), 64)
          .as("cos"))
      .filter(col("cos") >= COSINE_T)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cosine"))
  }

  def d05(s: SparkSession, d: String): DataFrame =
    d05Core(s, d).transform(Gate.ordered("vec_a", "vec_b"))

  // -- d09: SEMANTIC dedup decision over the embedding pairs -------------
  // SemDeDup-style: d05's cosine near-dup PAIRS turned into the keep/
  // drop decision the pipeline actually applies — connected components
  // with the min-id representative, exactly d06's rule over d02's text
  // pairs. One componentsOf implementation serves both (a~b, b~c ⇒ one
  // survivor of {a,b,c} whether the similarity was Jaccard or cosine);
  // the oracle is the same recursive-CTE chain over d05's
  // oracle-checked pair SQL, so the whole decision is hash-verified
  // end to end. Scale shape inherits d05's (bucketed candidate join,
  // loop-codegen'd cosines) plus d06's (per-iteration single shuffle,
  // checkpointed lineage).
  def d09(s: SparkSession, d: String): DataFrame =
    componentsOf(d05Core(s, d)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .toDF("vec_id", "keep_id")
      .transform(Gate.ordered("vec_id"))

  // -- d10: bloom-gated incremental exact dedup (the ingest gate) --------
  // The d01 decision for a DELTA batch arriving against a huge existing
  // corpus — the nightly-import shape (the reference re-imports CDA
  // batches daily; a training pipeline ingests crawl snapshots). A
  // plain delta-vs-corpus join re-shuffles the CORPUS every batch; the
  // 100 TB move is Spark's own runtime-filter idea made explicit: ONE
  // aggregate pass builds a constant-size bloom filter over the corpus
  // content hashes (BloomFilterAggregate — distributed, mergeable,
  // sized for 10^6 corpus keys), the delta probes it as a
  // codegen'd literal predicate, and only the SURVIVORS (true dups +
  // the fp tail) reach the exact hash join — which AQE then plans as a
  // broadcast of the tiny candidate set against the corpus scan. False
  // positives cost extra verification, never a wrong answer: the exact
  // join confirms every survivor, and DedupSpec proves the result
  // EQUALS the plain hash-join decision. In steady state the filter is
  // a persisted sidecar of the corpus (bit arrays OR-merge, so a
  // batch's filter folds into the corpus filter without a rebuild —
  // the incremental-index move of d03b/d08b in sketch form). The gate
  // scenario is a PARTIAL REPLAY — the failure-recovery shape every
  // import pipeline hits (the corpus texts are all-distinct, so
  // disjoint slices would make the decision vacuous): the delta
  // (doc_id%5==4) overlaps the corpus (doc_id%3!=2), so ~2/3 of the
  // batch must resolve to its already-landed copy and the rest must
  // come back NULL (genuinely new).
  private def d10Hashed(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))

  def d10(s: SparkSession, d: String): DataFrame = {
    val corpus = d10Hashed(s, d).filter(col("doc_id") % 3 =!= 2)
    val delta = d10Hashed(s, d).filter(col("doc_id") % 5 === 4)
    // single filter or hash-prefix shards per spark.graft.dedup.bloomShards
    val probe = graft.functions.Bloom.corpusGate(corpus, col("h"))
    val candidates = delta.filter(probe(col("h")))
    // exact verify: only candidate hashes touch the corpus join, and
    // the per-hash min corpus id is the canonical duplicate target
    val dupOf = corpus
      .join(candidates.select(col("h")).distinct(), Seq("h"), "left_semi")
      .groupBy(col("h")).agg(min(col("doc_id")).as("dup_of"))
    delta.join(dupOf, Seq("h"), "left_outer")
      .select(col("doc_id"), col("dup_of"))
      .transform(Gate.ordered("doc_id"))
  }

  // -- d05b: embedding near-dup over REAL coarse quantization ------------
  // d05's verify with the `label` stand-in replaced by the persisted IVF
  // dedup cells (Similarity.ensureIvfDedupCells: k-means centroids,
  // every vector multi-assigned to its nearest cells —
  // multi-assignment is the "same + adjacent cells" probe). Candidates
  // come from a cid equi-join on the cid-bucketed cells table; the raw
  // vectors are touched only by the exact fixed-order cosine verify.
  // Honest scale note for THIS corpus: the test embeddings are iid
  // random vectors, so pairs at the 0.4 threshold are the random tail —
  // no quantizer separates them from non-pairs (measured candidate
  // fraction ~0.9 at any useful recall). The operator's pruning power is
  // real in the production regime it exists for (actual near-dups at
  // cos >= 0.9 share cells with near-certainty while random pairs
  // don't); K grows with corpus size (Similarity.dedupCellsKFor) so
  // per-cell join buckets stay bounded at 100 TB.
  // DedupSpec pins recall >= 0.95 vs the brute-force truth AND vs d05's
  // oracle-checked pairs, plus a no-label-column plan assert.
  // Join SHAPE matters more than the pair count here: the vectors ride
  // the cid self-join (the cells table persists embedding + self-dot
  // alongside the assignment) and the cosine + threshold run INSIDE
  // the join's projection, so the ~n²/K candidate pairs are never
  // materialized or re-joined — only the tiny ≥τ survivor set reaches
  // the distinct (which collapses pairs meeting in several shared
  // cells). A first cut that built the distinct pair list and
  // re-joined the embeddings twice shuffled 1.6 M array payloads
  // instead. The join is the LAYOUT's join: both sides scan the one
  // cid-bucketed table, the "merge" hint pins the bucket-local
  // sort-merge strategy the layout was built for (a size-based planner
  // would see a small table and broadcast the corpus side — the exact
  // plan that OOMs the driver at 100 TB), so the pair expansion runs
  // exchange-free and broadcast-free with parallelism = bucket count
  // (spark.graft.dedup.cells.buckets, default 32 = local cores; size
  // to the cluster). DedupSpec asserts the plan: one SortMergeJoin, no
  // BroadcastExchange, no Exchange over cid.
  def d05b(s: SparkSession, d: String): DataFrame = {
    val cellsT = Similarity.ensureIvfDedupCells(s, d)
    s.table(cellsT).toDF("vec_a", "cid", "emb_a", "nrm_a")
      .join(s.table(cellsT).toDF("vec_b", "cid", "emb_b", "nrm_b")
        .hint("merge"), "cid")
      .filter(col("vec_a") < col("vec_b"))
      // cosineFromNormsLoop, not ...Fixed: Catalyst inlines this
      // expression into up to three operators (null filter, threshold
      // filter, projection) — with the unrolled form that's ~9 s of
      // expression walking over 3M pairs; the loop form is bit-equal
      // and ~free (measured: 9.3 s -> 0.6 s for the whole query)
      .select(col("vec_a"), col("vec_b"),
        cosineFromNormsLoop("emb_a", "emb_b", col("nrm_a"), col("nrm_b"), 64)
          .as("cos"))
      .filter(col("cos") >= COSINE_T)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cosine"))
      .distinct()
      .transform(Gate.ordered("vec_a", "vec_b"))
  }

  // -- d07: substring-containment dedup ----------------------------------
  // Truncation/snippet duplicates — a shorter document appearing VERBATIM
  // inside a longer one (article + its teaser, a page + its AMP copy) —
  // are near-dups Jaccard under-scores: a 10% snippet of a long doc has
  // jaccard ~0.1 and sails past d02/d03. Candidates come from the same
  // df-capped inverted index as d02 (>= MIN_SHARED sub-cap shared
  // shingles — DedupSpec asserts every true containment pair clears the
  // gate on this corpus: the inner doc is >= 128 chars, so its shingles
  // alone exceed the bound); the verify is an exact char-level
  // `contains` on the candidate pair's texts — bounded candidate count
  // makes the string scan linear in corpus size at 100 TB, never
  // all-pairs. Equal-length containment is exact duplication — d01's
  // job — so the pair contract is strictly shorter-inside-longer.
  // KNOWN FALSE-NEGATIVE CLASS (a corpus property, not a guarantee): a
  // true containment whose shared shingles are mostly ABOVE DF_CAP — a
  // boilerplate-heavy snippet — has < MIN_SHARED sub-cap shared
  // shingles and is silently missed. DedupSpec asserts this never
  // happens on THIS corpus; a boilerplate-dominated corpus needs a
  // lower DF_CAP or a d08-style fingerprint gate.
  def d07(s: SparkSession, d: String): DataFrame = {
    val texts = documents(s, d).select(col("doc_id"), col("text"))
    cappedCandidates(s, d)
      .join(texts.toDF("doc_a", "text_a"), "doc_a")
      .join(texts.toDF("doc_b", "text_b"), "doc_b")
      .filter(length(col("text_a")) =!= length(col("text_b")))
      .select(
        when(length(col("text_a")) < length(col("text_b")), col("doc_a"))
          .otherwise(col("doc_b")).as("doc_inner"),
        when(length(col("text_a")) < length(col("text_b")), col("doc_b"))
          .otherwise(col("doc_a")).as("doc_outer"),
        when(length(col("text_a")) < length(col("text_b")), col("text_a"))
          .otherwise(col("text_b")).as("t_inner"),
        when(length(col("text_a")) < length(col("text_b")), col("text_b"))
          .otherwise(col("text_a")).as("t_outer"))
      .filter(col("t_outer").contains(col("t_inner")))
      .select(col("doc_inner"), col("doc_outer"),
        length(col("t_inner")).as("len_inner"),
        length(col("t_outer")).as("len_outer"))
      .transform(Gate.ordered("doc_inner", "doc_outer"))
  }

  // -- d08: shared-passage (partial-overlap) dedup -----------------------
  // The case d01..d07 all miss: two OTHERWISE-DISTINCT documents sharing
  // a long verbatim passage (crawl boilerplate, quoted paragraphs, wire
  // copy) — Jaccard under-scores it (d02), it is not containment (d07).
  // Shape: an ANCHOR index instead of all-pairs LCS —
  //
  //   1. anchor windows: the W-char substring starting at every TOKEN
  //      START (content-positioned, so the same passage yields the same
  //      anchor strings in both docs regardless of where it sits);
  //   2. df-cap the anchor index exactly like d02's shingle gate (a
  //      boilerplate anchor in k docs would create a k² bucket);
  //   3. candidates = occurrence pairs joined on xxhash64(anchor) with
  //      the anchor STRING equality retained as the verify filter — the
  //      join key the shuffle sorts and partitions on is a fixed-width
  //      8-byte long instead of a 64-byte string (and the persisted
  //      index buckets by it), while the string riding the row keeps
  //      the candidate set EXACTLY the string-join's set, so the SQL
  //      oracle still matches bit-for-bit with no collision caveat;
  //   4. merge anchors into PROVEN shared spans: occurrences with the
  //      same position delta whose starts are <= W apart overlap, and
  //      overlapping verified windows prove the whole union is shared —
  //      a gaps-and-islands pass per (pair, delta), no extra string
  //      compare needed.
  //
  // Output: the longest proven shared span per pair (>= W by
  // construction). Detection guarantee: any shared passage of length
  // >= W + maxTokenLen + 1 contains a full in-passage token-start
  // window and is found; shorter ones (or sub-W passages) are out of
  // contract. Every stage is SQL-expressible, so unlike the
  // hash-seeded d03/d04 this candidate generator is ORACLE-CHECKED
  // end to end. All shuffles are keyed and df-cap-bounded — linear in
  // corpus size, never all-pairs.
  private[graft] val D08_W = 64
  private[graft] val D08_DF_CAP = 50

  /** UNCAPPED anchor rows (doc_id, pos, a, h = xxhash64(a)) — what the
    * incremental index stores (the cap is recomputed from the index at
    * query time so it stays exact as generations append). `h` is the
    * join/bucket key; `a` is the in-bucket verify.
    */
  private def anchorRowsUncapped(s: SparkSession, docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), col("text"),
        posexplode(split(col("text"), " ")).as(Seq("i", "tok")))
    val wDoc = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("pos",
        (coalesce(sum(length(col("tok")) + 1).over(wDoc), lit(0)) + 1)
          .cast("long"))
      .filter(col("pos") + (D08_W - 1) <= length(col("text")))
      .select(col("doc_id"), col("pos"),
        expr(s"substr(text, pos, $D08_W)").as("a"))
      .withColumn("h", xxhash64(col("a")))
  }

  /** The df-capped anchor index rows for an arbitrary documents frame —
    * d08's candidate structure, and what d08b persists.
    */
  private def anchorRowsOf(s: SparkSession, docs: DataFrame): DataFrame = {
    val anchors = anchorRowsUncapped(s, docs)
    val common = anchors.groupBy(col("a"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > graft.GraftConf.passageDfCap(s)).select("a")
    anchors.join(broadcast(common), Seq("a"), "left_anti")
  }

  /** Shared tail: anchor index rows → longest proven span per pair.
    * Renames by NAME, not position — the live pipeline and the
    * persisted table may order columns differently.
    */
  private def passageSpansOf(ci: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // keyed on the 8-byte hash (what the index buckets by); the anchor
    // string equality is the exact in-bucket verify — a 64-bit
    // collision produces a candidate row the filter discards, never a
    // wrong span
    val occ = ci
      .select(col("h"), col("a").as("a_x"), col("doc_id").as("doc_a"),
        col("pos").as("pos_a"))
      .join(ci.select(col("h"), col("a").as("a_y"),
        col("doc_id").as("doc_b"), col("pos").as("pos_b")), "h")
      .filter(col("doc_a") < col("doc_b") && col("a_x") === col("a_y"))
      .select(col("doc_a"), col("doc_b"), col("pos_a"),
        (col("pos_a") - col("pos_b")).as("delta"))
    val wPair = Window.partitionBy("doc_a", "doc_b", "delta").orderBy("pos_a")
    val spans = occ
      .withColumn("prev", lag(col("pos_a"), 1).over(wPair))
      .withColumn("brk",
        when(col("prev").isNull || col("pos_a") - col("prev") > D08_W, 1)
          .otherwise(0))
      .withColumn("isl", sum(col("brk"))
        .over(wPair.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_a"), col("doc_b"), col("delta"), col("isl"))
      .agg((max(col("pos_a")) + D08_W - min(col("pos_a"))).as("span"))
    spans.groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("span")).as("max_span"))
      .transform(Gate.ordered("doc_a", "doc_b"))
  }

  /** d08 over an arbitrary documents frame — spec entry for planted
    * passages.
    */
  private[graft] def d08Of(s: SparkSession, docs: DataFrame): DataFrame =
    // the capped anchor rows are materialized once (r15, d02Core's
    // move): both sides of the occurrence self-join and the df-cap
    // derivation otherwise each replay the substr-window explode over
    // the corpus
    passageSpansOf(graft.LocalCheckpointer(anchorRowsOf(s, docs)))

  def d08(s: SparkSession, d: String): DataFrame =
    d08Of(s, documents(s, d))

  // -- d08b: shared-passage dedup over a PERSISTED anchor index ----------
  // The same amortization move as d03b/s02b/s04b: the tokenize +
  // offset-window + df-cap corpus passes are paid ONCE and the capped
  // anchor rows stored as a table bucketed by the anchor string — the
  // candidate self-join is then co-located (src03 technique) and the
  // query plan contains no Generate and never touches documents.text.
  // The df-cap is baked at build time (like d03b's band buckets): a
  // corpus whose boilerplate profile changes rebuilds the index.
  // Results are proven equal to d08 and share d08's oracle.
  def ensureAnchorIndex(s: SparkSession, d: String): String = {
    val nb = graft.GraftConf.indexBuckets(s)
    // the df-cap is BAKED into this index's content at build (unlike
    // the incremental index, which caps at query time), so it is a
    // layout-affecting parameter and must live in the name — otherwise
    // a session with a different passageDfCap would be served rows
    // capped under the old one and d08b would diverge from d08
    val cap = graft.GraftConf.passageDfCap(s)
    val tag = s"${sanitize(d)}_b${nb}c$cap"
    val name = s"graft_anchor_idx_$tag"
    if (!s.catalog.tableExists(name)) {
      anchorRowsOf(s, documents(s, d)).write.mode("overwrite")
        .bucketBy(nb, "h").sortBy("h")
        .option("path", s"$scratch/anchor_idx/$tag")
        .saveAsTable(name)
    }
    name
  }

  def d08b(s: SparkSession, d: String): DataFrame =
    passageSpansOf(s.table(ensureAnchorIndex(s, d)))

  // -- incremental anchor index (CDC-style, the appendLshIndex move) -----
  // d08b's capped index is rebuild-only BY DESIGN: appending to a
  // capped layout silently drifts the df-cap (an anchor crossing the
  // cap after an import would stay in the old generations). The
  // incremental family stores UNCAPPED anchor rows instead and
  // recomputes the cap set FROM THE INDEX at query time — one pass
  // over index rows (grouped by the bucketed key, so map-side
  // collapsed), never a re-tokenization of the corpus; df counts are
  // additive across generations, so the cap stays exactly the
  // full-rebuild cap as the corpus grows. Pair discovery for a delta
  // probes only the anchor buckets the delta occupies — work linear
  // in the day's import (cf. lshPairsTouching).

  /** Build (overwrite) the UNCAPPED incremental anchor index. */
  def buildAnchorIndexInc(s: SparkSession, docs: DataFrame, tag: String)
      : String = {
    val name = s"graft_anchor_inc_$tag"
    anchorRowsUncapped(s, docs).write.mode("overwrite")
      .bucketBy(graft.GraftConf.indexBuckets(s), "h").sortBy("h")
      .option("path", s"$scratch/anchor_inc/$tag")
      .saveAsTable(name)
    name
  }

  /** Append a delta's anchors — the old generations are never re-read,
    * let alone re-tokenized.
    */
  def appendAnchorIndex(s: SparkSession, newDocs: DataFrame, tag: String): Unit = {
    require(s.catalog.tableExists(s"graft_anchor_inc_$tag"),
      s"no incremental anchor index '$tag' — run buildAnchorIndexInc first")
    anchorRowsUncapped(s, newDocs).write.mode("append")
      .bucketBy(graft.GraftConf.indexBuckets(s), "h").sortBy("h")
      .saveAsTable(s"graft_anchor_inc_$tag")
  }

  /** Shared-passage pairs INVOLVING a given id set (e.g. today's
    * import): the delta's anchors probe the full index, the cap is
    * recomputed from the index (exact under growth), and the span
    * semantics are d08's.
    */
  def passagesTouching(s: SparkSession, tag: String, ids: DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val idx = s.table(s"graft_anchor_inc_$tag")
    // grouping by (h, a) rides the h-bucketed layout exchange-free
    // (HashPartitioning(h) satisfies the clustering of any key set
    // containing h); identical groups to a groupBy(a) since h is a
    // function of a
    val common = idx.groupBy(col("h"), col("a"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > graft.GraftConf.passageDfCap(s)).select("a")
    val ci = idx.join(broadcast(common), Seq("a"), "left_anti")
    val na = ci.join(ids.select("doc_id"), Seq("doc_id"), "left_semi")
    val occ = na
      .select(col("h"), col("a").as("a_x"), col("doc_id").as("dx"),
        col("pos").as("px"))
      .join(ci.select(col("h"), col("a").as("a_y"),
        col("doc_id").as("dy"), col("pos").as("py")), "h")
      .filter(col("dx") =!= col("dy") && col("a_x") === col("a_y"))
      // normalize to (doc_a < doc_b) with pos_a/delta defined on doc_a,
      // exactly as the symmetric join produces; both orientations can
      // appear when both docs are in the delta — distinct collapses them
      .select(
        least(col("dx"), col("dy")).as("doc_a"),
        greatest(col("dx"), col("dy")).as("doc_b"),
        when(col("dx") < col("dy"), col("px")).otherwise(col("py")).as("pos_a"),
        (when(col("dx") < col("dy"), col("px")).otherwise(col("py")) -
          when(col("dx") < col("dy"), col("py")).otherwise(col("px")))
          .as("delta"))
      .distinct()
    val wPair = Window.partitionBy("doc_a", "doc_b", "delta").orderBy("pos_a")
    occ
      .withColumn("prev", lag(col("pos_a"), 1).over(wPair))
      .withColumn("brk",
        when(col("prev").isNull || col("pos_a") - col("prev") > D08_W, 1)
          .otherwise(0))
      .withColumn("isl", sum(col("brk"))
        .over(wPair.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_a"), col("doc_b"), col("delta"), col("isl"))
      .agg((max(col("pos_a")) + D08_W - min(col("pos_a"))).as("span"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("span")).as("max_span"))
      .transform(Gate.ordered("doc_a", "doc_b"))
  }

  // -- d15: blocked record linkage (entity resolution) -------------------
  // The patient-matching capability every clinical DWH needs at intake:
  // link a DIRTY registry feed (typos) back to the master table without
  // an all-pairs fuzzy join. The feed is derived deterministically from
  // `customer` in-query (the src22/scd2Feed precedent): ~1/3 of rows get
  // one substituted digit, ~1/11 are corrupted beyond repair (digit
  // string reversed), the rest arrive verbatim.
  //
  // Blocking is a MASK NEIGHBORHOOD (the SymSpell/d04-pigeonhole move):
  // every name is exploded into 9 variants, each with one digit position
  // masked; two equal-length names within substitution-distance 1 are
  // IDENTICAL under the mask at their differing position, so the
  // (maskpos, masked) equi-join finds every true candidate with zero
  // false negatives — provably lossless for this error model, and since
  // all names here are length-18, every levenshtein<=1 pair IS a
  // substitution pair. Exact Levenshtein (integer, engine-exact) runs
  // only inside the tiny collision buckets; best match per feed row is
  // a partial-aggregatable min(struct(dist, key)) — no window, no sort.
  //
  // Scale shape: two scans + 9x explode on each side (repartitioned up
  // front: AQE can't see explode amplification), ONE equi-join shuffle
  // on (maskpos, masked) whose buckets hold only near-equal names, one
  // pair-distinct, one agg. At 100 TB this is linear in rows — the
  // naive fuzzy join it replaces is quadratic per blocking key.

  /** The dirty-feed derivation — ONE definition spliced verbatim into
    * both the Spark plan (expr) and the DuckDB oracle. No line BEGINS
    * with `||`: this string is re-spliced into a stripMargin oracle
    * template, which would eat the first pipe of a line-leading concat.
    */
  private[graft] val D15_FEED_SQL: String =
    """CASE WHEN c_custkey % 11 = 7
      |   THEN 'Customer#' || reverse(substring(c_name, 10))
      |  WHEN c_custkey % 3 = 1
      |   THEN substring(c_name, 1, 9 + CAST(c_custkey % 9 AS INT)) ||
      |    CAST((CAST(substring(c_name, 10 + CAST(c_custkey % 9 AS INT),
      |         1) AS INT) + 1 + CAST(c_custkey % 8 AS INT)) % 10 AS STRING) ||
      |    substring(c_name, 11 + CAST(c_custkey % 9 AS INT))
      |  ELSE c_name END""".stripMargin

  /** 9 masked variants of a length-18 name (digit position i blanked). */
  private def d15Masks(name: String): String =
    s"transform(sequence(0, 8), i -> concat(substring($name, 1, 9 + i)," +
      s" '_', substring($name, 11 + i)))"

  private def d15Exploded(df: DataFrame, idCol: String, nameCol: String)
      : DataFrame =
    df.select(col(idCol), col(nameCol),
      posexplode(expr(d15Masks(nameCol))).as(Seq("i", "mk")))

  def d15(s: SparkSession, d: String): DataFrame = {
    val par = s.sparkContext.defaultParallelism
    val feed = customer(s, d).repartition(par, col("c_custkey"))
      .select(col("c_custkey").as("f_id"), expr(D15_FEED_SQL).as("f_name"))
    val reg = customer(s, d).repartition(par, col("c_custkey"))
      .select(col("c_custkey"), col("c_name"))
    val cand = d15Exploded(feed, "f_id", "f_name")
      .join(d15Exploded(reg, "c_custkey", "c_name"), Seq("i", "mk"))
      .select("f_id", "f_name", "c_custkey", "c_name").distinct()
    val best = cand
      .select(col("f_id"),
        levenshtein(col("f_name"), col("c_name")).cast("int").as("dist"),
        col("c_custkey"))
      .filter(col("dist") <= 1)
      .groupBy(col("f_id"))
      .agg(min(struct(col("dist"), col("c_custkey"))).as("m"))
      .select(col("f_id"), col("m.c_custkey").as("match_key"),
        col("m.dist").as("dist"))
    feed.select(col("f_id")).join(best, Seq("f_id"), "left")
      .select(col("f_id"), col("match_key"), col("dist"),
        when(col("dist") === 0, "exact").when(col("dist") === 1, "fuzzy")
          .otherwise("none").as("match_type"))
      .transform(Gate.ordered("f_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d01_dedup_exact" -> (d01 _),
    "d02_dedup_ngram_jaccard" -> (d02 _),
    "d03_dedup_minhash_lsh" -> (d03 _),
    "d03b_dedup_lsh_prebuilt" -> (d03b _),
    "d04_dedup_simhash" -> (d04 _),
    "d04b_dedup_simhash_wide" -> (d04b _),
    "d05_dedup_embedding" -> (d05 _),
    "d05b_dedup_embedding_ivf" -> (d05b _),
    "d06_dedup_clusters" -> (d06 _),
    "d07_dedup_containment" -> (d07 _),
    "d08_dedup_shared_passage" -> (d08 _),
    "d08b_dedup_passage_prebuilt" -> (d08b _),
    "d09_dedup_semantic" -> (d09 _),
    "d10_dedup_incremental_bloom" -> (d10 _),
    "d11_dedup_savings" -> (d11 _),
    "d12_dedup_canonical_quality" -> (d12 _),
    "d13_cross_source_dup" -> (d13 _),
    "d14_threshold_curve" -> (d14 _),
    "d15_record_linkage" -> (d15 _)
  )

  /** Shared oracle fragment: distinct doc 3-gram shingles as rows. */
  private[graft] val SQL_SHINGLES =
    """sh AS (
      | SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      | FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |  LATERAL (SELECT unnest(range(1, greatest(len(w) - 1, 1))) AS i) r)""".stripMargin

  /** d02's full oracle — consumed externally only via D06_CTES. */
  private val D02_SQL =
    s"""WITH $SQL_SHINGLES,
       |ci AS (SELECT * FROM sh WHERE shingle NOT IN (
       | SELECT shingle FROM sh GROUP BY 1 HAVING COUNT(*) > $DF_CAP)),
       |cand AS (
       | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       | FROM ci a JOIN ci b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       | GROUP BY 1, 2 HAVING COUNT(*) >= $MIN_SHARED),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |pairs AS (
       | SELECT cand.doc_a, cand.doc_b, COUNT(*) AS shared
       | FROM cand JOIN sh a ON a.doc_id = cand.doc_a
       |  JOIN sh b ON b.doc_id = cand.doc_b AND b.shingle = a.shingle
       | GROUP BY 1, 2)
       |SELECT doc_a, doc_b, ROUND(jac, 6) AS jaccard FROM (
       | SELECT doc_a, doc_b,
       |  CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) AS jac
       | FROM pairs JOIN cnt ca ON ca.doc_id = doc_a
       |  JOIN cnt cb ON cb.doc_id = doc_b)
       |WHERE jac >= 0.7 ORDER BY doc_a, doc_b""".stripMargin

  /** d06's connected-components CTE chain (requires WITH RECURSIVE);
    * yields `d06(doc_id, keep_id)` for every doc in a near-dup cluster.
    * Shared with Pipeline.p01's oracle.
    */
  private[graft] val D06_CTES =
    s"""d02_pairs AS ($D02_SQL),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM d02_pairs
       | UNION SELECT doc_b, doc_a FROM d02_pairs),
       |reach(id, r) AS (
       | SELECT a, a FROM edges
       | UNION
       | SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
       |d06 AS (SELECT id AS doc_id, MIN(r) AS keep_id FROM reach
       | GROUP BY 1)""".stripMargin

  /** d05's pair list as CTEs (e = vectors with self-dots, d05p = the
    * threshold-passing pairs) — shared by d05's oracle and d09's
    * recursive-components chain.
    */
  private val D05_CTES =
    s"""e AS (
       | SELECT vec_id, label, embedding AS v,
       |  ${sqlDotFixed("embedding", "embedding", 64)} AS nrm
       | FROM embeddings),
       |d05p AS (
       | SELECT vec_a, vec_b, ROUND(cos, 6) AS cosine FROM (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |   (${sqlDotFixed("a.v", "b.v", 64)}) / sqrt(a.nrm * b.nrm) AS cos
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
       | WHERE cos >= $COSINE_T)""".stripMargin

  /** d01's keep decision as a reusable subquery
    * (content_hash, keep_id, n_copies) — shared with Pipeline.p01 so
    * the exact-dedup rule has one definition on the oracle side too.
    */
  private[graft] val D01_GROUPS_SQL =
    """(SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
      |  COUNT(*) AS n_copies
      | FROM documents GROUP BY 1)""".stripMargin

  /** d08's oracle — the IDENTICAL anchor/df-cap/delta-island pipeline
    * in SQL: token start offsets by cumulative token lengths, W-char
    * anchors joined on the string, islands per (pair, delta) with a
    * lag/sum pass. Shared by d08 and its prebuilt twin d08b.
    * The per-token CTEs carry only (doc_id, i, toklen) — an earlier
    * form dragged the full text and token array through the 75M-row
    * offset window at sf10 (~75 GB spill, found r11); text is joined
    * back once, at anchor extraction.
    */
  private val D08_SQL =
    s"""WITH tk AS (
       | SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |toks AS (
       | SELECT doc_id, CAST(i AS BIGINT) AS i, len(w[i]) AS toklen
       | FROM tk, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) r),
       |apos AS (
       | SELECT doc_id,
       |  1 + CAST(COALESCE(SUM(toklen + 1) OVER (
       |   PARTITION BY doc_id ORDER BY i
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |   AS pos
       | FROM toks),
       |anchors AS (
       | SELECT p.doc_id, p.pos, substr(d.text, CAST(p.pos AS INT), $D08_W)
       |  AS a
       | FROM apos p JOIN documents d ON p.doc_id = d.doc_id
       | WHERE p.pos + ${D08_W - 1} <= len(d.text)),
       |ci AS (SELECT * FROM anchors WHERE a NOT IN (
       | SELECT a FROM anchors GROUP BY a
       | HAVING COUNT(DISTINCT doc_id) > $D08_DF_CAP)),
       |occ AS (
       | SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  x.pos AS pos_a, x.pos - y.pos AS delta
       | FROM ci x JOIN ci y ON x.a = y.a AND x.doc_id < y.doc_id),
       |lagged AS (
       | SELECT doc_a, doc_b, delta, pos_a, LAG(pos_a) OVER (
       |  PARTITION BY doc_a, doc_b, delta ORDER BY pos_a) AS prev
       | FROM occ),
       |isl AS (
       | SELECT doc_a, doc_b, delta, pos_a, SUM(
       |  CASE WHEN prev IS NULL OR pos_a - prev > $D08_W THEN 1 ELSE 0 END)
       |  OVER (PARTITION BY doc_a, doc_b, delta ORDER BY pos_a) AS g
       | FROM lagged),
       |spans AS (
       | SELECT doc_a, doc_b,
       |  CAST(MAX(pos_a) + $D08_W - MIN(pos_a) AS BIGINT) AS span
       | FROM isl GROUP BY doc_a, doc_b, delta, g)
       |SELECT doc_a, doc_b, MAX(span) AS max_span
       |FROM spans GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val oracle: Map[String, String] = Map(
    // the identical feed derivation (D15_FEED_SQL verbatim), the same
    // 9-mask neighborhood blocking (LATERAL i = Spark's posexplode), the
    // same integer-Levenshtein verify, argmin via ROW_NUMBER on the
    // identical (dist, key) order
    "d15_record_linkage" ->
      s"""WITH feed AS (SELECT c_custkey AS f_id,
         |  $D15_FEED_SQL AS f_name FROM customer),
         |fm AS (SELECT f_id, f_name, i,
         |  substring(f_name, 1, 9 + i) || '_' || substring(f_name, 11 + i)
         |   AS mk
         | FROM feed, LATERAL (SELECT unnest(range(0, 9)) AS i) r),
         |cm AS (SELECT c_custkey, c_name, i,
         |  substring(c_name, 1, 9 + i) || '_' || substring(c_name, 11 + i)
         |   AS mk
         | FROM customer, LATERAL (SELECT unnest(range(0, 9)) AS i) r),
         |cand AS (SELECT DISTINCT f.f_id, f.f_name, c.c_custkey, c.c_name
         | FROM fm f JOIN cm c ON f.i = c.i AND f.mk = c.mk),
         |best AS (SELECT f_id, c_custkey AS match_key,
         |  CAST(levenshtein(f_name, c_name) AS INT) AS dist,
         |  ROW_NUMBER() OVER (PARTITION BY f_id
         |   ORDER BY levenshtein(f_name, c_name), c_custkey) AS rk
         | FROM cand WHERE levenshtein(f_name, c_name) <= 1)
         |SELECT f.f_id, b.match_key, b.dist,
         | CASE WHEN b.dist = 0 THEN 'exact' WHEN b.dist = 1 THEN 'fuzzy'
         |  ELSE 'none' END AS match_type
         |FROM feed f LEFT JOIN (SELECT * FROM best WHERE rk = 1) b
         | USING (f_id)
         |ORDER BY f_id""".stripMargin,
    "d01_dedup_exact" ->
      s"""SELECT content_hash, keep_id, n_copies
         |FROM $D01_GROUPS_SQL g ORDER BY keep_id""".stripMargin,
    // the bloom gate is invisible to the answer (fp survivors are
    // exact-verified away), so the oracle is the plain hash left-join:
    // each delta doc's duplicate target in the corpus slice, or NULL
    "d10_dedup_incremental_bloom" ->
      """WITH h AS (SELECT doc_id, md5(text) AS h FROM documents)
        |SELECT d.doc_id,
        | (SELECT MIN(c.doc_id) FROM h c
        |  WHERE c.doc_id % 3 <> 2 AND c.h = d.h) AS dup_of
        |FROM h d WHERE d.doc_id % 5 = 4 ORDER BY d.doc_id""".stripMargin,
    // d06's recursive components joined to t02's quality expression;
    // the argmax is a ROW_NUMBER with the identical rounded-quality
    // tie-break the Spark max(struct) encodes
    "d12_dedup_canonical_quality" ->
      s"""WITH RECURSIVE $D06_CTES,
         |q AS (SELECT doc_id, quality
         | FROM ${graft.operators.TextAnalysis.T02_SCORED_SQL}),
         |r AS (
         | SELECT keep_id AS cluster_id, d06.doc_id, quality,
         |  ROW_NUMBER() OVER (PARTITION BY keep_id
         |   ORDER BY quality DESC, d06.doc_id) AS rk,
         |  COUNT(*) OVER (PARTITION BY keep_id) AS cluster_size
         | FROM d06 JOIN q USING (doc_id))
         |SELECT cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
         | doc_id AS keep_doc, quality AS best_quality
         |FROM r WHERE rk = 1 ORDER BY cluster_id""".stripMargin,
    // the same recursive-CTE components as d06's oracle, rolled up to
    // per-cluster sizes and the keep-one deletion's byte savings
    "d11_dedup_savings" ->
      s"""WITH RECURSIVE $D06_CTES,
         |sz AS (
         | SELECT keep_id, COUNT(*) AS cluster_size,
         |  CAST(SUM(CASE WHEN d06.doc_id <> keep_id THEN n_chars
         |    ELSE 0 END) AS BIGINT) AS saved
         | FROM d06 JOIN documents USING (doc_id) GROUP BY 1)
         |SELECT cluster_size, COUNT(*) AS n_clusters,
         | CAST(SUM(cluster_size - 1) AS BIGINT) AS n_removed,
         | CAST(SUM(saved) AS BIGINT) AS bytes_saved
         |FROM sz GROUP BY 1 ORDER BY 1""".stripMargin,
    // candidate generation df-capped exactly like the Spark side;
    // verification uses the full index, so jaccard values are exact
    "d02_dedup_ngram_jaccard" -> D02_SQL,
    // the same banding over d02's pair SQL; rounded-jaccard boundary
    // compares identically on both engines. Single pass over the
    // unnested pair endpoints (each pair contributes exactly 2 rows, so
    // count/2 = n_pairs) — a two-branch join here makes DuckDB inline
    // and recompute the whole shingle pipeline twice (spill-bombed the
    // sf10 gate).
    "d14_threshold_curve" ->
      s"""WITH p AS ($D02_SQL),
         |b AS (SELECT CASE WHEN jaccard < 0.8 THEN '0.7-0.8'
         |   WHEN jaccard < 0.9 THEN '0.8-0.9'
         |   ELSE '0.9-1.0' END AS band, doc_a, doc_b FROM p),
         |u AS (SELECT band, unnest([doc_a, doc_b]) AS doc FROM b)
         |SELECT band, CAST(COUNT(*) / 2 AS BIGINT) AS n_pairs,
         | COUNT(DISTINCT doc) AS n_docs
         |FROM u GROUP BY band ORDER BY band""".stripMargin,
    // d02's pair SQL verbatim (nested WITH), sources tagged by two
    // doc→source joins, upper-triangle via least/greatest
    "d13_cross_source_dup" ->
      s"""WITH p AS ($D02_SQL)
         |SELECT source_a, source_b, COUNT(*) AS n_pairs,
         | CASE WHEN source_a = source_b THEN 1 ELSE 0 END AS same_source
         |FROM (
         | SELECT least(da.source, db.source) AS source_a,
         |  greatest(da.source, db.source) AS source_b
         | FROM p JOIN documents da ON da.doc_id = p.doc_a
         |  JOIN documents db ON db.doc_id = p.doc_b)
         |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,
    // d02's candidate gate verbatim, then the exact char-level
    // containment check on the pair's texts (shorter inside longer)
    "d07_dedup_containment" ->
      s"""WITH $SQL_SHINGLES,
         |ci AS (SELECT * FROM sh WHERE shingle NOT IN (
         | SELECT shingle FROM sh GROUP BY 1 HAVING COUNT(*) > $DF_CAP)),
         |cand AS (
         | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM ci a JOIN ci b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         | GROUP BY 1, 2 HAVING COUNT(*) >= $MIN_SHARED)
         |SELECT doc_inner, doc_outer,
         | len(t_inner) AS len_inner, len(t_outer) AS len_outer
         |FROM (
         | SELECT
         |  CASE WHEN len(ta.text) < len(tb.text) THEN doc_a ELSE doc_b END
         |   AS doc_inner,
         |  CASE WHEN len(ta.text) < len(tb.text) THEN doc_b ELSE doc_a END
         |   AS doc_outer,
         |  CASE WHEN len(ta.text) < len(tb.text) THEN ta.text ELSE tb.text END
         |   AS t_inner,
         |  CASE WHEN len(ta.text) < len(tb.text) THEN tb.text ELSE ta.text END
         |   AS t_outer
         | FROM cand
         |  JOIN documents ta ON ta.doc_id = doc_a
         |  JOIN documents tb ON tb.doc_id = doc_b
         | WHERE len(ta.text) <> len(tb.text))
         |WHERE position(t_inner IN t_outer) > 0
         |ORDER BY doc_inner, doc_outer""".stripMargin,
    // the IDENTICAL anchor/df-cap/delta-island pipeline in SQL: token
    // start offsets by cumulative token lengths, W-char anchors joined
    // on the string, islands per (pair, delta) with a lag/sum pass
    "d08_dedup_shared_passage" -> D08_SQL,
    // identical results from the persisted bucketed anchor index — the
    // prebuilt path must hash-match the same oracle
    "d08b_dedup_passage_prebuilt" -> D08_SQL,
    // connected components over d02's pairs via a recursive CTE:
    // min reachable id == component representative
    "d06_dedup_clusters" ->
      s"""WITH RECURSIVE $D06_CTES
         |SELECT doc_id, keep_id FROM d06 ORDER BY 1""".stripMargin,
    // d03/d04 are rows-only (hash-seeded candidate generation is not
    // SQL-expressible in DuckDB); their exact-verification semantics are
    // pinned by ScalaTests against d02's oracle-checked pairs instead.
    // the oracle computes the IDENTICAL unrolled fixed-order double dot
    // (sqlDotFixed), so cosines are bit-equal, not merely close
    "d05_dedup_embedding" ->
      s"""WITH $D05_CTES
         |SELECT vec_a, vec_b, cosine FROM d05p
         |ORDER BY vec_a, vec_b""".stripMargin,
    // d06's recursive-components chain over d05's pair CTE — the
    // embedding dedup DECISION is hash-verified end to end
    "d09_dedup_semantic" ->
      s"""WITH RECURSIVE $D05_CTES,
         |edges AS (SELECT vec_a AS a, vec_b AS b FROM d05p
         | UNION SELECT vec_b, vec_a FROM d05p),
         |reach(id, r) AS (
         | SELECT a, a FROM edges
         | UNION
         | SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id)
         |SELECT id AS vec_id, MIN(r) AS keep_id FROM reach
         |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
