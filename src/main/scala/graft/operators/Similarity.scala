package graft.operators

import graft.Tables._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.C s01–s03b — similarity search over the `embeddings` table,
  * plus ad-hoc query-vector serving against the persisted indexes.
  *
  * s01 is the exact brute-force baseline (one scan, TakeOrderedAndProject
  * top-k — no full sort, no shuffle of the fact). s02 is the scale path:
  * sign-LSH bucket pruning so the scan only scores vectors sharing a
  * bucket with the query in at least one hash table.
  */
object Similarity {

  private val K = 10
  private val QUERY_VEC = 0L
  // 16 tables × 4 bits: on *random* 64-dim data (worst case for LSH —
  // nothing is actually close) this still yields recall@10 ≈ 0.9 while
  // scoring only candidate buckets; with real near-dup structure the
  // collision probability of true neighbours rises sharply.
  private[graft] val TABLES = 16
  private[graft] val NBITS = 4
  private[graft] val DIM = 64
  private[graft] val SEED = 42L

  /** Query vector (with precomputed self-dot) as a 1-row broadcast frame
    * — no driver-side collect.
    */
  private def queryVec(s: SparkSession, d: String): DataFrame =
    broadcast(embeddings(s, d).filter(col("vec_id") === QUERY_VEC)
      .select(col("embedding").as("qv"),
        vecDot("embedding", "embedding", DIM).as("qnrm")))

  /** Exact cosine re-rank of a candidate id set against a 1-row (qv,
    * qnrm) query frame: one semi-join into the fact, unrolled
    * fixed-order dots, top-k via TakeOrderedAndProject (no full sort).
    * Shared tail of every ANN variant.
    */
  private def rerankAgainst(s: SparkSession, d: String, candidates: DataFrame,
      q: DataFrame, k: Int = K): DataFrame =
    embeddings(s, d)
      .join(candidates, Seq("vec_id"), "left_semi")
      .withColumn("nrm", vecDot("embedding", "embedding", DIM))
      .crossJoin(q)
      .select(col("vec_id"),
        cosineFromNormsLoop("embedding", "qv", col("nrm"), col("qnrm"), DIM)
          .as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("cos"), 6).as("cosine"))

  private def rerank(s: SparkSession, d: String, candidates: DataFrame): DataFrame =
    rerankAgainst(s, d, candidates, queryVec(s, d))

  /** An ad-hoc query vector as the 1-row (vec_id=-1, embedding) frame
    * the bucketing/probing pipelines expect — no corpus membership
    * required, no driver-side collect.
    */
  private def adhocVec(s: SparkSession, vec: Seq[Float]): DataFrame =
    s.range(1).select(lit(-1L).as("vec_id"),
      array(vec.map(v => lit(v)): _*).as("embedding"))

  private def adhocQ(s: SparkSession, vec: Seq[Float]): DataFrame =
    broadcast(adhocVec(s, vec).select(col("embedding").as("qv"),
      vecDot("embedding", "embedding", DIM).as("qnrm")))

  // -- s01: exact top-k cosine neighbours --------------------------------
  def s01(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .filter(col("vec_id") =!= QUERY_VEC)
      .withColumn("nrm", vecDot("embedding", "embedding", DIM))
      .crossJoin(queryVec(s, d))
      .select(col("vec_id"),
        cosineFromNormsLoop("embedding", "qv", col("nrm"), col("qnrm"), DIM)
          .as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(K)
      .select(col("vec_id"), round(col("cos"), 6).as("cosine"))

  /** s01's exact answer over the corpus MINUS an excluded id set —
    * s14's recall reference (Evidence): truth shrinks with the deletes.
    */
  private[graft] def exactTopKExcluding(s: SparkSession, d: String,
      excluded: DataFrame): DataFrame =
    embeddings(s, d)
      .filter(col("vec_id") =!= QUERY_VEC)
      .join(broadcast(excluded.select("vec_id")), Seq("vec_id"), "left_anti")
      .withColumn("nrm", vecDot("embedding", "embedding", DIM))
      .crossJoin(queryVec(s, d))
      .select(col("vec_id"),
        cosineFromNormsLoop("embedding", "qv", col("nrm"), col("qnrm"), DIM)
          .as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(K)
      .select(col("vec_id"), round(col("cos"), 6).as("cosine"))

  // -- s02: LSH-bucketed approximate top-k -------------------------------
  // Candidates = vectors sharing the query's bucket in >=1 table; exact
  // cosine re-ranks them. At scale the index is pre-built, so a query
  // touches only its own buckets.
  /** Sign-LSH bucket index pipeline: vectors → (vec_id, tbl, bucket).
    *
    * One loop-codegen'd expression per vector (r16): the previous
    * explode + 4096-row plane join + two decimal hash aggregates put
    * ~4096 product rows per vector through an exchange and burned the
    * query in BigDecimal buffer updates (profiled: UnsafeRow
    * get/setDecimal were s02's top frames). [[LshSignBuckets]] computes
    * the same per-product decimal(18,12) rounding and the same exact
    * sums in place — LshBucketsSpec proves code equality against the
    * old SQL chain (now the specs' `Oracles.bucketsOfSql`) over the
    * whole corpus.
    *
    * embeddings.parquet is a single file -> a single input partition;
    * the pinned repartition spreads the per-vector plane math over the
    * cores (AQE sizes by bytes and cannot see the compute behind it).
    * Bucket values are unaffected (order-independent sums).
    */
  private[graft] def bucketsOf(s: SparkSession, vecs: DataFrame): DataFrame =
    vecs
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"),
        posexplode(lshSignBuckets(col("embedding"), DIM, TABLES, NBITS, SEED))
          .as(Seq("tbl", "bucket")))

  def s02(s: SparkSession, d: String): DataFrame = {
    val idx = bucketsOf(s, embeddings(s, d))
    // filter BEFORE bucketing: the query's buckets come from a 1-row
    // pipeline instead of re-deriving (and re-shuffling) the whole index
    val qIdx = broadcast(
      bucketsOf(s, embeddings(s, d).filter(col("vec_id") === QUERY_VEC))
        .select("tbl", "bucket"))
    val candidates = idx
      .join(qIdx, Seq("tbl", "bucket"), "left_semi")
      .filter(col("vec_id") =!= QUERY_VEC)
      .select("vec_id").distinct()
    rerank(s, d, candidates)
  }

  // -- s02b: LSH top-k over a PERSISTED bucket index ---------------------
  // The 100 TB ANN story made concrete: the bucket index is built ONCE
  // and stored as a bucketed table (bucketBy (tbl, bucket) — the src03
  // technique), so a query never re-derives signatures over the corpus.
  // The query plan contains NO Generate/explode at all: even the query
  // vector's bucket codes come from the persisted index (the query id is
  // a corpus member here; an ad-hoc vector would bucket through the same
  // 1-row pipeline s02 uses, still never touching the corpus).
  // SimilaritySpec asserts both the no-rebuild plan shape and result
  // equality with s02 (the index rows are identical by construction:
  // decimal plane-dot accumulation is partitioning-independent).

  private def sanitize(d: String): String = graft.Scratch.tag(d)

  private def scratch: String = graft.Scratch.dir

  /** Build-if-absent the persisted (vec_id, tbl, bucket) index; returns
    * the table name. Per-JVM idempotent: repeated queries (and Bench's
    * timed runs) pay the build once, reads after that.
    */
  def ensureAnnIndex(s: SparkSession, d: String): String = {
    val nb = graft.GraftConf.indexBuckets(s)
    val name = s"graft_ann_idx_${sanitize(d)}_b$nb"
    if (!s.catalog.tableExists(name)) {
      bucketsOf(s, embeddings(s, d))
        .write.mode("overwrite")
        .bucketBy(nb, "tbl", "bucket").sortBy("tbl", "bucket")
        .option("path", s"$scratch/ann_idx/${sanitize(d)}_b$nb")
        .saveAsTable(name)
    }
    name
  }

  def s02b(s: SparkSession, d: String): DataFrame = {
    val idx = s.table(ensureAnnIndex(s, d))
    val qIdx = broadcast(idx.filter(col("vec_id") === QUERY_VEC)
      .select("tbl", "bucket"))
    val candidates = idx
      .join(qIdx, Seq("tbl", "bucket"), "left_semi")
      .filter(col("vec_id") =!= QUERY_VEC)
      .select("vec_id").distinct()
    rerank(s, d, candidates)
  }

  // -- s03: IVF (inverted-file) ANN --------------------------------------
  // The other classic scale path: partition the corpus into K cells
  // around k-means centroids, probe only the NPROBE cells nearest the
  // query, exact-re-rank inside them. Centroids come from a few Lloyd
  // iterations expressed as DataFrame ops (assignment = broadcast
  // K-row centroid table × corpus, codegen'd unrolled dots; update =
  // per-dimension decimal mean, partitioning-independent). Vectors are
  // assigned to their top-ASSIGN cells (multi-assignment), the standard
  // IVF recall lever — on random data (worst case) it keeps recall@10
  // comparable to s02's. At 100 TB the centroid table is tiny (K rows),
  // every pass over the corpus is one scan, and the cell assignment is
  // persisted exactly like s02b's bucket index.
  private val IVF_K = 8
  private val IVF_ITERS = 2
  private val IVF_NPROBE = 3
  private val IVF_ASSIGN = 2

  /** Cosine of each vector against each centroid (broadcast K rows).
    * Self-norms are hoisted OUT of the vec × cid expansion (r16): each
    * was a 770-node unrolled dot re-evaluated per PAIR row — now once
    * per vector and once per centroid. The score is bit-identical:
    * vecDot is deterministic, so the hoisted values are the same
    * doubles the inline form produced, and sqrt(cnrm * vnrm) multiplies
    * the same two operands.
    */
  private[graft] def cellScores(vecs: DataFrame, cent: DataFrame): DataFrame =
    vecs.withColumn("_vnrm", vecDot("embedding", "embedding", DIM))
      .crossJoin(broadcast(cent
        .withColumn("_cnrm", vecDot("c", "c", DIM))))
      .select(col("vec_id"), col("cid"), col("embedding"),
        (vecDot("embedding", "c", DIM) /
          sqrt(col("_cnrm") * col("_vnrm")))
          .as("score"))

  /** K centroids after `iters` Lloyd iterations, as (cid, c). */
  private[graft] def ivfCentroids(s: SparkSession, d: String,
      k: Int = IVF_K, iters: Int = IVF_ITERS): DataFrame =
    ivfCentroidsOf(embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("embedding")), k, iters)

  /** The same Lloyd chain over ANY (vec_id, embedding) frame —
    * [[ensureIvfIndexAppended]] trains on the base (pre-churn) corpus
    * slice through this.
    */
  private[graft] def ivfCentroidsOf(e: DataFrame, k: Int, iters: Int)
      : DataFrame = {
    // deterministic seeding: the K lowest vec_ids (TakeOrdered — no
    // assumption that the id domain is dense or zero-based)
    var cent: DataFrame = e.orderBy("vec_id").limit(k)
      .select((row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy("vec_id")) - 1).as("cid"), col("embedding").as("c"))
    for (_ <- 1 to iters) {
      // hard assignment: max_by with a (score, -cid) struct — partial-
      // aggregatable (no window sort) and deterministically tie-broken.
      // Grouped by vec_id ALONE (r16): the embedding is functionally
      // dependent on vec_id, and an array-typed GROUP KEY forces the
      // whole aggregate off the codegen'd hash path — it rides as a
      // max_by VALUE instead (same winning row, so the same array).
      val assigned = cellScores(e, cent)
        .groupBy(col("vec_id"))
        .agg(expr("max_by(cid, struct(score, -cid))").as("cid"),
          expr("max_by(embedding, struct(score, -cid))").as("embedding"))
      // update: per-dimension mean in exact decimal, so centroids are
      // identical on any partitioning (a near-tie assignment boundary
      // cannot flip between runs). ONE aggregate with DIM decimal sums
      // (r15) instead of posexplode + a (cid, dim) aggregate + a
      // collect_list re-assembly: the same sums over the same casts,
      // but no DIM× row expansion and two fewer exchanges per
      // iteration — map-side partials collapse each partition to ≤ k
      // rows before the only shuffle
      val sums = (0 until DIM).map(i =>
        sum(element_at(col("embedding"), i + 1).cast("decimal(38,12)"))
          .as(s"s_$i"))
      // materialize the ≤k-row centroid table each iteration (r16):
      // without the cut, iteration i's plan EMBEDS iteration i-1's
      // whole chain, and every downstream stage ships that nested tree
      // in its task binary — measured as ~0.5 s of per-task
      // deserialization on 32-task stages that carry <40 rows (s12's
      // profile: 24 s of task time on a 32-row stage). Values are
      // unchanged — the decimal means are exact and checkpointing only
      // truncates lineage.
      cent = graft.LocalCheckpointer(assigned
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .select(col("cid"), array((0 until DIM).map(i =>
          (col(s"s_$i") / col("n")).cast("double")): _*).as("c")))
    }
    cent
  }

  /** Multi-assignment against a FIXED centroid table: each vector's
    * IVF_ASSIGN nearest cells, as (vec_id, cid). A pure per-vector
    * function of (vector, centroids) — the property [[appendIvf]]
    * rests on: assigning base-then-delta equals assigning the union.
    */
  private[graft] def assignCells(vecs: DataFrame, cent: DataFrame)
      : DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("score").desc, col("cid"))
    cellScores(vecs, cent)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= IVF_ASSIGN)
      .select("vec_id", "cid")
  }

  def s03(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("embedding"))
    // cache the K-row centroid table: BOTH consumers below (cell
    // assignment and query probe) reference it, and uncached each would
    // re-run the full Lloyd chain over the corpus
    val cent = ivfCentroidsOf(e, IVF_K, IVF_ITERS).cache()
    // multi-assign each vector to its IVF_ASSIGN nearest cells
    val cells = assignCells(e, cent)
    // probe the NPROBE cells nearest the query (K-row centroid table ×
    // 1-row query — driver-free, broadcast both ways)
    val probed = broadcast(cent
      .crossJoin(queryVec(s, d))
      .select(col("cid"),
        (vecDot("c", "qv", DIM) / sqrt(vecDot("c", "c", DIM))).as("score"))
      .orderBy(col("score").desc, col("cid"))
      .limit(IVF_NPROBE).select("cid"))
    val candidates = cells
      .join(probed, Seq("cid"), "left_semi")
      .filter(col("vec_id") =!= QUERY_VEC)
      .select("vec_id").distinct()
    rerank(s, d, candidates)
  }

  // -- s03b: IVF over a PERSISTED cell index -----------------------------
  // Same amortization as s02b: the Lloyd build and the multi-assignment
  // are paid once, the (vec_id, cid) cells and the K-row centroid table
  // persisted; a query probes the centroid table, semi-joins the
  // bucketed cell table, re-ranks. No Generate, no Lloyd in the plan.

  /** Build-if-absent the persisted IVF index; returns (cells, centroids)
    * table names.
    */
  def ensureIvfIndex(s: SparkSession, d: String): (String, String) = {
    val nb = graft.GraftConf.indexBuckets(s)
    val cellsT = s"graft_ivf_cells_${sanitize(d)}_b$nb"
    val centT = s"graft_ivf_cent_${sanitize(d)}"
    if (!s.catalog.tableExists(cellsT)) {
      // centroids are bucket-independent (deterministic k-means over
      // the corpus), so a bucket-count resize rebuilds the cells table
      // only — not IVF_ITERS of k-means, and no transient overwrite of
      // a table the still-live old-geometry index reads
      if (!s.catalog.tableExists(centT))
        ivfCentroids(s, d).write.mode("overwrite")
          .option("path", s"$scratch/ivf_cent/${sanitize(d)}")
          .saveAsTable(centT)
      val e = embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .select(col("vec_id"), col("embedding"))
      assignCells(e, s.table(centT))
        .write.mode("overwrite")
        .bucketBy(nb, "cid").sortBy("cid")
        .option("path", s"$scratch/ivf_cells/${sanitize(d)}_b$nb")
        .saveAsTable(cellsT)
    }
    (cellsT, centT)
  }

  // -- IVF append: CDC for the vector side --------------------------------
  // ensureIvfIndex is build-once; a churning corpus must not rebuild
  // from scratch while LSH and the passage anchors already have append
  // paths. appendIvf assigns DELTA vectors to the EXISTING centroids
  // and appends their rows to the bucketed cells table — centroids stay
  // FIXED (appends don't retrain a quantizer; cell geometry decays only
  // under distribution drift, which s11's recall monitor owns — s14's
  // documented stance). Because assignment is a pure per-vector
  // function of (vector, centroids), append ≡ rebuild-at-fixed-
  // centroids EXACTLY (SimilaritySpec proves cells-table equality), and
  // the bucketed layout is preserved (Spark validates the bucket spec
  // on append), so candidate joins stay exchange-free after any number
  // of appends. At 100 TB a nightly delta pays |delta| × K scoring +
  // one bucketed append — never a corpus rescan or a Lloyd retrain.
  private[graft] val APP_DELTA_MOD = 4L // delta slice: vec_id % 4 == 3

  /** Append delta vectors to an existing persisted IVF index (fixed
    * centroids, bucket-preserving cells append).
    */
  def appendIvf(s: SparkSession, cellsT: String, centT: String,
      delta: DataFrame): Unit =
    appendIvfAssigned(s, cellsT,
      assignCells(delta.select(col("vec_id"), col("embedding")),
        s.table(centT)))

  /** The physical cells append for rows ALREADY assigned (vec_id, cid)
    * — the shared tail of [[appendIvf]] and the crash-replay dedup
    * paths, which pre-assign so they can anti-join what's present.
    */
  private[graft] def appendIvfAssigned(s: SparkSession, cellsT: String,
      assigned: DataFrame): Unit =
    assigned
      .write.mode("append")
      .bucketBy(graft.GraftConf.indexBuckets(s), "cid").sortBy("cid")
      .saveAsTable(cellsT)

  /** Build-if-absent the APPENDED-lifecycle index: centroids trained on
    * the base (pre-churn) three quarters of the corpus, base assigned
    * at build time, the remaining quarter arriving later via
    * [[appendIvf]] — the nightly-churn shape, kept as a SEPARATE index
    * so the shared s03b/s13/s14 index stays untouched. s11's `ivf_app`
    * leg monitors its recall over the FULL probe panel.
    */
  private[graft] def ensureIvfIndexAppended(s: SparkSession, d: String)
      : (String, String) = {
    val nb = graft.GraftConf.indexBuckets(s)
    val cellsT = s"graft_ivf_app_cells_${sanitize(d)}_b$nb"
    val centT = s"graft_ivf_app_cent_${sanitize(d)}"
    def delta(e: DataFrame) =
      e.filter(col("vec_id") % APP_DELTA_MOD === APP_DELTA_MOD - 1)
    if (!s.catalog.tableExists(cellsT)) {
      val e = embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .select(col("vec_id"), col("embedding"))
      val base = e.filter(col("vec_id") % APP_DELTA_MOD =!= APP_DELTA_MOD - 1)
      if (!s.catalog.tableExists(centT))
        ivfCentroidsOf(base, IVF_K, IVF_ITERS).write.mode("overwrite")
          .option("path", s"$scratch/ivf_app_cent/${sanitize(d)}")
          .saveAsTable(centT)
      assignCells(base, s.table(centT))
        .write.mode("overwrite")
        .bucketBy(nb, "cid").sortBy("cid")
        .option("path", s"$scratch/ivf_app_cells/${sanitize(d)}_b$nb")
        .saveAsTable(cellsT)
      appendIvf(s, cellsT, centT, delta(e))
    } else {
      // REPAIR the crash window between the base-table create and the
      // delta append: a killed run can leave the delta slice absent
      // (crash before the append job committed) or PARTIAL
      // (FileOutputCommitter publishes task outputs sequentially at
      // job commit, so a driver crash mid-commit publishes a prefix of
      // the task files) — either way the build-once guard above would
      // otherwise skip it FOREVER, serving an index silently missing
      // up to a quarter of the corpus. The invariant checked is the
      // same one st16 uses: the slice's row count must equal the
      // expected assignment count; on mismatch, re-append ONLY the
      // missing (vec_id, cid) rows (anti-join, so repair never dupes a
      // partially-published vector). Expected-empty corpora skip — no
      // delta means nothing to repair, not an append to re-run per
      // ensure call. The happy-path check is counts only (a pruned
      // vec_id scan of the delta slice on each side — never a
      // re-assignment): assignCells emits exactly min(IVF_ASSIGN, K)
      // rows per vector, so expected = deltaVecs × perVec; the
      // delta × centroids scoring runs only when repair is needed.
      val deltaVecs = delta(embeddings(s, d)).select(col("vec_id")).count()
      val perVec = math.min(IVF_ASSIGN.toLong, s.table(centT).count())
      val expected = deltaVecs * perVec
      val have = s.table(cellsT)
        .filter(col("vec_id") % APP_DELTA_MOD === APP_DELTA_MOD - 1)
      if (expected > 0 && have.count() != expected) {
        val assigned = assignCells(
          delta(embeddings(s, d)
            .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
            .select(col("vec_id"), col("embedding"))),
          s.table(centT))
        val missing = assigned.join(have.select(col("vec_id"), col("cid")),
          Seq("vec_id", "cid"), "left_anti")
        if (!missing.isEmpty) appendIvfAssigned(s, cellsT, missing)
      }
    }
    (cellsT, centT)
  }

  // -- IVF dedup cells: coarse quantization for embedding NEAR-DUP -------
  // Dedup.d05b's candidate index — the pair-mining face of IVF: a
  // dedicated k-means cell assignment where each vector lands in its
  // 5 nearest cells (multi-assignment IS the "same + adjacent cells"
  // probe: a pair can meet iff their cell sets intersect). More cells than the ANN index (16 vs 8) keeps per-cell
  // join buckets smaller; more assignments keep boundary pairs
  // together. The table carries the VECTOR and its self-dot alongside
  // the assignment and is persisted bucketed by cid, so d05b's pair
  // expansion is a bucket-local co-located self-join (the src03
  // technique) that never exchanges, never broadcasts, and reads
  // nothing but this one table — parallelism = bucket count, the
  // cluster-sizing knob (spark.graft.dedup.cells.buckets, GraftConf);
  // its default reproduces the historical layout.
  /** Build-if-absent the persisted dedup cell assignment
    * (vec_id, cid, embedding, nrm); returns the table name. The name
    * encodes the layout parameters, so differently-sized indexes
    * coexist and a conf change cannot serve a stale geometry.
    */
  /** Derived dedup-quantizer cell count: K grows as the SQUARE ROOT of
    * the assigned-row count (so the per-cell population grows as sqrt
    * too, and the bucket-local pair expansion does n^1.5 work overall
    * instead of the n² a fixed K gives). Sqrt, not linear, because K
    * trades candidate recall for cost: measured at sf1 on the
    * isotropic worst case (iid random 64-dim vectors, τ=0.4 — no
    * cluster structure for cells to capture), against the 95,849
    * true pairs: K=16 recall 0.99 at 8.0 s, K=51 (this law) 0.84 at
    * 2.7 s, K=160 (linear law) 0.62 at 1.2 s. On a genuinely
    * clustered near-dup corpus (the production case — semantic dups
    * at τ≥0.9 quantize cleanly) linear growth holds recall. The
    * normalizer reproduces the historical sf0.1 geometry (2000
    * vectors × 5 assignments → K=16), so shipped layouts only change
    * above it.
    */
  private[graft] def dedupCellsKFor(n: Long, assign: Int): Int =
    math.max(16L,
      math.ceil(16.0 * math.sqrt(n.toDouble * assign / 10000.0)).toLong).toInt

  def ensureIvfDedupCells(s: SparkSession, d: String): String = {
    val (assign, buckets) = (5, graft.GraftConf.dedupCellBuckets(s))
    // parquet row-count metadata makes this count() a footer read
    val k = dedupCellsKFor(embeddings(s, d).count(), assign)
    val layout = s"k${k}a${assign}b$buckets"
    val cellsT = s"graft_ivf_dedup_cells_${sanitize(d)}_$layout"
    if (!s.catalog.tableExists(cellsT)) {
      val cent = ivfCentroids(s, d, k, IVF_ITERS).cache()
      val e = embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .select(col("vec_id"), col("embedding"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("score").desc, col("cid"))
      cellScores(e, cent)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= assign)
        .select(col("vec_id"), col("cid"), col("embedding"),
          vecDot("embedding", "embedding", DIM).as("nrm"))
        .write.mode("overwrite")
        .bucketBy(buckets, "cid").sortBy("cid")
        .option("path", s"$scratch/ivf_dedup_cells/${sanitize(d)}_$layout")
        .saveAsTable(cellsT)
      cent.unpersist()
    }
    cellsT
  }

  def s03b(s: SparkSession, d: String): DataFrame = {
    val (cellsT, centT) = ensureIvfIndex(s, d)
    val probed = broadcast(s.table(centT)
      .crossJoin(queryVec(s, d))
      .select(col("cid"),
        (vecDot("c", "qv", DIM) / sqrt(vecDot("c", "c", DIM))).as("score"))
      .orderBy(col("score").desc, col("cid"))
      .limit(IVF_NPROBE).select("cid"))
    val candidates = s.table(cellsT)
      .join(probed, Seq("cid"), "left_semi")
      .filter(col("vec_id") =!= QUERY_VEC)
      .select("vec_id").distinct()
    rerank(s, d, candidates)
  }

  // -- s04: product-quantization ANN (the compressed-corpus path) --------
  // At 100 TB the embeddings themselves are the storage problem: 64
  // floats = 256 bytes/vector. PQ splits each vector into M=8 8-dim
  // subvectors and snaps each to one of 16 per-subspace codewords →
  // 8 nibbles (≈8 bytes) per vector, a 32x compression, scored WITHOUT
  // decompression: a query builds a 128-entry lookup table (subspace ×
  // codeword dots — asymmetric distance computation) and each vector's
  // approximate score is 8 table lookups summed. Top-CAND approximate
  // scores are then re-ranked exactly against the uncompressed vectors
  // (touched only for ~CAND rows). Codebooks come from per-subspace
  // Lloyd iterations expressed as DataFrame ops, deterministic end to
  // end: fixed-order distance/dot expressions, decimal means, decimal
  // LUT accumulation, explicit tie-breaks.
  private val PQ_M = 8
  private val PQ_SUB = 8
  private val PQ_KS = 16
  private val PQ_ITERS = 2
  private val PQ_CAND = 100

  /** (id, m, sv): each vector split into its M subvectors. */
  private[graft] def subvectors(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"), posexplode(array((0 until PQ_M).map(m =>
      slice(col("embedding"), m * PQ_SUB + 1, PQ_SUB)): _*)).as(Seq("m", "sv")))

  /** Per-subspace codebooks after PQ_ITERS Lloyd iterations, as
    * (m, cid, c) — all M k-means runs advance jointly, keyed by m.
    */
  private[graft] def pqCodebook(s: SparkSession, d: String): DataFrame =
    pqCodebookOf(embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("embedding")))

  /** The same per-subspace Lloyd chain over ANY (vec_id, embedding)
    * frame — s12 trains codebooks on IVF residuals through this.
    */
  private[graft] def pqCodebookOf(e: DataFrame): DataFrame = {
    val subs = subvectors(e)
    // deterministic seeds: the subvectors of the PQ_KS lowest vec_ids
    var cent: DataFrame = subvectors(
      e.orderBy("vec_id").limit(PQ_KS)
        .select((row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("vec_id")) - 1).cast("long").as("vec_id"), col("embedding")))
      .select(col("m"), col("vec_id").cast("int").as("cid"), col("sv").as("c"))
    for (_ <- 1 to PQ_ITERS) {
      // assignment: nearest codeword per (vector, subspace); min_by over
      // a (d2, cid) struct is partial-aggregatable and tie-stable.
      // sv is functionally dependent on (vec_id, m) — carried as a
      // min_by VALUE so the group key stays codegen-friendly (the
      // ivfCentroidsOf array-group-key move, r16)
      val assigned = subs.join(broadcast(cent), "m")
        .withColumn("d2", dist2Fixed("sv", "c", PQ_SUB))
        .groupBy(col("vec_id"), col("m"))
        .agg(expr("min_by(cid, struct(d2, cid))").as("cid"),
          expr("min_by(sv, struct(d2, cid))").as("sv"))
      // update: per-dimension decimal mean (partitioning-independent).
      // ONE aggregate with PQ_SUB decimal sums per (m, cid) — same
      // sums, same casts, no posexplode row expansion and two fewer
      // exchanges per iteration (ivfCentroidsOf's r15 move)
      val sums = (0 until PQ_SUB).map(i =>
        sum(element_at(col("sv"), i + 1).cast("decimal(38,12)"))
          .as(s"s_$i"))
      // per-iteration M·KS-row materialization — same task-binary cut
      // as ivfCentroidsOf (r16), same unchanged-values argument
      cent = graft.LocalCheckpointer(assigned
        .groupBy(col("m"), col("cid"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .select(col("m"), col("cid"), array((0 until PQ_SUB).map(i =>
          (col(s"s_$i") / col("n")).cast("double")): _*).as("c")))
    }
    cent
  }

  /** Encode: (vec_id, m, code) — each subvector's nearest codeword. */
  private[graft] def pqEncode(subs: DataFrame, cent: DataFrame): DataFrame =
    subs.join(broadcast(cent), "m")
      .withColumn("d2", dist2Fixed("sv", "c", PQ_SUB))
      .groupBy(col("vec_id"), col("m"))
      .agg(expr("min_by(cid, struct(d2, cid))").as("code"))

  /** A 1-row vector frame's M subvectors WITHOUT a Generate: a
    * range(M) leaf crossed with the frame, dynamic slice() — keeps the
    * prebuilt-index plan free of explode nodes entirely.
    */
  private def subsOfVec(s: SparkSession, vecFrame: DataFrame): DataFrame =
    broadcast(vecFrame.select(col("embedding"))
      .crossJoin(s.range(PQ_M).select(col("id").cast("int").as("m")))
      .select(col("m"),
        slice(col("embedding"), col("m") * lit(PQ_SUB) + lit(1), lit(PQ_SUB))
          .as("qsv")))

  private def querySubs(s: SparkSession, d: String): DataFrame =
    subsOfVec(s, embeddings(s, d).filter(col("vec_id") === QUERY_VEC))

  /** ADC scoring + exact re-rank against a codes/codebook pair, for any
    * (qsubs, q) query pair — member or ad-hoc.
    */
  private def pqSearch(s: SparkSession, d: String, codes: DataFrame,
      cent: DataFrame, qsubs: DataFrame, q: DataFrame, k: Int = K,
      exclude: Option[Long] = Some(QUERY_VEC)): DataFrame = {
    // 128-entry LUT: dot of every codeword with the query's subvector.
    // Decimal so the 8-term per-vector sum is order-independent.
    val lut = broadcast(cent.join(qsubs, "m")
      .select(col("m"), col("cid").as("code"),
        vecDot("c", "qsv", PQ_SUB).cast("decimal(38,12)").as("lut")))
    val scored = codes.join(lut, Seq("m", "code"))
      .groupBy("vec_id").agg(sum(col("lut")).as("approx"))
    // member queries exclude themselves; ad-hoc queries exclude nothing
    // but get one extra candidate slot, so an ad-hoc vector that happens
    // to BE a corpus member still re-ranks the same PQ_CAND non-self
    // candidates (it occupies rank 1 itself)
    val candidates = exclude.foldLeft(scored)((df, id) =>
        df.filter(col("vec_id") =!= id))
      .orderBy(col("approx").desc, col("vec_id"))
      .limit(PQ_CAND + (if (exclude.isEmpty) 1 else 0))
      .select("vec_id")
    rerankAgainst(s, d, candidates, q, k)
  }

  def s04(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("embedding"))
    val cent = pqCodebookOf(e).cache()
    pqSearch(s, d, pqEncode(subvectors(e), cent), cent,
      querySubs(s, d), queryVec(s, d))
  }

  // -- s04b: PQ over PERSISTED codebook + codes tables -------------------
  // The deployment shape: train/encode once, store 8 rows of (m, code)
  // per vector — the compressed corpus — bucketed by vec_id so the
  // per-vector LUT sum aggregates without an exchange. A query is:
  // broadcast 128-entry LUT → one scan of the CODES table (not the
  // vectors) → top-CAND → exact re-rank touching ~CAND real vectors.
  def ensurePqIndex(s: SparkSession, d: String): (String, String) = {
    val nb = graft.GraftConf.indexBuckets(s)
    val codesT = s"graft_pq_codes_${sanitize(d)}_b$nb"
    val centT = s"graft_pq_cent_${sanitize(d)}"
    if (!s.catalog.tableExists(codesT)) {
      // codebook is bucket-independent — same move as ensureIvfIndex
      if (!s.catalog.tableExists(centT))
        pqCodebook(s, d).write.mode("overwrite")
          .option("path", s"$scratch/pq_cent/${sanitize(d)}")
          .saveAsTable(centT)
      val e = embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .select(col("vec_id"), col("embedding"))
      pqEncode(subvectors(e), s.table(centT))
        .write.mode("overwrite")
        .bucketBy(nb, "vec_id").sortBy("vec_id")
        .option("path", s"$scratch/pq_codes/${sanitize(d)}_b$nb")
        .saveAsTable(codesT)
    }
    (codesT, centT)
  }

  def s04b(s: SparkSession, d: String): DataFrame = {
    val (codesT, centT) = ensurePqIndex(s, d)
    pqSearch(s, d, s.table(codesT), s.table(centT),
      querySubs(s, d), queryVec(s, d))
  }

  // -- s05: k-NN JOIN (batch ANN serving) --------------------------------
  // The per-query operators above answer ONE vector at a time; the batch
  // shape — "for every vector in a probe set, its top-k neighbours" —
  // is the k-NN JOIN an embedding pipeline actually runs (link every new
  // document to its nearest corpus members). s05 is the exact form over
  // a FIXED small probe set: a broadcast nested-loop against the probe
  // frame is intrinsic to exact kNN (every corpus vector scores against
  // every probe, O(N·|Q|)) and stays linear in the corpus while the
  // probe set is bounded; the per-probe top-k is a rank-filtered window.
  // s05b is the scale path for LARGE probe sets: the persisted LSH
  // bucket index turns candidate generation into an equi-join on
  // (tbl, bucket) — no nested loop anywhere — and the exact re-rank
  // touches only collided pairs.
  private[graft] val KNN_PROBE_IDS: Seq[Long] = (0 until 10).map(_ * 50L)

  private def probeFrame(s: SparkSession, d: String): DataFrame =
    broadcast(embeddings(s, d)
      .filter(col("vec_id").isin(KNN_PROBE_IDS: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        vecDot("embedding", "embedding", DIM).as("qnrm")))

  /** Shared rank-filtered-window tail: (q_id, vec_id, cos) → top-k per
    * probe with the deterministic (cos desc, vec_id) tie order.
    */
  private def topKPerProbe(scored: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K)
      .select(col("q_id"), col("rk"), col("vec_id"),
        round(col("cos"), 6).as("cosine"))
      .transform(graft.Gate.ordered("q_id", "rk"))
  }

  def s05(s: SparkSession, d: String): DataFrame =
    topKPerProbe(embeddings(s, d)
      // vecDot/cosineFromNormsLoop: bit-equal to the unrolled form the
      // oracle mirrors, but evaluated as one tight loop — this path
      // scores corpus x probes pairs, where the ~770-node unrolled
      // expression's per-evaluation walk dominates (see FloatVecDot)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .withColumn("nrm", vecDot("embedding", "embedding", DIM))
      .crossJoin(probeFrame(s, d))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineFromNormsLoop("embedding", "qv", col("nrm"), col("qnrm"),
          DIM).as("cos")))

  def s05b(s: SparkSession, d: String): DataFrame = {
    val idx = s.table(ensureAnnIndex(s, d))
    val pIdx = broadcast(idx
      .filter(col("vec_id").isin(KNN_PROBE_IDS: _*))
      .select(col("vec_id").as("q_id"), col("tbl"), col("bucket")))
    val cand = idx.join(pIdx, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").distinct()
    // self-dot BEFORE the pair-expanding candidate join: a vector
    // colliding with m probes must pay its 64-term norm once, not m
    // times (the cosineFromNorms contract)
    topKPerProbe(embeddings(s, d)
      .withColumn("nrm", vecDot("embedding", "embedding", DIM))
      .join(cand, Seq("vec_id"))
      .join(probeFrame(s, d), "q_id")
      .select(col("q_id"), col("vec_id"),
        cosineFromNormsLoop("embedding", "qv", col("nrm"), col("qnrm"),
          DIM).as("cos")))
  }

  // -- s06: cosine RANGE search (radius join) ----------------------------
  // The other batch-serving shape: not "the k nearest" but "EVERYTHING
  // within the radius" — retrieval filters, near-dup audits and recall
  // measurement all want the threshold form (a top-k can silently drop
  // qualifying neighbours past k; a range search can't). Same bounded
  // probe-set contract as s05: the broadcast nested loop is intrinsic
  // to exact scoring, stays O(N·|Q|) and linear in the corpus, and the
  // threshold filter runs inside the scan projection — no window, no
  // per-probe sort, so the output never materializes more than the
  // qualifying rows. Probe sets past broadcast size take the s05b
  // route (bucketed candidate equi-join, then this same threshold).
  private[graft] val RANGE_T = 0.3

  def s06(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      // same pinned repartition as s05: one parquet file = one input
      // partition = one task for the whole corpus x probes expansion
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .withColumn("nrm", vecDot("embedding", "embedding", DIM))
      .crossJoin(probeFrame(s, d))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineFromNormsLoop("embedding", "qv", col("nrm"), col("qnrm"),
          DIM).as("cos"))
      .filter(col("cos") >= RANGE_T)
      .select(col("q_id"), col("vec_id"), round(col("cos"), 6).as("cosine"))
      .transform(graft.Gate.ordered("q_id", "vec_id"))

  // -- s07: FILTERED k-NN join (metadata predicate + top-k) --------------
  // The vector-DB serving shape s05 doesn't cover: "nearest neighbours
  // AMONG the rows matching a metadata predicate" (tenant, language,
  // date range — here the label attribute). Post-filtering a top-k is
  // WRONG semantics (the filter can empty the k and qualifying
  // neighbours past rank k are lost); s07 pre-filters, so the top-k is
  // computed over exactly the qualifying subset. The predicate sits
  // before everything else and reaches the parquet scan as a pushed
  // filter (spec-asserted) — at 100 TB a selective predicate prunes
  // the corpus BEFORE the O(N·|Q|) scoring pays for it, and with a
  // label-partitioned layout it would prune whole files.
  private[graft] val S07_MAX_LABEL = 4

  def s07(s: SparkSession, d: String): DataFrame =
    topKPerProbe(embeddings(s, d)
      .filter(col("label") < S07_MAX_LABEL)
      // pinned repartition AFTER the filter: less to shuffle, and the
      // corpus x probes expansion still spreads over the cores
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .withColumn("nrm", vecDot("embedding", "embedding", DIM))
      .crossJoin(probeFrame(s, d))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineFromNormsLoop("embedding", "qv", col("nrm"), col("qnrm"),
          DIM).as("cos")))

  // -- s13: FILTERED ANN over the persisted IVF index --------------------
  // s07's semantics served from the index instead of the full scan —
  // the production "filtered vector search" problem (tenant/language/
  // date predicate + top-k): candidates come from each probe's nearest
  // IVF cells (equi-join on cid against the SAME persisted cells table
  // s03b reads — no corpus scan, no new index), the metadata predicate
  // prunes candidates BEFORE the exact re-rank (s07's pre-filter
  // semantics on the candidate set: the top-k is computed over
  // qualifying candidates only, never post-filtered), and NPROBE is
  // BOOSTED over the unfiltered path — the standard compensation:
  // a selectivity-s filter leaves ~s·|cell| qualifying candidates per
  // cell, so holding the candidate budget needs ~1/s more cells.
  // Recall is measured against s07's oracle-checked exact answer in
  // SimilaritySpec and exported via Evidence (rows-only discipline).
  private[graft] val S13_NPROBE = 5

  def s13(s: SparkSession, d: String): DataFrame = {
    val (cellsT, centT) = ensureIvfIndex(s, d)
    // per-probe probed cells: each probe vector scored against the
    // broadcast centroids, top S13_NPROBE cells kept — a |Q|×K frame
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("score").desc, col("cid"))
    val probeCells = broadcast(
      cellScores(embeddings(s, d)
        .filter(col("vec_id").isin(KNN_PROBE_IDS: _*))
        .select(col("vec_id"), col("embedding")), s.table(centT))
        .withColumn("rn", row_number().over(wp))
        .filter(col("rn") <= S13_NPROBE)
        .select(col("vec_id").as("q_id"), col("cid")))
    val cand = s.table(cellsT).join(probeCells, Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").distinct()
    // qualifying-subset join applies the predicate BEFORE re-rank; the
    // filter reaches the parquet scan exactly as in s07
    topKPerProbe(embeddings(s, d)
      .filter(col("label") < S07_MAX_LABEL)
      .withColumn("nrm", vecDot("embedding", "embedding", DIM))
      .join(cand, Seq("vec_id"))
      .join(probeFrame(s, d), "q_id")
      .select(col("q_id"), col("vec_id"),
        cosineFromNormsLoop("embedding", "qv", col("nrm"), col("qnrm"),
          DIM).as("cos")))
  }

  // -- s14: tombstoned ANN + index purge (the DELETE lifecycle) ----------
  // The maintenance problem every production vector index has and
  // src11/src20 solve for the fact lake: an erasure request (GDPR, a
  // retracted document) must take effect at QUERY time immediately,
  // without retraining the quantizer or rewriting the corpus-sized
  // cells table. Tombstones are an append-only id table (two batches
  // here — the delete-queue shape); the query path anti-joins them out
  // of the candidate set BEFORE the exact re-rank, so a deleted vector
  // can never surface and qualifying neighbours past it are promoted
  // (the pre-filter discipline s07/s13 established — post-filtering a
  // top-k loses rank-k+1 survivors). purgeTombstones is the compaction
  // half: rewrite the cells table without tombstoned rows — centroids
  // UNCHANGED (deletes don't retrain a quantizer; cell geometry decays
  // only under distribution drift, which s11's recall monitor owns) —
  // after which the anti-join is a no-op. SimilaritySpec proves the
  // live-tombstone and purged-index answers byte-identical and pins
  // recall vs the exact answer over the surviving corpus; Evidence
  // exports both. Rows-only (candidate generation is k-means-seeded).
  private[graft] def tombstonePath(d: String): String =
    s"${graft.Scratch.dir}/ann_tombstones/${sanitize(d)}"

  /** Build-once append-only delete queue: two deterministic batches.
    * The two batch writes land in a STAGING dir and the queue is
    * published by ONE atomic rename (the Snapshots manifest
    * tmp-then-rename discipline) — a crash between the batch writes
    * can only leave staging debris, never a half-built queue that
    * later runs (s14, Evidence recall, purgeTombstones) would silently
    * accept as complete. Read back with the schema it was written with.
    */
  private[graft] def tombstones(s: SparkSession, d: String): DataFrame = {
    val path = tombstonePath(d)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val ids = embeddings(s, d).select(col("vec_id"))
    if (!fs.exists(p)) {
      val tmp = new org.apache.hadoop.fs.Path(path + ".building")
      fs.delete(tmp, true) // debris from a crashed prior attempt
      ids.filter(col("vec_id") % 9 === 2)
        .write.mode("append").parquet(tmp.toString)
      ids.filter(col("vec_id") % 23 === 5)
        .write.mode("append").parquet(tmp.toString)
      require(fs.rename(tmp, p), s"tombstone publish $tmp -> $p failed")
    }
    s.read.schema(ids.schema).parquet(path)
  }

  def s14(s: SparkSession, d: String): DataFrame = {
    val (cellsT, centT) = ensureIvfIndex(s, d)
    val tomb = broadcast(tombstones(s, d).select("vec_id").distinct())
    val probed = broadcast(s.table(centT)
      .crossJoin(queryVec(s, d))
      .select(col("cid"),
        (vecDot("c", "qv", DIM) / sqrt(vecDot("c", "c", DIM))).as("score"))
      .orderBy(col("score").desc, col("cid"))
      .limit(IVF_NPROBE).select("cid"))
    val candidates = s.table(cellsT)
      .join(probed, Seq("cid"), "left_semi")
      .join(tomb, Seq("vec_id"), "left_anti")
      .filter(col("vec_id") =!= QUERY_VEC)
      .select("vec_id").distinct()
    rerank(s, d, candidates)
  }

  /** Purge: the cells table rewritten without tombstoned rows, as a NEW
    * versioned table (the encode-layout-in-the-name discipline — s03b's
    * readers keep their unpurged table; a purge is a new index state,
    * not an in-place mutation). Returns the purged cells table name.
    */
  private[graft] def purgeTombstones(s: SparkSession, d: String): String = {
    val (cellsT, _) = ensureIvfIndex(s, d)
    val purgedT = s"${cellsT}_purged"
    if (!s.catalog.tableExists(purgedT)) {
      val tomb = broadcast(tombstones(s, d).select("vec_id").distinct())
      s.table(cellsT).join(tomb, Seq("vec_id"), "left_anti")
        .write.mode("overwrite")
        .option("path", s"$scratch/ivf_cells_purged/${sanitize(d)}")
        .saveAsTable(purgedT)
    }
    purgedT
  }

  /** s14's answer served from the PURGED index with no tombstone
    * anti-join — SimilaritySpec proves it byte-identical to [[s14]].
    */
  private[graft] def s14Purged(s: SparkSession, d: String): DataFrame = {
    val (_, centT) = ensureIvfIndex(s, d)
    val purgedT = purgeTombstones(s, d)
    val probed = broadcast(s.table(centT)
      .crossJoin(queryVec(s, d))
      .select(col("cid"),
        (vecDot("c", "qv", DIM) / sqrt(vecDot("c", "c", DIM))).as("score"))
      .orderBy(col("score").desc, col("cid"))
      .limit(IVF_NPROBE).select("cid"))
    val candidates = s.table(purgedT)
      .join(probed, Seq("cid"), "left_semi")
      .filter(col("vec_id") =!= QUERY_VEC)
      .select("vec_id").distinct()
    rerank(s, d, candidates)
  }

  // -- s08: truncated-dimension two-stage kNN join -----------------------
  // The Matryoshka/dimension-pruning serving shape: stage 1 scores every
  // (corpus, probe) pair on only the FIRST 16 of 64 dimensions and keeps
  // the top S08_CAND candidates per probe; stage 2 fetches full vectors
  // for candidates only and re-ranks exactly. At 100 TB the win is I/O:
  // with the prefix stored as its own column (or MRL-trained embeddings
  // where prefixes are semantically front-loaded), the full-corpus scan
  // reads dim/4 of the vector bytes and 75% of the dot-product work; the
  // full 256-byte vectors are touched for |Q| x S08_CAND rows only —
  // the s05b candidate-join shape with a cheaper candidate generator
  // that needs no prebuilt index. Unlike LSH/IVF/PQ this variant is
  // fully DETERMINISTIC (fixed-order prefix dots, vec_id tie-break), so
  // it carries a complete SQL oracle, not a recall spec: the gate
  // hash-checks candidate selection AND re-rank end to end. On iid
  // random embeddings prefix scores are weak predictors of full scores
  // (every dim carries equal signal — the worst case; MRL-trained
  // prefixes concentrate it), so S08_CAND here buys modest recall —
  // measured against s05 in SimilaritySpec, with the geometry's recall
  // a corpus property, not an accident of the engine.
  private[graft] val S08_PRE_DIM = 16
  private[graft] val S08_CAND = 60

  def s08(s: SparkSession, d: String): DataFrame = {
    val q16 = broadcast(embeddings(s, d)
      .filter(col("vec_id").isin(KNN_PROBE_IDS: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        vecDot("embedding", "embedding", S08_PRE_DIM).as("qpnrm")))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("pcos").desc, col("vec_id"))
    val cand = embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .withColumn("pnrm", vecDot("embedding", "embedding", S08_PRE_DIM))
      .crossJoin(q16)
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineFromNormsLoop("embedding", "qv", col("pnrm"), col("qpnrm"),
          S08_PRE_DIM).as("pcos"))
      .withColumn("prk", row_number().over(wp))
      .filter(col("prk") <= S08_CAND)
      .select("q_id", "vec_id")
    // full vectors touched only via the candidate join (s05b's tail)
    topKPerProbe(embeddings(s, d)
      .withColumn("nrm", vecDot("embedding", "embedding", DIM))
      .join(cand, Seq("vec_id"))
      .join(probeFrame(s, d), "q_id")
      .select(col("q_id"), col("vec_id"),
        cosineFromNormsLoop("embedding", "qv", col("nrm"), col("qnrm"),
          DIM).as("cos")))
  }

  // -- s09: hybrid keyword + vector retrieval (reciprocal-rank fusion) --
  // The modern RAG serving shape: neither leg alone is right — keyword
  // match finds exact terms embeddings blur, vectors find paraphrases
  // keywords miss — so production retrieval fuses both rankings. Query
  // = one corpus doc's text terms + its embedding (doc_id aligns with
  // vec_id in this corpus). Each leg produces its top-POOL pool with a
  // TakeOrderedAndProject (no global sort, no full-corpus window); the
  // rank numbers RRF needs are then assigned by a window over POOL
  // rows — constant work however large the corpus. Fusion is
  // 1/(K+rank) summed over the legs a doc appears in (truncated-list
  // RRF): two correctly-rounded divides + one add per doc — bit-equal
  // on any engine, no accumulation-order dependence. Keyword leg is
  // the d02 inverted-index shape: the query doc's distinct tokens
  // broadcast, one shuffle on doc_id for the overlap counts.
  private[graft] val S09_Q = 0L
  private[graft] val S09_POOL = 50
  private[graft] val S09_RRF_K = 60

  def s09(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
    val qToks = broadcast(toks.filter(col("doc_id") === S09_Q).select("tok"))
    val kwPool = toks.join(qToks, "tok")
      .filter(col("doc_id") =!= S09_Q)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("shared"))
      .orderBy(col("shared").desc, col("doc_id")).limit(S09_POOL)
    val kwRank = kwPool.withColumn("kr", row_number()
      .over(Window.orderBy(col("shared").desc, col("doc_id"))).cast("bigint"))
    val vecPool = embeddings(s, d)
      .filter(col("vec_id") =!= S09_Q)
      .withColumn("nrm", vecDot("embedding", "embedding", DIM))
      .crossJoin(queryVec(s, d))
      .select(col("vec_id").as("doc_id"),
        cosineFromNormsLoop("embedding", "qv", col("nrm"), col("qnrm"), DIM)
          .as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(S09_POOL)
    val vecRank = vecPool.withColumn("vr", row_number()
      .over(Window.orderBy(col("cos").desc, col("doc_id"))).cast("bigint"))
    kwRank.select(col("doc_id"), col("kr"))
      .join(vecRank.select(col("doc_id"), col("vr")), Seq("doc_id"),
        "full_outer")
      .select(col("doc_id"), col("kr"), col("vr"),
        round(coalesce(lit(1.0) / (col("kr") + S09_RRF_K), lit(0.0)) +
          coalesce(lit(1.0) / (col("vr") + S09_RRF_K), lit(0.0)), 6)
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(K)
      .transform(graft.Gate.orderedBy(col("rrf").desc, col("doc_id")))
  }

  // -- s10: MMR-diversified top-k (Maximal Marginal Relevance) -----------
  // The serving-side re-rank between ANN retrieval and the consumer
  // (RAG context assembly, dedup-aware search): greedily pick k results
  // maximizing λ·relevance − (1−λ)·max-similarity-to-already-picked
  // (Carbonell & Goldstein, SIGIR 1998). Scale shape: relevance and the
  // candidate pool come from the s01 distributed plan (at production
  // scale, from a prebuilt-index probe — the pool source is
  // interchangeable); the greedy selection is INHERENTLY sequential in
  // k, so it runs as ONE executor task over the coalesced pool — the
  // pool is bounded by construction (MMR_POOL rows), never the corpus,
  // and no row reaches the driver. Fixed-order double accumulation in
  // the task makes every pairwise cosine partitioning-independent.
  private[graft] val MMR_POOL = 50
  private[graft] val MMR_LAMBDA = 0.7

  def s10(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pool = embeddings(s, d)
      .filter(col("vec_id") =!= QUERY_VEC)
      .withColumn("nrm", vecDot("embedding", "embedding", DIM))
      .crossJoin(queryVec(s, d))
      .select(col("vec_id"),
        cosineFromNormsLoop("embedding", "qv", col("nrm"), col("qnrm"), DIM)
          .as("rel"),
        col("embedding"), col("nrm"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(MMR_POOL)
    val picked = pool.toDF("_1", "_2", "_3", "_4")
      .as[(Long, Double, Array[Float], Double)]
      .coalesce(1)
      .mapPartitions { it =>
        val cands = it.toArray.sortBy { case (id, rel, _, _) => (-rel, id) }
        mmrSelect(cands, K, MMR_LAMBDA).iterator
      }
      .toDF("rank", "vec_id", "relevance", "mmr_score")
    picked.transform(graft.Gate.ordered("rank"))
  }

  /** The greedy MMR loop over a bounded candidate array. Exposed for the
    * spec's step-optimality check. Ties (after 1e-6 rounding of the
    * objective) break on the smaller vec_id, so the selection is a pure
    * function of the pool.
    */
  private[graft] def mmrSelect(cands: Array[(Long, Double, Array[Float], Double)],
      k: Int, lambda: Double): Seq[(Long, Long, Double, Double)] = {
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def r6(x: Double): Double = math.rint(x * 1e6) / 1e6
    val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Double)]
    while (out.size < k && selected.size < cands.length) {
      var bestIdx = -1; var bestScore = Double.NegativeInfinity
      cands.indices.foreach { i =>
        if (!selected.contains(i)) {
          val (id, rel, v, nrm) = cands(i)
          val maxSim =
            if (selected.isEmpty) 0.0
            else selected.map { j =>
              val (_, _, vj, nrmj) = cands(j)
              dot(v, vj) / math.sqrt(nrm * nrmj)
            }.max
          val score = r6(lambda * rel - (1 - lambda) * maxSim)
          if (score > bestScore ||
            (score == bestScore && bestIdx >= 0 && id < cands(bestIdx)._1)) {
            bestIdx = i; bestScore = score
          }
        }
      }
      // NaN scores (a zero-norm query or candidate makes every cosine
      // NaN, and NaN compares false against everything) leave bestIdx
      // unset — stop with the picks made rather than indexing at -1
      if (bestIdx < 0) return out.toSeq
      selected += bestIdx
      val (id, rel, _, _) = cands(bestIdx)
      out += ((out.size + 1L, id, r6(rel), bestScore))
    }
    out.toSeq
  }

  // -- s11: index-quality report (recall monitoring) ----------------------
  // "Measure, don't guess", productized: the recall@k of each persisted
  // ANN index against the exact answer, as a table a serving deployment
  // alerts on (index drift after appends, a bad rebuild, an over-
  // aggressive geometry change all surface here before users notice).
  // One batched plan per index — the probe panel rides s05's exact kNN
  // join and each index's candidate equi-join (s05b's LSH shape; the
  // same shape over the IVF cells), never a per-query loop; the recall
  // arithmetic is an integer hit-count per probe divided once.
  def s11(s: SparkSession, d: String): DataFrame = s11Core(s, d)

  private[graft] def s11Core(s: SparkSession, d: String,
      cp: graft.Checkpointer = graft.LocalCheckpointer): DataFrame = {
    // materialize the exact baseline ONCE (c30's checkpoint move): the
    // brute-force corpus×probe kNN is the report's expensive subtree
    // and every leg references it twice (hit semi-join + probe panel) —
    // six corpus-scoring replays in one plan without the cut (the
    // pre-r15 plan carried 98 Exchanges); the materialized frame is
    // K rows per probe, KB-sized at any corpus scale
    val exact = cp(s05(s, d).select(col("q_id"), col("vec_id")))
    // ivf_app: the appended-lifecycle index (base build + appendIvf
    // delta) monitored by the SAME report — recall decay after churn
    // is exactly what this monitor exists to catch
    val legs = Seq(
      "lsh" -> s05b(s, d).select(col("q_id"), col("vec_id")),
      "ivf" -> ivfKnnJoin(s, d, ensureIvfIndex(s, d))
        .select(col("q_id"), col("vec_id")),
      "ivf_app" -> ivfKnnJoin(s, d, ensureIvfIndexAppended(s, d))
        .select(col("q_id"), col("vec_id")))
    legs.map { case (name, approx) =>
      val hits = exact.join(approx, Seq("q_id", "vec_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
      exact.select("q_id").distinct()
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
          (coalesce(col("hits"), lit(0L)).cast("double") / K).as("recall"))
        .agg(count(lit(1)).as("n_queries"),
          round(avg(col("recall")), 6).as("mean_recall"),
          round(min(col("recall")), 6).as("min_recall"))
        .select(lit(name).as("index"), lit(K).cast("int").as("k"),
          col("n_queries"), col("mean_recall"), col("min_recall"))
    }.reduce(_ unionByName _).transform(graft.Gate.ordered("index"))
  }

  /** Batched IVF kNN join over the probe panel (s03b's single-query
    * probe generalized): per-probe nearest cells from the tiny
    * broadcast centroid table, candidates from the persisted cells,
    * exact re-rank — the same three stages, one plan for all probes.
    * Parameterized over the index tables so the monitor covers the
    * shared index AND the appended-lifecycle one.
    */
  private[graft] def ivfKnnJoin(s: SparkSession, d: String,
      index: (String, String)): DataFrame = {
    val (cellsT, centT) = index
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("score").desc, col("cid"))
    val probed = probeFrame(s, d)
      .crossJoin(broadcast(s.table(centT)))
      .select(col("q_id"), col("cid"),
        (vecDot("c", "qv", DIM) / sqrt(vecDot("c", "c", DIM)))
          .as("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= IVF_NPROBE)
      .select("q_id", "cid")
    val cand = s.table(cellsT)
      .join(broadcast(probed), Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").distinct()
    topKPerProbe(embeddings(s, d)
      .withColumn("nrm", vecDot("embedding", "embedding", DIM))
      .join(cand, Seq("vec_id"))
      .join(probeFrame(s, d), "q_id")
      .select(col("q_id"), col("vec_id"),
        cosineFromNormsLoop("embedding", "qv", col("nrm"), col("qnrm"),
          DIM).as("cos")))
  }

  // -- ad-hoc query API ---------------------------------------------------
  // The serving face of the persisted indexes: an ARBITRARY vector (not a
  // corpus member) is bucketed through the same 1-row pipeline and probed
  // against the prebuilt tables. The corpus is touched only through the
  // index and the final candidate re-rank — per-query cost is independent
  // of corpus size up to the candidate set.

  /** Top-k neighbours of an ad-hoc vector via the persisted LSH index. */
  def annQueryLsh(s: SparkSession, d: String, vec: Seq[Float], k: Int = K)
      : DataFrame = {
    val idx = s.table(ensureAnnIndex(s, d))
    val qIdx = broadcast(bucketsOf(s, adhocVec(s, vec)).select("tbl", "bucket"))
    val candidates = idx.join(qIdx, Seq("tbl", "bucket"), "left_semi")
      .select("vec_id").distinct()
    rerankAgainst(s, d, candidates, adhocQ(s, vec), k)
  }

  /** Top-k neighbours of an ad-hoc vector via the persisted PQ index:
    * the query builds its 128-entry LUT against the persisted codebook
    * and scores the compressed codes table — the uncompressed corpus is
    * touched only in the exact re-rank of the top candidates.
    */
  def annQueryPq(s: SparkSession, d: String, vec: Seq[Float], k: Int = K)
      : DataFrame = {
    val (codesT, centT) = ensurePqIndex(s, d)
    pqSearch(s, d, s.table(codesT), s.table(centT),
      subsOfVec(s, adhocVec(s, vec)), adhocQ(s, vec), k, exclude = None)
  }

  /** Top-k neighbours of an ad-hoc vector via the persisted IVF index. */
  def annQueryIvf(s: SparkSession, d: String, vec: Seq[Float], k: Int = K)
      : DataFrame = {
    val (cellsT, centT) = ensureIvfIndex(s, d)
    val probed = broadcast(s.table(centT)
      .crossJoin(adhocQ(s, vec))
      .select(col("cid"),
        (vecDot("c", "qv", DIM) / sqrt(vecDot("c", "c", DIM))).as("score"))
      .orderBy(col("score").desc, col("cid"))
      .limit(IVF_NPROBE).select("cid"))
    val candidates = s.table(cellsT)
      .join(probed, Seq("cid"), "left_semi")
      .select("vec_id").distinct()
    rerankAgainst(s, d, candidates, adhocQ(s, vec), k)
  }

  // -- s12: IVF-PQ with residual encoding (the composed 100 TB layout) ---
  // s03 and s04 composed the way a production vector index actually
  // ships (the IVFADC layout of Jégou et al., "Product Quantization
  // for Nearest Neighbor Search", TPAMI 2011): coarse cells absorb the
  // corpus's global structure, PQ codes quantize only the RESIDUAL
  // v − c(v) — less variance per code, so the same 8 bytes resolve
  // finer — and a query ADC-scores probed cells' codes against ONE
  // cell-independent residual LUT, exploiting dot(v,q) = dot(c,q) +
  // dot(r,q) exactly (the inner-product form: the LUT term is
  // dot(r̂,q), not the L2 convention's dot(r̂,q−c)). Costs at scale:
  // candidate generation touches only the NPROBE probed cells' codes
  // (an equi-join on cid), the per-query
  // LUT is M·KS rows broadcast, and the exact re-rank reads
  // PQ_CAND uncompressed rows. Everything is deterministic (decimal
  // Lloyd means, decimal ADC accumulation, explicit tie-breaks), but
  // a 2-iteration k-means result is not SQL-oracle-expressible —
  // rows-only, recall pinned against s01 in SimilaritySpec.
  def s12(s: SparkSession, d: String): DataFrame = {
    // the corpus frame itself stays UN-materialized (r16 A/B: an eager
    // localCheckpoint of it costs more than the handful of cheap
    // parquet re-scans it saves — the per-ITERATION centroid cuts
    // below are where the task-binary bloat lived)
    val e = embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("embedding"))
    val cent = ivfCentroidsOf(e, IVF_K, IVF_ITERS).cache()
    val (rcent, codes) = ivfPqEncode(s, e, cent)
    ivfPqSearch(s, d, cent, rcent.cache(), codes)
  }

  /** Residual encoding against a centroid table: hard-assign, subtract
    * the owning centroid, train per-subspace codebooks ON THE RESIDUALS
    * and encode. Returns (residual codebook, codes with cid).
    */
  private def ivfPqEncode(s: SparkSession, e: DataFrame, cent: DataFrame)
      : (DataFrame, DataFrame) = {
    // hard single-assignment: a residual needs ONE owning cell
    val assigned = cellScores(e, cent)
      .groupBy(col("vec_id"))
      .agg(expr("max_by(cid, struct(score, -cid))").as("cid"))
    // materialize the residual frame: the codebook's Lloyd chain
    // consumes it once per iteration and the encode once more —
    // unmaterialized, each pass replays assignment + centroid-subtract
    // over the corpus. localCheckpoint (not cache, r16) so downstream
    // task binaries carry a flat RDD scan instead of the whole
    // assignment plan (the per-task deserialization cost the
    // per-iteration Lloyd cut targets).
    val resid = graft.LocalCheckpointer(
      e.join(assigned, "vec_id").join(broadcast(cent), "cid")
        .select(col("vec_id"), col("cid"),
          zip_with(col("embedding"), col("c"), (a, b) => a - b)
            .as("embedding")))
    val rvecs = resid.select(col("vec_id"), col("embedding"))
    val rcent = pqCodebookOf(rvecs)
    // the codes' cell id comes from the CACHED residual frame, which
    // already carries the assignment — the pre-r16 join on `assigned`
    // re-ran the corpus x centroids scoring pass (cellScores + agg) a
    // second time for the same (vec_id, cid) rows
    (rcent, pqEncode(subvectors(rvecs), rcent)
      .join(resid.select(col("vec_id"), col("cid")), "vec_id"))
  }

  /** The query side shared by the live build (s12) and the persisted
    * index (s12b): probe cells, per-cell residual LUT, ADC, re-rank.
    */
  private[graft] def ivfPqSearch(s: SparkSession, d: String, cent: DataFrame,
      rcent: DataFrame, codes: DataFrame): DataFrame = {
    // probe: NPROBE cells nearest the query, each carrying its exact
    // centroid dot — the constant dot(c,q) term of the identity
    val probed = broadcast(cent.crossJoin(queryVec(s, d))
      .select(col("cid"),
        vecDot("c", "qv", DIM).cast("decimal(38,12)").as("cdot"),
        (vecDot("c", "qv", DIM) / sqrt(vecDot("c", "c", DIM))).as("score"))
      .orderBy(col("score").desc, col("cid"))
      .limit(IVF_NPROBE)
      .select(col("cid"), col("cdot")))
    // the LUT slices the ORIGINAL query: codes quantize r = v − c and
    // the inner-product identity needs dot(r̂, q) — slicing q−c (the
    // L2 IVFADC convention) would bias candidate ranking per cell.
    // Cell-independent, so M·KS rows total instead of NPROBE·M·KS;
    // range(M) × dynamic slice instead of posexplode — subsOfVec's
    // move, keeping the prebuilt plan free of Generate nodes entirely
    val qsubs = queryVec(s, d)
      .crossJoin(s.range(PQ_M).select(col("id").cast("int").as("m")))
      .select(col("m"),
        slice(col("qv"), col("m") * lit(PQ_SUB) + lit(1), lit(PQ_SUB))
          .as("qsv"))
    val rc = rcent.select(col("m"), col("cid").as("code"), col("c").as("cw"))
    val lut = broadcast(rc.join(qsubs, "m")
      .select(col("m"), col("code"),
        vecDot("cw", "qsv", PQ_SUB).cast("decimal(38,12)").as("lut")))
    // probed gates the cells and carries cdot; the LUT joins on
    // (m, code) alone
    val scored = codes.join(probed, "cid").join(lut, Seq("m", "code"))
      .groupBy(col("vec_id"))
      // cdot is constant within a vector's cell — min() is just the
      // deterministic way to carry it through the aggregate
      .agg((min(col("cdot")) + sum(col("lut"))).as("approx"))
    val candidates = scored
      .filter(col("vec_id") =!= QUERY_VEC)
      .orderBy(col("approx").desc, col("vec_id"))
      .limit(PQ_CAND)
      .select("vec_id")
    rerank(s, d, candidates)
  }

  // -- s12b: IVF-PQ over the PERSISTED index -----------------------------
  // The amortization every other index family already has (s02b/s03b/
  // s04b): the two Lloyd chains (coarse cells + residual codebooks) and
  // the corpus encode are paid ONCE; a query reads the K-row centroid
  // table, the M·KS-row residual codebook and the cid-bucketed codes —
  // no k-means, no Generate, no corpus-embedding scan in the plan
  // (asserted in SimilaritySpec). The coarse centroid table is SHARED
  // with s03b's index (same deterministic ivfCentroids, same name) —
  // one build serves both layouts.
  def ensureIvfPqIndex(s: SparkSession, d: String)
      : (String, String, String) = {
    val nb = graft.GraftConf.indexBuckets(s)
    val codesT = s"graft_ivfpq_codes_${sanitize(d)}_b$nb"
    val rcentT = s"graft_ivfpq_rcent_${sanitize(d)}"
    val centT = s"graft_ivf_cent_${sanitize(d)}"
    if (!s.catalog.tableExists(codesT)) {
      if (!s.catalog.tableExists(centT))
        ivfCentroids(s, d).write.mode("overwrite")
          .option("path", s"$scratch/ivf_cent/${sanitize(d)}")
          .saveAsTable(centT)
      val e = embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .select(col("vec_id"), col("embedding"))
      val (rcent, codes) = ivfPqEncode(s, e, s.table(centT))
      // ALWAYS rewritten alongside the codes (no exists-guard): a
      // killed build can leave rcentT from an earlier attempt, and
      // codes encoded against a fresh codebook must never serve with
      // a stale persisted one — the pair is one artifact
      rcent.write.mode("overwrite")
        .option("path", s"$scratch/ivfpq_rcent/${sanitize(d)}")
        .saveAsTable(rcentT)
      codes.write.mode("overwrite")
        .bucketBy(nb, "cid").sortBy("cid")
        .option("path", s"$scratch/ivfpq_codes/${sanitize(d)}_b$nb")
        .saveAsTable(codesT)
    }
    (centT, rcentT, codesT)
  }

  def s12b(s: SparkSession, d: String): DataFrame = {
    val (centT, rcentT, codesT) = ensureIvfPqIndex(s, d)
    ivfPqSearch(s, d, s.table(centT), s.table(rcentT), s.table(codesT))
  }

  // -- s15: scalar-quantized (SQ8) ANN ------------------------------------
  // The third compression family production vector stores ship next to
  // IVF and PQ (faiss ScalarQuantizer QT_8bit, Lucene/Elasticsearch
  // int8 vectors, Milvus IVF_SQ8): per-DIMENSION affine quantization.
  // Train = ONE aggregate pass collecting min/max per dimension (128
  // doubles, broadcast — no Lloyd iterations, unlike PQ/IVF); encode =
  // round((x−mn)/step) into 0..255 — 64 bytes/vector, 4x smaller than
  // float32, and the approximate score is a true per-dimension dot, so
  // error comes only from the quantization step, never codebook fit.
  // Query: dot(x̂, q) = Σ mn_i·q_i + Σ code_i·(step_i·q_i); the first
  // term is identical for every corpus row — dropped, ranks unchanged —
  // so the scan scores int codes against a broadcast 64-entry
  // dequant-projected LUT (fixed-order double sum, deterministic on any
  // partitioning), takes top-CAND via TakeOrderedAndProject (no full
  // sort, no shuffle), and the exact re-rank touches only CAND real
  // vectors. At 100 TB the only corpus-wide pass reads the 64-byte
  // codes column; train/encode amortize across queries via s15b.
  private val SQ_CAND = 100

  /** Per-dimension (mn, step) arrays as a 1-row broadcast frame. min and
    * max are order-independent, so the stats — and therefore the codes —
    * are partitioning-deterministic.
    */
  private[graft] def sqStats(vecs: DataFrame): DataFrame = {
    // ONE flat aggregate with per-dimension min/max pairs (r15) — same
    // values as the former posexplode + per-dim groupBy + collect_list
    // re-assembly, without the DIM× row expansion and two exchanges;
    // map-side partials collapse each partition to one row
    val aggs = (0 until DIM).flatMap(i => Seq(
      min(element_at(col("embedding"), i + 1).cast("double")).as(s"mn_$i"),
      max(element_at(col("embedding"), i + 1).cast("double")).as(s"mx_$i")))
    broadcast(vecs
      .agg(aggs.head, aggs.tail: _*)
      // a constant dimension gets a tiny non-zero step: every value
      // quantizes to code 0 and the affine decode stays well-defined
      .select(
        array((0 until DIM).map(i => col(s"mn_$i")): _*).as("mn"),
        array((0 until DIM).map(i =>
          greatest(col(s"mx_$i") - col(s"mn_$i"), lit(1e-12)) / 255.0): _*)
          .as("step")))
  }

  /** Encode: (vec_id, codes array<int>, each 0..255) — per-row affine
    * rounding against the broadcast stats, deterministic everywhere.
    */
  private[graft] def sqEncode(vecs: DataFrame, stats: DataFrame): DataFrame =
    vecs.crossJoin(stats)
      .select(col("vec_id"), expr(
        s"""transform(sequence(0, ${DIM - 1}), i -> CAST(least(255.0D,
           | greatest(0.0D, round((CAST(embedding[i] AS DOUBLE) - mn[i])
           |   / step[i], 0))) AS INT))""".stripMargin).as("codes"))

  /** Approximate-score + exact re-rank tail shared by s15 and s15b. */
  private def sqSearch(s: SparkSession, d: String, codes: DataFrame,
      stats: DataFrame): DataFrame = {
    val lut = broadcast(queryVec(s, d).crossJoin(stats)
      .select(zip_with(col("step"), col("qv"),
        (st, q) => st * q.cast("double")).as("lut")))
    val candidates = codes
      .filter(col("vec_id") =!= QUERY_VEC)
      .crossJoin(lut)
      .select(col("vec_id"), vecDot("codes", "lut", DIM).as("approx"))
      .orderBy(col("approx").desc, col("vec_id"))
      .limit(SQ_CAND)
      .select("vec_id")
    rerank(s, d, candidates)
  }

  def s15(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("embedding"))
    val stats = sqStats(e).cache()
    sqSearch(s, d, sqEncode(e, stats), stats)
  }

  // -- s15b: SQ8 over the PERSISTED codes table ---------------------------
  // Train/encode paid once; a query reads the 1-row stats table and the
  // vec_id-bucketed int-codes table — no min/max pass, no Generate, no
  // corpus-embedding scan before the re-rank (asserted in
  // SimilaritySpec).
  def ensureSqIndex(s: SparkSession, d: String): (String, String) = {
    val nb = graft.GraftConf.indexBuckets(s)
    val codesT = s"graft_sq_codes_${sanitize(d)}_b$nb"
    val statsT = s"graft_sq_stats_${sanitize(d)}"
    if (!s.catalog.tableExists(codesT)) {
      val e = embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .select(col("vec_id"), col("embedding"))
      // stats ALWAYS rewritten alongside the codes — codes encoded
      // against fresh stats must never serve with stale persisted ones
      // (same one-artifact rule as s12b's residual codebook)
      sqStats(e).write.mode("overwrite")
        .option("path", s"$scratch/sq_stats/${sanitize(d)}")
        .saveAsTable(statsT)
      sqEncode(e, broadcast(s.table(statsT))).write.mode("overwrite")
        .bucketBy(nb, "vec_id").sortBy("vec_id")
        .option("path", s"$scratch/sq_codes/${sanitize(d)}_b$nb")
        .saveAsTable(codesT)
    }
    (codesT, statsT)
  }

  def s15b(s: SparkSession, d: String): DataFrame = {
    val (codesT, statsT) = ensureSqIndex(s, d)
    sqSearch(s, d, s.table(codesT), broadcast(s.table(statsT)))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s15_ann_sq8" -> (s15 _),
    "s15b_ann_sq8_prebuilt" -> (s15b _),
    "s12_ann_ivfpq" -> (s12 _),
    "s12b_ann_ivfpq_prebuilt" -> (s12b _),
    "s01_ann_bruteforce" -> (s01 _),
    "s10_mmr_rerank" -> (s10 _),
    "s11_index_quality" -> (s11 _),
    "s02_ann_lsh" -> (s02 _),
    "s02b_ann_lsh_prebuilt" -> (s02b _),
    "s03_ann_ivf" -> (s03 _),
    "s03b_ann_ivf_prebuilt" -> (s03b _),
    "s04_ann_pq" -> (s04 _),
    "s04b_ann_pq_prebuilt" -> (s04b _),
    "s05_knn_join_exact" -> (s05 _),
    "s05b_knn_join_lsh" -> (s05b _),
    "s13_ann_filtered_ivf" -> (s13 _),
    "s14_ann_tombstones" -> (s14 _),
    "s06_range_search" -> (s06 _),
    "s07_knn_join_filtered" -> (s07 _),
    "s08_knn_join_truncated" -> (s08 _),
    "s09_hybrid_rrf" -> (s09 _)
  )

  val oracle: Map[String, String] = Map(
    // s02 is rows-only: its recall contract vs s01 is pinned in
    // SimilaritySpec (hash-seeded bucketing is not DuckDB-expressible).
    // oracle mirrors the identical unrolled fixed-order double dot
    // (sqlDotFixed) -> bit-equal cosines
    "s01_ann_bruteforce" ->
      s"""WITH e AS (
         | SELECT vec_id, embedding AS v,
         |  ${sqlDotFixed("embedding", "embedding", DIM)} AS nrm
         | FROM embeddings)
         |SELECT vec_id, ROUND(cos, 6) AS cosine FROM (
         | SELECT a.vec_id,
         |  (${sqlDotFixed("a.v", "q.v", DIM)}) / sqrt(a.nrm * q.nrm) AS cos
         | FROM e a JOIN e q ON q.vec_id = $QUERY_VEC
         | WHERE a.vec_id <> $QUERY_VEC)
         |ORDER BY cos DESC, vec_id LIMIT $K""".stripMargin,
    // same unrolled fixed-order dot -> bit-equal cosines, so the
    // (cos DESC, vec_id) rank order matches row-for-row
    "s05_knn_join_exact" -> {
      val ids = KNN_PROBE_IDS.mkString(", ")
      s"""WITH e AS (
         | SELECT vec_id, embedding AS v,
         |  ${sqlDotFixed("embedding", "embedding", DIM)} AS nrm
         | FROM embeddings),
         |p AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM e
         |  WHERE vec_id IN ($ids)),
         |scored AS (
         | SELECT p.q_id, e.vec_id,
         |  (${sqlDotFixed("e.v", "p.qv", DIM)}) / sqrt(e.nrm * p.qnrm) AS cos
         | FROM e, p WHERE e.vec_id <> p.q_id),
         |r AS (SELECT q_id, vec_id, cos, ROW_NUMBER() OVER (
         |  PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM scored)
         |SELECT q_id, rk, vec_id, ROUND(cos, 6) AS cosine
         |FROM r WHERE rk <= $K ORDER BY q_id, rk""".stripMargin
    },
    // s05's probe scoring without the rank window: every pair at or
    // above the radius, bit-equal cosines via the same unrolled dot
    "s06_range_search" -> {
      val ids = KNN_PROBE_IDS.mkString(", ")
      s"""WITH e AS (
         | SELECT vec_id, embedding AS v,
         |  ${sqlDotFixed("embedding", "embedding", DIM)} AS nrm
         | FROM embeddings),
         |p AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM e
         |  WHERE vec_id IN ($ids))
         |SELECT q_id, vec_id, ROUND(cos, 6) AS cosine FROM (
         | SELECT p.q_id, e.vec_id,
         |  (${sqlDotFixed("e.v", "p.qv", DIM)}) / sqrt(e.nrm * p.qnrm) AS cos
         | FROM e, p WHERE e.vec_id <> p.q_id)
         |WHERE cos >= $RANGE_T ORDER BY q_id, vec_id""".stripMargin
    },
    // both leg pools, ranks, and the two-divide fusion mirrored
    // exactly; CAST(1 AS DOUBLE) avoids DuckDB's decimal division
    // (Spark's lit(1.0) is double); rounding happens BEFORE the final
    // rank on both sides so boundary ties resolve by the same doc_id
    // order
    "s09_hybrid_rrf" ->
      s"""WITH qt AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
         |  FROM documents WHERE doc_id = $S09_Q),
         |tk AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
         |  AS tok FROM documents),
         |kw AS (SELECT doc_id, COUNT(*) AS shared FROM tk JOIN qt USING (tok)
         | WHERE doc_id <> $S09_Q GROUP BY 1),
         |kr AS (SELECT doc_id, kr FROM (
         |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY shared DESC, doc_id)
         |   AS kr FROM kw) WHERE kr <= $S09_POOL),
         |e AS (SELECT vec_id, embedding AS v,
         |  ${sqlDotFixed("embedding", "embedding", DIM)} AS nrm
         | FROM embeddings),
         |sc AS (SELECT a.vec_id AS doc_id,
         |  (${sqlDotFixed("a.v", "q.v", DIM)}) / sqrt(a.nrm * q.nrm) AS cos
         | FROM e a JOIN e q ON q.vec_id = $S09_Q
         | WHERE a.vec_id <> $S09_Q),
         |vr AS (SELECT doc_id, vr FROM (
         |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id)
         |   AS vr FROM sc) WHERE vr <= $S09_POOL),
         |f AS (SELECT COALESCE(kr.doc_id, vr.doc_id) AS doc_id, kr, vr
         | FROM kr FULL JOIN vr ON kr.doc_id = vr.doc_id)
         |SELECT doc_id, kr, vr,
         | ROUND(COALESCE(CAST(1 AS DOUBLE) / (kr + $S09_RRF_K), 0)
         |  + COALESCE(CAST(1 AS DOUBLE) / (vr + $S09_RRF_K), 0), 6) AS rrf
         |FROM f ORDER BY rrf DESC, doc_id LIMIT $K""".stripMargin,
    // both stages mirrored exactly: 16-term prefix dots pick the same
    // top-S08_CAND candidate set (bit-equal pcos, vec_id tie-break),
    // 64-term dots re-rank it — the whole two-stage decision is
    // hash-checked, not just the final ranks
    "s08_knn_join_truncated" -> {
      val ids = KNN_PROBE_IDS.mkString(", ")
      s"""WITH e AS (
         | SELECT vec_id, embedding AS v,
         |  ${sqlDotFixed("embedding", "embedding", S08_PRE_DIM)} AS pnrm,
         |  ${sqlDotFixed("embedding", "embedding", DIM)} AS nrm
         | FROM embeddings),
         |p AS (SELECT vec_id AS q_id, v AS qv, pnrm AS qpnrm,
         |  nrm AS qnrm FROM e WHERE vec_id IN ($ids)),
         |s1 AS (
         | SELECT p.q_id, e.vec_id,
         |  (${sqlDotFixed("e.v", "p.qv", S08_PRE_DIM)})
         |   / sqrt(e.pnrm * p.qpnrm) AS pcos
         | FROM e, p WHERE e.vec_id <> p.q_id),
         |c AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY pcos DESC, vec_id) AS prk FROM s1)
         | WHERE prk <= $S08_CAND),
         |s2 AS (
         | SELECT c.q_id, c.vec_id,
         |  (${sqlDotFixed("e.v", "p.qv", DIM)}) / sqrt(e.nrm * p.qnrm) AS cos
         | FROM c JOIN e ON e.vec_id = c.vec_id JOIN p ON p.q_id = c.q_id),
         |r AS (SELECT q_id, vec_id, cos, ROW_NUMBER() OVER (
         |  PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM s2)
         |SELECT q_id, rk, vec_id, ROUND(cos, 6) AS cosine
         |FROM r WHERE rk <= $K ORDER BY q_id, rk""".stripMargin
    },
    // pre-filter semantics: the top-k ranks over exactly the
    // label-qualifying subset; probes stay unfiltered (a probe outside
    // the predicate still queries)
    "s07_knn_join_filtered" -> {
      val ids = KNN_PROBE_IDS.mkString(", ")
      s"""WITH e AS (
         | SELECT vec_id, label, embedding AS v,
         |  ${sqlDotFixed("embedding", "embedding", DIM)} AS nrm
         | FROM embeddings),
         |p AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM e
         |  WHERE vec_id IN ($ids)),
         |scored AS (
         | SELECT p.q_id, f.vec_id,
         |  (${sqlDotFixed("f.v", "p.qv", DIM)}) / sqrt(f.nrm * p.qnrm) AS cos
         | FROM (SELECT * FROM e WHERE label < $S07_MAX_LABEL) f, p
         | WHERE f.vec_id <> p.q_id),
         |r AS (SELECT q_id, vec_id, cos, ROW_NUMBER() OVER (
         |  PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM scored)
         |SELECT q_id, rk, vec_id, ROUND(cos, 6) AS cosine
         |FROM r WHERE rk <= $K ORDER BY q_id, rk""".stripMargin
    }
  )
}
