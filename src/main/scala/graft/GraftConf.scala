package graft

import org.apache.spark.sql.SparkSession

/** Deployment-sizing knobs, surfaced as `spark.graft.*` session confs
  * (the pattern ApproxAtScale's accuracy knobs established —
  * GraftExtensions). Index geometry is a CLUSTER property, not a code
  * property: the bucket count of a persisted index fixes the
  * parallelism of every co-located self-join over it, so a 1000-
  * executor deployment sizes it up without recompiling. Defaults are
  * the repo's long-standing compile-time constants, so behaviour under
  * default confs is byte-identical to previous rounds. A setting that
  * only tunes speed and that nothing sets is a constant where it is
  * used instead; GraftConfSpec pins the keys that remain.
  *
  * Every persisted index ENCODES its layout-affecting parameters in its
  * table name (see the ensure* builders): two sessions with different
  * sizing coexist instead of silently sharing one mis-sized layout, and
  * build-if-absent stays correct across conf changes.
  *
  * DedupSpec proves a non-default bucket count builds a distinct
  * index with identical query results.
  */
object GraftConf {
  /** Bucket count for persisted index tables (LSH bands, IVF cells,
    * anchor index, PQ codes, pre-bucketed facts). On a cluster: size to
    * the target scan parallelism of the index's self-/probe-joins.
    */
  def indexBuckets(s: SparkSession): Int =
    s.conf.get("spark.graft.index.buckets", "8").toInt

  /** Bucket count for the IVF *dedup-cells* table specifically: d05b's
    * pair expansion runs as a co-located bucket-local self-join, so its
    * parallelism IS this bucket count — default matches local[32];
    * size to cluster cores in deployment.
    */
  def dedupCellBuckets(s: SparkSession): Int =
    s.conf.get("spark.graft.dedup.cells.buckets", "32").toInt

  /** Document-frequency cap of the shingle inverted index (d02/d03/d07
    * candidate gate; default 50). The oracle SQL under the gate mirrors
    * the DEFAULT — overriding the conf moves the operator off its
    * recorded oracle, which is the point: it is an accuracy/cost knob.
    */
  def dfCap(s: SparkSession): Int =
    s.conf.get("spark.graft.dedup.dfCap", "50").toInt

  /** Document-frequency cap of t11's contamination index (default 50).
    * Its own key on purpose: t11 borrows the dedup family's index
    * SHAPE, but tuning spark.graft.dedup.dfCap for d02/d03/d07 must
    * not silently move the decontamination gate off its recorded
    * oracle.
    */
  def contamDfCap(s: SparkSession): Int =
    s.conf.get("spark.graft.contam.dfCap", "50").toInt

  /** Document-frequency cap of the d08 anchor index (default 50).
    * Applied at QUERY time against the uncapped persisted index, so it
    * stays exact under incremental growth (Dedup.d08 notes).
    */
  def passageDfCap(s: SparkSession): Int =
    s.conf.get("spark.graft.dedup.passageDfCap", "50").toInt

  /** Tokens per block of t12's boilerplate segmentation (default 8 —
    * the recorded oracle's constant; an override is an accuracy/cost
    * knob that moves the operator off the recorded oracle, like dfCap).
    */
  def boilerBlockTokens(s: SparkSession): Int =
    s.conf.get("spark.graft.boilerplate.blockTokens", "8").toInt

  /** Cross-document frequency at/above which a t12 block is boilerplate
    * (default 2 — C4's "seen in more than one document" rule).
    */
  def boilerDf(s: SparkSession): Int =
    s.conf.get("spark.graft.boilerplate.df", "2").toInt

  /** Chunk window of t14's overlapping retrieval chunking, in tokens
    * (default 32 — the recorded oracle's geometry; production RAG
    * chunks are typically 256-1024 tokens).
    */
  def chunkTokens(s: SparkSession): Int =
    s.conf.get("spark.graft.chunk.tokens", "32").toInt

  /** Chunk stride of t14 (default 24 — i.e. 8 tokens of overlap). Must
    * be <= chunkTokens or boundary facts fall between chunks.
    */
  def chunkStride(s: SparkSession): Int =
    s.conf.get("spark.graft.chunk.stride", "24").toInt

  /** Shard byte budget of m05's export packing (default 4096 — sized to
    * this corpus's ~300-char assets; production shards are ~100 MB-1 GB.
    * The recorded oracle mirrors the default, like dfCap).
    */
  def shardBytes(s: SparkSession): Long =
    s.conf.get("spark.graft.shard.bytes", "4096").toLong

  /** Shard count of the d10/p03 corpus bloom gate (default 1 = the
    * single filter). Past ~10¹⁰-10¹¹ corpus keys one bit array exceeds
    * a task/driver buffer; sharding by hash prefix keeps each filter
    * honestly sized while the probe stays a codegen'd literal predicate
    * (Bloom.mightContainSharded). DedupSpec proves shard-form verdicts
    * equal the single-filter form.
    */
  def bloomShards(s: SparkSession): Int =
    s.conf.get("spark.graft.dedup.bloomShards", "1").toInt

  /** st11's alerting geometry: trailing window (hours), minimum
    * observed hours before the alert arms, and the spike factor
    * (count > factor × trailing mean). Defaults are the recorded
    * oracle's constants (the dfCap convention); an ops team tunes
    * sensitivity per deployment without recompiling.
    */
  def spikeWindowHours(s: SparkSession): Long =
    s.conf.get("spark.graft.spike.windowHours", "24").toLong
  def spikeMinObs(s: SparkSession): Long =
    s.conf.get("spark.graft.spike.minObs", "12").toLong

  /** Spike factor in MILLI-units (a conf of "1.5" → 1500): the verdict
    * compare stays all-integer (n·t_n·1000 > milli·t_sum) so batch and
    * stream agree bit-for-bit, while fractional sensitivity ("1.5×")
    * is expressible. Resolution is 0.001 — finer digits round.
    */
  def spikeFactorMilli(s: SparkSession): Long =
    math.round(s.conf.get("spark.graft.spike.factor", "2").toDouble * 1000)

  /** c49's adherence bar in MILLI-units (a conf of "0.8" → 800): the
    * verdict compare stays all-integer (covered·1000 ≥ window·milli)
    * so partitioning can't wiggle it, while the clinical threshold is
    * tunable per protocol. Default 0.5 — the recorded oracle's
    * constant (this corpus's activity never reaches the 0.8 clinical
    * default; the dfCap convention applies: overriding moves the
    * operator off its recorded oracle).
    */
  def pdcBarMilli(s: SparkSession): Long =
    math.round(s.conf.get("spark.graft.pdc.bar", "0.5").toDouble * 1000)

  /** t18's corpus-relative source bar: a source survives when its mean
    * quality ≥ bar × corpus mean (default 0.9 — the recorded oracle's
    * constant).
    */
  def sourceQualityBar(s: SparkSession): Double =
    s.conf.get("spark.graft.sourceQuality.bar", "0.9").toDouble

  /** AQE starting shuffle width, sized to the DATA instead of a
    * constant. The r14 sf100 slice showed the static-32 spill cliff
    * (q32: 35× the sf10 time) and fixed it with a static 1024 — but a
    * constant is wrong in SOME direction at every other scale: 1024
    * reduce buckets per exchange on a 17 MB sf0.1 input is pure
    * bookkeeping (an A/B at sf0.1 measured it inside sandbox noise
    * today, but the overhead grows with exchange count, and nothing
    * about "1024" derives from the data). One parquet byte budget
    * serves every SF: ~8 MB of on-disk input per initial partition
    * (≈30–60 MB in flight), floored at the core count (shipped SFs
    * get exactly the pre-r14 width, which AQE coalesces further
    * anyway) and capped at 1024 — the width the sf100 slice measured
    * good (22 GB/8 MB = 2816 uncapped; a genuinely larger deployment
    * raises SPARK_GRAFT_INIT_PARTS). AQE still coalesces DOWN
    * per-exchange, so this only sets the ceiling a big join can fan
    * out to.
    */
  def initShufflePartitions(dataDir: String, cpus: Int): Int = {
    // LOCAL-FILESYSTEM sizing only: a non-local dataDir (hdfs://, s3://)
    // or an unreadable path measures 0 bytes and lands on the core-count
    // floor — deliberate (a wrong small width only caps AQE's starting
    // fan-out, never correctness), but a cluster deployment should set
    // SPARK_GRAFT_INIT_PARTS explicitly. The walk never follows
    // symlinks: a looped link inside a data dir must not recurse the
    // driver into StackOverflowError at session build.
    def bytes(f: java.io.File): Long =
      if (java.nio.file.Files.isSymbolicLink(f.toPath)) 0L
      else if (f.isDirectory)
        Option(f.listFiles).map(_.map(bytes).sum).getOrElse(0L)
      else f.length
    val mb = bytes(new java.io.File(dataDir)) >> 20
    val width = math.max(cpus, math.min(1024L, mb / 8).toInt)
    // the chosen width is part of the session's performance contract —
    // log it so a mis-sized run is diagnosable from its own output
    System.err.println(s"[graft] AQE initialPartitionNum=$width " +
      s"(measured $mb MB under $dataDir, ~8 MB/partition, floor=$cpus " +
      "cores, cap=1024; local-FS measurement - non-local deployments " +
      "set SPARK_GRAFT_INIT_PARTS)")
    width
  }
}
