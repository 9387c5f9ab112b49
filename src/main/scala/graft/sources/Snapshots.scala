package graft.sources

import graft.Gate
import graft.Tables._
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, MapType,
  StructField, StructType}
import org.json4s.{JArray, JInt, JLong, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods

/** A replace-form commit (commitReplace / a compaction attempt) lost
  * its CAS race: a concurrent commit landed after this writer read the
  * base version, so the pre-computed replacement state no longer
  * reflects the table — blindly re-stamping it at the next version
  * would silently DROP the interloper's rows (the lost-update bug this
  * exception exists to prevent; Delta raises the same class of
  * conflict for concurrent metadata changes). Callers that can
  * recompute from the new head (compact does, internally) retry;
  * callers that cannot (a CDC merge built from a specific base) must
  * surface the conflict to whoever owns the merge semantics.
  */
final class SnapshotConflictException(msg: String)
  extends RuntimeException(msg)

/** Snapshot-isolated append commits with time travel — the lakehouse
  * table contract (Iceberg/Delta's core idea, re-derived minimally) a
  * 100 TB deployment needs so readers NEVER see a half-written table
  * and audits can re-run against the exact bytes a past report saw.
  * The reference gets this from PostgreSQL's MVCC (its CRC store is
  * transactional); on a parquet lake it has to be built:
  *
  *   root/data/w<token>/       immutable data files, one dir per commit
  *                              attempt (writer-unique name)
  *   root/dv/w<token>/         deletion-vector sidecars: one BIGINT
  *                              position per row a commit removed
  *   root/manifests/v<n>.json   the dirs, data files (path, bytes,
  *                              rows), sidecars, schema and row counts
  *                              of snapshot n (one json4s object) — its
  *                              EXCLUSIVE creation is the one commit
  *                              point (optimistic concurrency)
  *   root/HEAD                  hint to the current version; readers
  *                              probe manifests forward from it
  *
  * Correctness rests on two facts: data files are immutable once a
  * manifest references them (a reader planned against snapshot n lists
  * exactly those files — later commits cannot change what it reads),
  * and manifest v<n> can be created by exactly ONE writer (an atomic
  * link/no-overwrite rename — the CAS primitive PostgreSQL MVCC gives
  * the reference for free). Two writers racing version n both write
  * their data under writer-unique dirs, then race the manifest: the
  * winner owns v<n>; the loser re-reads head, REBASES its manifest on
  * the winner's state, and retries as v<n+1> — both commits land, no
  * rows lost. A crash before the manifest publish leaves only an
  * unreferenced (invisible) data dir, swept by [[vacuumOrphans]]; a
  * crash after it is a completed commit whose HEAD hint lags —
  * [[headVersion]]'s forward probe makes that benign. This is
  * deletePatients' tombstone discipline applied to whole-table
  * versioning, plus the multi-writer safety a lakehouse needs.
  *
  * Scale of the METADATA itself (the thousand-commit story): every
  * manifest is SELF-CONTAINED — the full file list, not an action delta
  * — so any version resolves from ONE manifest read; there is no log
  * replay to checkpoint away (Delta needs periodic checkpoint files
  * precisely because its log is deltas; writing the checkpoint every
  * commit is affordable here because [[commitManaged]] bounds the dirs,
  * and with them the files a manifest lists). HEAD is the
  * `_last_checkpoint`-style pointer: monotonic, self-healing (a probe
  * that advances rewrites it), re-verified by [[vacuum]] before it
  * truncates history — head resolution stays O(1) filesystem ops
  * amortized at any commit count. Appends carry a SCHEMA CONTRACT:
  * each manifest pins the committed StructType; an append merges
  * against it (same-name columns must keep their type — loud
  * rejection, never a silent fork) and readers scan with the pinned
  * schema, so old versions keep their own narrower shape with zero
  * footer-merge cost. Every scan is built from the manifest's file list
  * ([[scanOf]]): no read, merge or delete lists a directory.
  */
object Snapshots {

  private def fs(s: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def headPath(root: String) = new Path(s"$root/HEAD")

  /** Current committed version; 0 = no snapshot yet. HEAD is a HINT
    * (see [[advanceHead]]): the manifest publish is the commit point,
    * so versions committed past a stale hint — a crash between publish
    * and advance, or a slower writer's older advance landing last —
    * are found by probing manifests FORWARD from it.
    */
  def headVersion(s: SparkSession, root: String): Int = {
    val f = fs(s, root)
    val hint = readHint(f, root)
    var v = hint
    while (f.exists(new Path(s"$root/manifests/v${v + 1}.json"))) v += 1
    // SELF-HEALING pointer (the `_last_checkpoint` discipline): a hint
    // left stale by a crash between publish and advance, or by an older
    // concurrent advance landing last, would tax EVERY future probe by
    // the gap — rewrite it to the probed head so resolution stays O(1)
    // amortized however many thousands of commits the table accretes.
    // Best-effort: a read-only caller without write permission still
    // resolves, just without repairing the hint.
    if (v > hint)
      try advanceHead(s, f, root, v) catch {
        // best-effort ONLY for expected repair failures: interruption
        // re-flags the thread (the read still resolves), and fatal
        // errors (OOM, linkage) propagate instead of being swallowed
        case _: InterruptedException => Thread.currentThread().interrupt()
        case scala.util.control.NonFatal(_) => ()
      }
    v
  }

  /** The persisted HEAD hint (0 when absent or unreadable). A hint of
    * 0 is always SAFE — the probe just walks from the start — so a
    * read that races a concurrent overwriting rename (on Hadoop's
    * checksummed local fs the data file and its .crc sidecar move in
    * two steps, so a mid-rename reader can see a checksum mismatch)
    * retries briefly and then degrades to the full probe instead of
    * failing the read path.
    */
  private def readHint(f: FileSystem, root: String): Int = {
    val hf = hintFs(f)
    var attempts = 0
    while (true) {
      try {
        if (!hf.exists(headPath(root))) return 0
        val in = hf.open(headPath(root))
        val txt =
          try scala.io.Source.fromInputStream(in).mkString.trim
          finally in.close()
        return if (txt.isEmpty) 0 else txt.toInt
      } catch {
        case _: java.io.IOException | _: NumberFormatException =>
          attempts += 1
          if (attempts >= 3) return 0
          Thread.sleep(5L * attempts)
      }
    }
    0 // unreachable
  }

  /** HEAD is the one MUTABLE file in the layout, so its IO must bypass
    * Hadoop's ChecksumFileSystem on local disks: an overwriting rename
    * there moves the data file and its .crc sidecar in TWO steps, and a
    * concurrent reader in the window sees new bytes verified against
    * the old checksum (a spurious ChecksumException under exactly the
    * write-heavy contention OCC is for). Immutable files (manifests,
    * data) never hit this — they are written once and linked, never
    * overwritten.
    */
  private def hintFs(f: FileSystem): FileSystem = f match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  /** Writer-unique suffix for data/sidecar dirs and tmp files — two
    * concurrent committers must never target the same physical paths.
    */
  private def token(): String =
    java.util.UUID.randomUUID().toString.take(8)

  /** Append `df` as the next snapshot; returns the new version. The
    * data lands ONCE under a writer-unique dir; the manifest publish is
    * the commit point, CAS-retried on contention (the parent state is
    * re-read per attempt, so a losing writer rebases on the winner's).
    */
  def commit(s: SparkSession, root: String, df: DataFrame): Int = {
    // an append extends the PARENT MANIFEST (not "dirs 1..v" by
    // convention — a delete commit contributes no data dir, a replace
    // swapped the set) and carries its deletion vectors forward: new
    // files can't be referenced by any DV (their ordinals are past every
    // position a sidecar names), and rows already deleted must STAY
    // deleted
    val data = writeData(s, root, df, None)
    retryCommit(s, root) { v =>
      // the schema contract rebases per attempt too: the parent the
      // loser merges against is the RACE WINNER's committed schema. A
      // PRE-CONTRACT parent (manifest without a schema key) anchors on
      // the schema its data actually reads as — otherwise the first
      // post-upgrade append would pin the contract as its own schema,
      // silently narrowing away columns (and bypassing the type-fork
      // check) for every HEAD reader after it.
      val parent = manifest(s, root, v - 1)
      val merged = parent.schema.orElse(inferredSchemaOf(s, parent))
        .fold(df.schema)(p => mergeSchemas(p, df.schema))
      parent.copy(dirs = parent.dirs :+ data.dir,
        files = Some(parent.dataFiles ++ data.files), schema = Some(merged),
        recorded = Some(parent.counts(s).add(data.rows, 0)))
    }
  }

  /** Commit `df` as the next snapshot whose manifest lists ONLY the new
    * data dir — the REPLACE form the manifest design anticipated: each
    * version is a full materialized state (st12's CDC merge), not an
    * append. Same write-once discipline, but the CAS is SINGLE-SHOT: a
    * replacement is computed FROM a specific base state, so losing the
    * race to any concurrent commit means the replacement is stale —
    * re-stamping it at the next version would silently drop the
    * winner's rows (the lost-update an append's rebase loop cannot
    * have, because an append re-reads the parent manifest per
    * attempt). The loser's never-referenced data dir is removed and
    * [[SnapshotConflictException]] raised; the caller re-derives from
    * the new head and retries ([[compact]] does exactly that).
    */
  def commitReplace(s: SparkSession, root: String, df: DataFrame): Int =
    replaceAt(s, root, headVersion(s, root), df, None)

  /** Publish `df` as version `base`+1 replacing all prior state, iff
    * the table is still at `base`. Package-private so specs can force
    * the conflict path deterministically.
    */
  private[graft] def replaceAt(s: SparkSession, root: String, base: Int,
      df: DataFrame, maxRecordsPerFile: Option[Long]): Int = {
    val data = writeData(s, root, df, maxRecordsPerFile)
    if (tryPublishManifest(s, root, base + 1, Manifest(Seq(data.dir),
        Some(data.files), Seq.empty, Seq.empty, Some(df.schema),
        Some(Counts(data.rows, 0)))))
      base + 1
    else {
      // this dir was never referenced by any manifest: safe to drop
      // eagerly instead of waiting out vacuumOrphans' age horizon
      fs(s, root).delete(new Path(data.dir), true)
      throw new SnapshotConflictException(
        s"replace commit at $root lost the race for v${base + 1}: a " +
          s"concurrent commit landed after this writer read v$base — " +
          "re-derive the replacement from the new head and retry")
    }
  }

  /** The one data write of any commit: ONCE, outside the CAS loop —
    * the dir name carries no version, so a lost append race re-stamps
    * only the manifest. A crashed attempt leaves an unreferenced,
    * invisible dir (vacuumOrphans' job), never a half-visible table.
    */
  private val DUP_MARKER = "graft-merge-dup: "

  /** Attach the MERGE family's duplicate-source-key refusal to the
    * source frame itself instead of running it as a separate eager
    * `groupBy().count()` job per merge (r14's "third job per merge"
    * finding — measurable at nightly-delta cadence). A key-partitioned
    * window count rides the data-dir WRITE: every source row must flow
    * through the write, so the raise_error guard is evaluated
    * row-by-row and cannot be skipped by a lazily-consumed join side
    * (a semi-join-side check WOULD be skippable — sort-merge join
    * consumes its right side only as far as the left reaches). The
    * window's key shuffle is the same |source|-sized shuffle the eager
    * job did, now folded into the write — one fewer job, and the
    * written files come out clustered by merge key as a side effect.
    * The raised error surfaces through [[rethrowDup]] as the same
    * IllegalArgumentException the eager check threw.
    */
  private def dupValidated(source: DataFrame, keyCols: Seq[String],
      op: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
    source.withColumn("_graft_kn", count(lit(1)).over(w))
      .filter(coalesce(
        when(col("_graft_kn") > 1, raise_error(lit(
          s"$DUP_MARKER$op source carries duplicate keys on " +
            s"(${keyCols.mkString(", ")}) - latest-wins needs at most " +
            "one source row per key")).cast("boolean")),
        lit(true)))
      .drop("_graft_kn")
  }

  /** Unwrap a [[dupValidated]] refusal from Spark's task-failure
    * nesting back into the MERGE contract's IllegalArgumentException;
    * anything else rethrows untouched.
    */
  private def rethrowDup(t: Throwable): Nothing = {
    var c: Throwable = t
    while (c != null) {
      val m = c.getMessage
      if (m != null && m.contains(DUP_MARKER))
        throw new IllegalArgumentException(
          m.substring(m.indexOf(DUP_MARKER) + DUP_MARKER.length))
      c = c.getCause
    }
    throw t
  }

  private def writeData(s: SparkSession, root: String, df: DataFrame,
      maxRecordsPerFile: Option[Long]): Listed =
    writeTo(s, s"$root/data/w${token()}", df, maxRecordsPerFile)

  /** Write `df` as parquet into `dir`, then list what landed: the only
    * directory listing a commit makes is of the dir it just wrote.
    */
  private def writeTo(s: SparkSession, dir: String, df: DataFrame,
      maxRecordsPerFile: Option[Long] = None): Listed = {
    val w = df.write.mode("overwrite")
    maxRecordsPerFile.fold(w)(n => w.option("maxRecordsPerFile", n))
      .parquet(dir)
    Listed(dir, listDir(s, dir))
  }

  /** The optimistic-concurrency loop of an append: derive the next
    * version from the CURRENT head, publish its manifest exclusively;
    * exactly one concurrent writer wins each version number — a loser
    * re-invokes `manifestFor`, which re-reads the parent state (the
    * rebase), and retries at the next version.
    */
  private def retryCommit(s: SparkSession, root: String)
      (manifestFor: Int => Manifest): Int = {
    var attempts = 0
    while (true) {
      val v = headVersion(s, root) + 1
      if (tryPublishManifest(s, root, v, manifestFor(v))) return v
      attempts += 1
      require(attempts < 64,
        s"commit contention at $root: lost $attempts CAS races")
    }
    -1 // unreachable
  }

  /** Publish manifest v iff nobody else has: full content goes to a
    * writer-unique tmp file first, then ONE atomic create-if-absent
    * link/rename makes it visible — a reader can never observe a
    * partial manifest, and exactly one of N racing writers returns
    * true. On success the HEAD hint advances (best-effort).
    */
  private def tryPublishManifest(s: SparkSession, root: String, v: Int,
      m: Manifest): Boolean = {
    val f = fs(s, root)
    val mTmp = new Path(s"$root/manifests/v$v.json.tmp-${token()}")
    val mFin = new Path(s"$root/manifests/v$v.json")
    writeFile(f, mTmp, m.toJson(v))
    val won = linkExclusive(f, mTmp, mFin)
    f.delete(mTmp, false)
    if (won) advanceHead(s, f, root, v)
    won
  }

  /** Atomic create-if-absent publish — the CAS primitive. Local fs: a
    * hard link (link(2) is O_EXCL-atomic; POSIX rename(2) silently
    * OVERWRITES, so it cannot arbitrate a race). HDFS-semantics
    * stores: FileSystem.rename, which fails when the destination
    * exists. Object stores without either need an external lock/log
    * service (documented, out of scope — same caveat as Delta's
    * S3 LogStore).
    */
  private def linkExclusive(f: FileSystem, src: Path, dst: Path): Boolean =
    if (f.getScheme == "file") {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(src.toUri.getPath))
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else !f.exists(dst) && f.rename(src, dst)

  /** Advance the HEAD hint to v via an OVERWRITING rename — never
    * delete-then-rename, which would open a no-HEAD window where a
    * concurrent headVersion() pays a full forward probe from 0. HEAD
    * is a hint, not the commit point: a crash before this line is a
    * COMPLETED commit (the manifest is published) whose hint lags, and
    * headVersion's probe finds it.
    */
  private def advanceHead(s: SparkSession, f: FileSystem, root: String,
      v: Int): Unit =
    // MONOTONIC: re-read before writing so a slower writer's older
    // advance (the documented stale-hint source) is usually dropped
    // here instead of landing last. The check-then-rename window
    // remains (HEAD is a hint, not the commit point) — headVersion's
    // self-heal and vacuum's pre-truncation re-verification close the
    // only path where a stale hint could strand readers.
    if (readHint(f, root) < v) {
      val hf = hintFs(f)
      val hTmp = new Path(s"$root/HEAD.tmp-${token()}")
      writeFile(hf, hTmp, v.toString)
      renameOver(s, hf, hTmp, headPath(root))
      // a pre-raw-IO root may carry a stale .HEAD.crc sidecar that
      // would fail any checksummed reader — retire it
      val crc = new Path(s"$root/.HEAD.crc")
      if (hf.exists(crc)) hf.delete(crc, false)
    }

  /** Atomic overwriting rename. FileContext carries the OVERWRITE
    * rename option the FileSystem API lacks; fall back to
    * delete+rename only on stores without a FileContext binding (the
    * degraded path keeps working, minus the no-HEAD-window guarantee).
    */
  private def renameOver(s: SparkSession, f: FileSystem, src: Path,
      dst: Path): Unit =
    if (f.getUri.getScheme == "file")
      // POSIX rename(2): one atomic syscall, no sidecar second step —
      // FileContext's local binding is ChecksumFs, whose OVERWRITE
      // rename moves data then crc (two steps a concurrent reader can
      // land between)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(src.toUri.getPath),
        java.nio.file.Paths.get(dst.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    else try {
      org.apache.hadoop.fs.FileContext
        .getFileContext(dst.toUri, s.sparkContext.hadoopConfiguration)
        .rename(src, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: UnsupportedOperationException =>
        f.delete(dst, false)
        require(f.rename(src, dst), s"rename $src -> $dst failed")
    }

  private def writeFile(f: FileSystem, p: Path, content: String): Unit = {
    val out = f.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** Read a pinned snapshot (or HEAD when `version` is None). The
    * returned frame's scan lists exactly the manifest's files —
    * immutable files, so the frame is stable however long the reader
    * holds it and whatever commits land meanwhile.
    */
  def read(s: SparkSession, root: String, version: Option[Int] = None)
      : DataFrame = {
    val v = version.getOrElse(headVersion(s, root))
    require(v > 0, s"no snapshot at $root")
    // the manifest's committed schema IS the read schema: a pinned
    // reader sees exactly what its version committed (dirs written
    // before a later column existed surface it as null), and the scan
    // never pays a mergeSchema footer sweep — at 100 TB schema comes
    // from one manifest read, not a million file footers. Pre-contract
    // manifests (no schema field) fall back to footer inference. Files,
    // sidecars and schema come from ONE manifest read, and the scan is
    // built from its file list: no directory listing, no listing job
    // however many commits the table holds.
    live(s, manifest(s, root, v))
  }

  /** A manifest's live rows: its data scan minus its sidecars. */
  private def live(s: SparkSession, m: Manifest): DataFrame =
    if (!m.hasDvs) m.scan(s).drop(FILE)
    else minusDvs(s, m, positioned(s, m)).drop(POS, FILE)

  /** The hidden partition column every [[scanOf]] carries: the row's
    * file ordinal in the scanned list.
    */
  private val FILE = "_graft_file"

  /** A row's position in its version: file ordinal << [[ROW_BITS]] |
    * parquet row index. One BIGINT, so the sidecar anti-join hashes a
    * long, not a file-path string.
    */
  private val POS = "_graft_pos"
  private val ROW_BITS = 40
  private val MAX_FILES = 1 << (63 - ROW_BITS)

  /** HEAD's data scan with each row's [[POS]]. Positions stay valid for
    * as long as a sidecar can name them: an append and a sidecar commit
    * only extend the file list, and the commits that renumber it (a
    * rewrite, a replace, a compaction) publish no sidecars. Past 2^23
    * files or 2^40 rows in one file a position would not fit: refused,
    * never wrapped.
    */
  private def positioned(s: SparkSession, m: Manifest): DataFrame = {
    require(m.dataFiles.size <= MAX_FILES,
      s"${m.dataFiles.size} files: row positions need fewer than 2^23 " +
        "per version — compact the table")
    m.dataFiles.find(_.rows > (1L << ROW_BITS)).foreach { f =>
      throw new IllegalArgumentException(s"${f.path} holds ${f.rows} rows: " +
        "row positions need fewer than 2^40 per file")
    }
    m.scan(s).withColumn(POS, shiftleft(col(FILE), ROW_BITS)
      .bitwiseOR(col("_metadata.row_index")))
  }

  /** Sidecars' fixed schemas: a position per dead row, and the legacy
    * (file, row-position) pair that sidecars written before positions
    * existed hold.
    */
  private val DV_SCHEMA = StructType(Seq(StructField("pos", LongType)))
  private val PATH_DV_SCHEMA =
    StructType.fromDDL("file_path STRING, row_index BIGINT")

  /** THE deletion-vector application rule — anti-join the sidecars'
    * positions out of a [[positioned]] scan. The sidecars hold ONLY dead
    * positions, so they broadcast as a long-keyed hash relation. They
    * are read with their fixed schema (no footer-inference job) and NOT
    * de-duplicated: a left-anti join only asks whether a build row
    * exists, so a duplicate changes nothing, and a distinct would add a
    * shuffle over every sidecar on each read. One definition shared by
    * [[read]] and the MERGE / delete candidate scans, so the
    * merge-on-read semantics cannot fork between them.
    */
  private def minusDvs(s: SparkSession, m: Manifest, scan: DataFrame)
      : DataFrame =
    if (!m.hasDvs) scan
    else scan.join(broadcast(deadPositions(s, m).toDF("_dv_pos")),
      col(POS) === col("_dv_pos"), "left_anti")

  /** Every position a manifest's sidecars name. Legacy path-keyed
    * sidecars are translated through a tiny (file_path -> ordinal) table
    * whose paths are spelled as `_metadata.file_path` spelled them when
    * the sidecar was written; the version's next rewrite drops them.
    */
  private def deadPositions(s: SparkSession, m: Manifest): DataFrame = {
    val current = m.sidecars.flatMap(_.files)
    val legacy = m.pathDvs.flatMap(listDir(s, _))
    val parts =
      (if (current.isEmpty) Nil
       else Seq(scanOf(s, current, Some(DV_SCHEMA)).select(col("pos")))) ++
      (if (legacy.isEmpty) Nil
       else {
         val ordinals = s.createDataFrame(m.dataFiles.zipWithIndex.map {
           case (f, i) => (scannedPath(s, f.path), i.toLong)
         }).toDF("file_path", "_graft_ord")
         Seq(scanOf(s, legacy, Some(PATH_DV_SCHEMA))
           .join(broadcast(ordinals), "file_path")
           .select(shiftleft(col("_graft_ord"), ROW_BITS)
             .bitwiseOR(col("row_index")).as("pos")))
       })
    parts.reduceOption(_ unionByName _)
      .getOrElse(s.range(0).select(col("id").as("pos")))
  }

  /** What one row-removing commit takes out of HEAD's live rows: it
    * adds the boolean column [[DOOMED]] to the candidate scan, true on
    * the rows the commit removes. The sidecar takes the rows where it is
    * true, a rewrite keeps the rest (`NOT coalesce(DOOMED, false)`), so
    * the two split the live rows by ONE definition — a predicate's
    * complement is not its negation when it can be NULL.
    */
  private type Removal = DataFrame => DataFrame
  private val DOOMED = "_graft_doomed"

  /** The MERGE removal: live rows whose key is among `keys`. A left
    * outer join, so each key appears once in `keys`: the merge verbs
    * read them back from a dir their dup refusal wrote.
    */
  private def byKeys(keys: DataFrame, keyCols: Seq[String]): Removal =
    _.join(keys.withColumn(DOOMED, lit(true)), keyCols, "left_outer")

  /** The keys a merge wrote, read back from its data dir: the source is
    * evaluated once, so even a nondeterministic source removes exactly
    * the keys it appended.
    */
  private def keysOf(s: SparkSession, data: Listed, schema: StructType,
      keyCols: Seq[String]): DataFrame =
    scanOf(s, data.files, Some(schema)).select(keyCols.map(col): _*)

  /** THE commit loop of every verb that removes rows ([[deleteWhere]],
    * [[mergeInto]], [[mergeIntoVersioned]]) and the one place the debt
    * rule ([[Counts.due]]) picks how the removal lands:
    *
    *  - a sidecar of the doomed rows' positions, over HEAD's unchanged
    *    data files (merge-on-read), while the counts it leaves are not
    *    due;
    *  - otherwise a rewrite: HEAD's live rows the removal keeps, written
    *    as one new data dir that replaces every dir and sidecar of HEAD.
    *
    * A merge into a key-unique table removes at most one row per row it
    * adds, so when even that many would bring the debt due the commit
    * rewrites at once. Otherwise it writes the sidecar first, and its
    * footer count gives the counts the commit would leave; if those are
    * due (a delete, or a merge into a table with duplicate keys) the
    * sidecar is deleted and the commit rewrites instead. So every
    * commit leaves fewer dead rows than live ones, or an empty table,
    * and a rewrite writes at most the dead rows it clears plus the rows
    * the commit adds.
    *
    * Either way the commit's own data dir (if any) joins the SAME
    * manifest publish, so the verb stays one version; its files go at
    * the end of the list, after the files the sidecar names. `edit` runs
    * per attempt against the head the CAS asserts and returns that dir,
    * the removal and the schema to pin; with `ownsAdded` the dir was
    * written per attempt. A failed or lost attempt deletes every file it
    * wrote, and a lost CAS race re-decides from the new head (a
    * concurrent compaction renumbers positions, a concurrent delete
    * changes what is dead). The counts come from the parent's plus the
    * footers of the files this commit wrote: no Spark job.
    */
  private def commitRemoving(s: SparkSession, root: String, op: String,
      ownsAdded: Boolean)
      (edit: Manifest => (Option[Listed], Removal, Option[StructType]))
      : Int = {
    val f = fs(s, root)
    def drop(paths: Seq[String]): Unit =
      paths.foreach(p => f.delete(new Path(p), true))
    var attempts = 0
    while (true) {
      val head = headVersion(s, root)
      require(head > 0, s"no snapshot at $root — bootstrap with commit()")
      val m = manifest(s, root, head)
      val (added, removal, schema) = edit(m)
      val dv = s"$root/dv/w${token()}"
      val dir = s"$root/data/w${token()}"
      val written = Seq(dv, dir) ++
        (if (ownsAdded) added.map(_.dir).toSeq else Nil)
      val next =
        try {
          // the candidate scan carries its own positions (_metadata is
          // a scan column, not a join output), with earlier sidecars
          // anti-joined out so an already-dead row never re-records
          val table = positioned(s, m)
          val flagged = removal(minusDvs(s, m, table))
          val parent = m.counts(s)
          val addedFiles = added.toSeq.flatMap(_.files)
          val addedRows = added.fold(0L)(_.rows)
          val sidecar =
            if (parent.add(addedRows, addedRows).due) None
            else Some(writeTo(s, dv,
              flagged.filter(col(DOOMED)).select(col(POS).as("pos"))))
              .filterNot(sc => parent.add(addedRows, sc.rows).due)
          sidecar match {
            case Some(sc) =>
              m.copy(dirs = m.dirs ++ added.map(_.dir),
                files = Some(m.dataFiles ++ addedFiles),
                sidecars = m.sidecars :+ sc, schema = schema,
                recorded = Some(parent.add(addedRows, sc.rows)))
            case None =>
              val kept = writeTo(s, dir,
                flagged.filter(!coalesce(col(DOOMED), lit(false)))
                  .select(table.columns.filterNot(Set(FILE, POS)).map(col): _*))
              drop(Seq(dv))
              Manifest(dir +: added.map(_.dir).toSeq,
                Some(kept.files ++ addedFiles), Seq.empty, Seq.empty, schema,
                Some(Counts(kept.rows + addedRows, 0)))
          }
        } catch { case t: Throwable => drop(written); throw t }
      if (tryPublishManifest(s, root, head + 1, next)) return head + 1
      drop(written)
      attempts += 1
      require(attempts < 64,
        s"$op contention at $root: lost $attempts CAS races")
    }
    -1 // unreachable
  }

  /** DELETE — rows matching `cond` at HEAD leave the table in one
    * commit, without touching any file an older version lists. While the
    * table's dead rows are fewer than its live ones the delete is
    * merge-on-read: a sidecar of the rows' positions over the SAME
    * immutable data files, so deleting 100 rows from a
    * large table costs one small parquet write. Once dead rows would
    * reach the live count, the delete instead writes the rows it keeps
    * as one new data dir and drops every sidecar ([[commitRemoving]]):
    * each rewrite costs at most one written row per dead row, and no
    * commit leaves a HEAD that scans twice its live rows, however many
    * merges and deletes the table has taken. Rows where `cond` is NULL
    * stay, as SQL's DELETE keeps them. Pinned readers of older versions
    * are untouched either way. The erasure story: deleteWhere removes a
    * row from HEAD at once; its bytes leave the files HEAD lists at the
    * next rewrite (or an explicit [[compact]]); [[vacuum]] then destroys
    * the historical files that still hold it.
    */
  def deleteWhere(s: SparkSession, root: String, cond: Column): Int =
    // a delete changes no columns: the parent's committed schema
    // carries forward verbatim
    commitRemoving(s, root, "deleteWhere", ownsAdded = false) { m =>
      (None, _.withColumn(DOOMED, cond), m.schema)
    }

  /** MERGE INTO — latest-wins upsert as ONE atomic commit: table rows
    * whose merge key appears in `source` are removed and the whole
    * `source` appends as a new data dir, BOTH listed by the same
    * manifest publish, so a reader sees the pre-merge or the fully-
    * merged state, never an intermediate. That single commit point is
    * what a deleteWhere-then-commit pair cannot give: a crash between
    * the two leaves matched rows deleted with their replacements never
    * landed. Matched → replace, not-matched → insert (the Delta/Iceberg
    * MERGE in its latest-wins form — [[RoundTrip.src08]] is the
    * read-time view of the same rule, [[commitReplace]] the full-rewrite
    * form). The source must carry at most one row per key (both would
    * survive the merge — refused loudly, src08's documented contract).
    *
    * The removal follows [[deleteWhere]]'s bound: a sidecar while dead
    * rows stay fewer than live ones, else a rewrite of the live rows the
    * merge does not replace into one dir, in the same commit. The data
    * dir is written ONCE, outside the CAS loop, and `source` is
    * evaluated exactly once: the matched keys are read back from the
    * written dir. Cost per merge: one key-column scan of the table (or,
    * when the debt is due, one rewrite of the live rows — at most the
    * rows the merges before it removed plus its own) + |source|
    * written. The written key set is small in the nightly-delta case,
    * so it broadcasts and the table scan is not shuffled.
    */
  def mergeInto(s: SparkSession, root: String, source: DataFrame,
      keyCols: Seq[String]): Int = {
    require(keyCols.nonEmpty, "mergeInto needs at least one key column")
    // duplicate source keys would BOTH survive the merge — refused
    // loudly, but the check rides the data-dir write (dupValidated)
    // instead of costing its own job
    val data =
      try writeData(s, root, dupValidated(source, keyCols, "mergeInto"), None)
      catch { case t: Throwable => rethrowDup(t) }
    val removal = byKeys(keysOf(s, data, source.schema, keyCols), keyCols)
    commitRemoving(s, root, "mergeInto", ownsAdded = false) { m =>
      (Some(data), removal, Some(mergedSchema(s, m, source)))
    }
  }

  /** Versioned MERGE — [[mergeInto]] for OUT-OF-ORDER feeds: a matched
    * target row is replaced only when the source row wins by
    * `versionCol` (ties go to the source: an equal-version replay
    * re-applies idempotently — convergent, and a genuinely conflicting
    * equal-version pair is the feed's own ambiguity, resolved
    * deterministically); a source row that LOSES to the live row is
    * dropped entirely, so a late replay of older history cannot
    * clobber newer state — the resurrection bug st15 documents, closed
    * at the table layer instead of by the in-order-feed contract plain
    * mergeInto (and st17) rely on. The table must be key-unique (any
    * table maintained by merges from a key-unique base is). Unlike
    * mergeInto, the winning-rows data dir depends on the head it was
    * computed against, so it is (re)written per CAS attempt and a lost
    * attempt deletes it. The winners' keys, read back from that dir,
    * are what the commit removes — by sidecar or by rewrite, under
    * [[deleteWhere]]'s bound on dead rows.
    */
  def mergeIntoVersioned(s: SparkSession, root: String, source: DataFrame,
      keyCols: Seq[String], versionCol: String): Int = {
    require(keyCols.nonEmpty, "mergeIntoVersioned needs a key column")
    require(!keyCols.contains(versionCol),
      s"'$versionCol' cannot be both merge key and version")
    commitRemoving(s, root, "mergeIntoVersioned", ownsAdded = true) {
      m =>
        // the schema check first: a refused type fork leaves no dir
        val schema = mergedSchema(s, m, source)
        val losers = live(s, m)
          .select(keyCols.map(col) :+ col(versionCol).as("_tgt_v"): _*)
          .join(source.select(
            keyCols.map(col) :+ col(versionCol).as("_src_v"): _*), keyCols)
          .filter(col("_src_v") < col("_tgt_v"))
          .select(keyCols.map(col): _*)
        // the dup refusal rides this write (dupValidated — reduce to the
        // max-version row per key upstream); every source row is checked
        // because the anti-join consumes its full probe side
        val data =
          try writeData(s, root,
            dupValidated(source, keyCols, "mergeIntoVersioned")
              .join(losers, keyCols, "left_anti"), None)
          catch { case t: Throwable => rethrowDup(t) }
        (Some(data), byKeys(keysOf(s, data, source.schema, keyCols), keyCols),
          Some(schema))
    }
  }

  /** Same contract rule as commit(): a merge's source merges against the
    * parent's committed (or, pre-contract, inferred) schema.
    */
  private def mergedSchema(s: SparkSession, m: Manifest, source: DataFrame)
      : StructType =
    m.schema.orElse(inferredSchemaOf(s, m))
      .fold(source.schema)(p => mergeSchemas(p, source.schema))

  /** Oldest version whose manifest is still resolvable — the retention
    * floor [[vacuum]] leaves behind (head+1 when nothing is committed).
    * Incremental consumers anchor on this: a delta for v needs BOTH
    * v-1 and v resolvable, so the oldest drainable version is floor+1
    * (or 1 while the floor is still 1 — v0 is the synthetic empty
    * bootstrap manifest).
    */
  private[graft] def oldestVersion(s: SparkSession, root: String): Int = {
    val f = fs(s, root)
    val head = headVersion(s, root)
    (1 to head).find(v => f.exists(new Path(s"$root/manifests/v$v.json")))
      .getOrElse(head + 1)
  }

  /** One version's manifest, parsed from ONE read: the data dirs
    * (v0 = the empty table — the bootstrap anchor for
    * [[changesBetween]]), the data files in ordinal order, the position
    * sidecars, legacy path-keyed sidecars, the committed schema and the
    * row [[Counts]]. Every key but "dirs" is optional, so manifests
    * written before sidecars, the schema contract, counts or file lists
    * parse unchanged (None / empty). The file order is the ordinal a
    * sidecar position names: an append and a sidecar commit extend the
    * parent's list at the end; a rewrite, replace or compaction may
    * renumber it because it publishes no sidecars. A manifest without a
    * file list gets one from [[legacyFiles]], recorded by its next
    * commit.
    */
  private[graft] final case class Manifest(dirs: Seq[String],
      files: Option[Seq[DataFile]], sidecars: Seq[Listed],
      pathDvs: Seq[String], schema: Option[StructType],
      recorded: Option[Counts]) {
    /** The data files, once [[manifest]] has resolved a legacy list. */
    def dataFiles: Seq[DataFile] =
      files.getOrElse(throw new IllegalStateException(
        s"manifest over ${dirs.mkString(", ")} has no file list"))

    def hasDvs: Boolean = sidecars.nonEmpty || pathDvs.nonEmpty

    /** The version's data scan, read with the pinned schema when there
      * is one (no footer-inference job); pre-contract manifests infer.
      */
    def scan(s: SparkSession): DataFrame = scanOf(s, dataFiles, schema)

    /** The recorded counts; a manifest written before counts existed
      * gets them from the footers of its own files (the next commit
      * records them, so that happens once per legacy head).
      */
    def counts(s: SparkSession): Counts =
      recorded.getOrElse(Counts(dataFiles.map(_.rows).sum,
        (sidecars.flatMap(_.files) ++ pathDvs.flatMap(listDir(s, _)))
          .map(_.rows).sum))

    /** One JSON object, written with json4s: any character a path may
      * hold (`]`, `"`, a space) round-trips. The schema stays base64 of
      * its canonical JSON, the form every earlier manifest carries.
      * "dvs" keeps its old meaning, path-keyed sidecars.
      */
    def toJson(version: Int): String = {
      def strings(xs: Seq[String]) = JArray(xs.map(JString(_)).toList)
      def listing(fs: Seq[DataFile]) = JArray(fs.map(f => JObject(
        "path" -> JString(f.path), "size" -> JLong(f.size),
        "rows" -> JLong(f.rows))).toList)
      JsonMethods.compact(JsonMethods.render(JObject(List(
        "version" -> JInt(version), "dirs" -> strings(dirs)) ++
        files.map(fs => "files" -> listing(fs)) ++
        List("sidecars" -> JArray(sidecars.map(l => JObject(
          "dir" -> JString(l.dir), "files" -> listing(l.files))).toList)) ++
        (if (pathDvs.isEmpty) Nil else List("dvs" -> strings(pathDvs))) ++
        schema.map(sc => "schema" -> JString(java.util.Base64.getEncoder
          .encodeToString(sc.json.getBytes("UTF-8")))) ++
        recorded.toList.flatMap(c =>
          List("rows" -> JLong(c.rows), "dead" -> JLong(c.dead))))))
    }
  }

  private[graft] object Manifest {
    def parse(json: String): Manifest = {
      val m = JsonMethods.parse(json)
      def strings(v: JValue): Seq[String] = v match {
        case JArray(xs) => xs.collect { case JString(p) => p }
        case _ => Seq.empty
      }
      def long(v: JValue): Option[Long] = v match {
        case JInt(n) => Some(n.toLong)
        case JLong(n) => Some(n)
        case _ => None
      }
      def str(v: JValue): String = v match {
        case JString(p) => p
        case other => throw new IllegalArgumentException(s"manifest: $other")
      }
      def listing(v: JValue): Option[Seq[DataFile]] = v match {
        case JArray(xs) => Some(xs.map(f => DataFile(str(f \ "path"),
          long(f \ "size").get, long(f \ "rows").get)))
        case _ => None
      }
      Manifest(strings(m \ "dirs"), listing(m \ "files"),
        m \ "sidecars" match {
          case JArray(xs) => xs.map(l =>
            Listed(str(l \ "dir"), listing(l \ "files").getOrElse(Seq.empty)))
          case _ => Seq.empty
        },
        strings(m \ "dvs"),
        m \ "schema" match {
          case JString(b64) => Some(org.apache.spark.sql.types.DataType
            .fromJson(new String(java.util.Base64.getDecoder.decode(b64),
              "UTF-8")).asInstanceOf[StructType])
          case _ => None
        },
        for (r <- long(m \ "rows"); d <- long(m \ "dead")) yield Counts(r, d))
    }
  }

  /** A version's merge-on-read debt: `rows` physical rows across its
    * data dirs, `dead` of them named by its sidecars. Sidecar pairs are
    * unique (every candidate scan anti-joins the earlier sidecars out
    * first), so `rows - dead` is the live row count.
    */
  private[graft] final case class Counts(rows: Long, dead: Long) {
    def live: Long = rows - dead
    def add(rows: Long, dead: Long): Counts =
      Counts(this.rows + rows, this.dead + dead)
    /** THE rewrite rule: a row-removing commit whose sidecar would
      * leave dead rows matching live ones rewrites the live rows
      * instead. A rewrite writes at most one row per dead row, and no
      * commit leaves a HEAD that scans twice its live rows — the
      * array-doubling amortization, so the ratio is a constant, not a
      * setting.
      */
    def due: Boolean = dead >= live
  }

  /** One parquet file a manifest lists: its path under one of the
    * manifest's dirs, its exact byte length (the reader finds the footer
    * from it) and its row count, read once from that footer.
    */
  private[graft] final case class DataFile(path: String, size: Long,
      rows: Long)

  /** A dir and the files it holds, listed once, right after its write. */
  private[graft] final case class Listed(dir: String, files: Seq[DataFile]) {
    def rows: Long = files.map(_.rows).sum
  }

  /** The parquet files of one dir, by name, with their footer row
    * counts: driver-side, no Spark job. Skips what Spark's own listing
    * skips (`_SUCCESS`, `.crc`).
    */
  private def listDir(s: SparkSession, dir: String): Seq[DataFile] = {
    val conf = s.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    p.getFileSystem(conf).listStatus(p).toSeq
      .filter { st =>
        val n = st.getPath.getName
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(_.getPath.getName)
      .map { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try DataFile(s"$dir/${st.getPath.getName}", st.getLen, r.getRecordCount)
        finally r.close()
      }
  }

  /** The schema Spark's non-merging inference gives `path`, read on the
    * driver from the footer it reads (the file, or a dir's first data
    * file by name, `_*` and `.*` skipped): Spark's own schema key if
    * written, else the session's converter (`nanosAsLong`, NTZ). No job.
    */
  private[graft] def footerSchema(s: SparkSession, path: String): StructType = {
    val conf = s.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val file = fs.listStatus(p).filter { f =>
      val n = f.getPath.getName
      f.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.minByOption(_.getPath.getName)
      .getOrElse(throw new IllegalArgumentException(s"no parquet file at $path"))
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    val meta = try r.getFooter.getFileMetaData finally r.close()
    Option(meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(new ParquetToSparkSchemaConverter(s.sessionState.conf)
        .convert(meta.getSchema))
  }

  /** The file list of a manifest written before manifests listed files:
    * one driver-side listing of its dirs, sorted by path. The first
    * commit over it records this order.
    */
  private def legacyFiles(s: SparkSession, dirs: Seq[String]): Seq[DataFile] =
    dirs.flatMap(listDir(s, _)).sortBy(_.path)

  private def qualified(s: SparkSession, path: String): Path = {
    val p = new Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).makeQualified(p)
  }

  /** A file's path as `_metadata.file_path` reports it, the key of a
    * legacy sidecar: the qualified URI, escaped, without an empty
    * authority (`file:/a%20b/f`, where the qualified path reads
    * `file:///a%20b/f`).
    */
  private def scannedPath(s: SparkSession, path: String): String = {
    val u = qualified(s, path).toUri
    new java.net.URI(u.getScheme, Option(u.getAuthority).filter(_.nonEmpty)
      .orNull, u.getPath, u.getQuery, u.getFragment).toString
  }

  /** THE scan of listed parquet files: `schema` (or, pre-contract, the
    * inferred one) plus the hidden long partition column [[FILE]], each
    * file's ordinal in `files`. Built from the list alone — no
    * directory listing, so no parallel-listing job at any file count.
    */
  private def scanOf(s: SparkSession, files: Seq[DataFile],
      schema: Option[StructType]): DataFrame = {
    val index = new ListedIndex(files.map(f =>
      new FileStatus(f.size, false, 1, 0L, 0L, qualified(s, f.path))))
    val format = new ParquetFileFormat
    val data = schema.getOrElse(format.inferSchema(s, Map.empty,
      index.statuses).getOrElse(throw new IllegalArgumentException(
        s"cannot infer a schema from ${files.size} files")))
    s.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      nullable(data).asInstanceOf[StructType], None, format, Map.empty)(s))
  }

  /** Every field nullable, as Spark's own file reader declares a read
    * schema: a file written before a column existed reads it as null.
    */
  private def nullable(t: DataType): DataType = t match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v), true)
    case other => other
  }

  /** One partition per file, valued by the file's ordinal. */
  private final class ListedIndex(val statuses: Seq[FileStatus])
      extends FileIndex {
    override val partitionSchema: StructType =
      StructType(Seq(StructField(FILE, LongType, nullable = false)))
    override def rootPaths: Seq[Path] =
      statuses.map(_.getPath.getParent).distinct
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val keep = partitionFilters.reduceOption(And).map(e =>
        Predicate.createInterpreted(e.transform {
          case _: AttributeReference => BoundReference(0, LongType, false)
        }))
      statuses.zipWithIndex.map { case (st, i) =>
        PartitionDirectory(InternalRow(i.toLong), Array(st))
      }.filter(d => keep.forall(_.eval(d.values)))
    }
    override def inputFiles: Array[String] =
      statuses.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = statuses.map(_.getLen).sum
  }

  /** A version's manifest, its file list resolved: a legacy manifest
    * gets one from [[legacyFiles]].
    */
  private[graft] def manifest(s: SparkSession, root: String, v: Int)
      : Manifest =
    if (v == 0) Manifest(Seq.empty, Some(Seq.empty), Seq.empty, Seq.empty,
      None, Some(Counts(0, 0)))
    else {
      val m = Manifest.parse(manifestOf(s, root, v))
      if (m.files.isDefined) m
      else m.copy(files = Some(legacyFiles(s, m.dirs)))
    }

  private[graft] def dirsOf(s: SparkSession, root: String, v: Int)
      : Seq[String] =
    if (v == 0) Seq.empty else Manifest.parse(manifestOf(s, root, v)).dirs

  /** Every sidecar dir of a version, position and legacy path-keyed. */
  private[graft] def dvDirsOf(s: SparkSession, root: String, v: Int)
      : Seq[String] =
    if (v == 0) Seq.empty
    else {
      val m = Manifest.parse(manifestOf(s, root, v))
      m.sidecars.map(_.dir) ++ m.pathDvs
    }

  private def manifestOf(s: SparkSession, root: String, v: Int): String = {
    val f = fs(s, root)
    val mp = new Path(s"$root/manifests/v$v.json")
    // loud, actionable failure — never a partial scan: a reader pinned
    // below the vacuum retention floor must learn WHY its version is
    // gone (RoundTripSpec pins this negative path)
    require(f.exists(mp), s"snapshot v$v at $root does not exist: " +
      "vacuumed below the retention floor, or never committed")
    val in = f.open(mp)
    try scala.io.Source.fromInputStream(in).mkString finally in.close()
  }

  /** Schema anchor for a PRE-CONTRACT parent (manifest without a
    * schema key): inferred ONCE from the version's files (footer
    * inference — pre-contract tables are small legacy tables by
    * definition; every contract-era commit pays one manifest read
    * instead). v0 and file-less parents have no data to anchor.
    */
  private def inferredSchemaOf(s: SparkSession, m: Manifest)
      : Option[StructType] =
    if (m.dataFiles.isEmpty) None else Some(m.scan(s).drop(FILE).schema)

  /** THE append compatibility rule: columns shared with the committed
    * schema must keep their exact type (a silent type fork would make
    * the same column read differently per file — rejected loudly; a
    * deliberate type change is a rewrite, i.e. [[commitReplace]]);
    * columns new to the table append. The merged schema becomes the
    * new committed contract, so an old pinned reader keeps its own
    * version's narrower schema while HEAD readers see the union.
    */
  private[graft] def mergeSchemas(parent: StructType, next: StructType)
      : StructType = {
    parent.foreach { pf =>
      next.find(_.name == pf.name).foreach { nf =>
        require(nf.dataType == pf.dataType,
          s"incompatible append: column '${pf.name}' is committed as " +
            s"${pf.dataType.simpleString} but the append carries " +
            s"${nf.dataType.simpleString} — a type change is a rewrite " +
            "(commitReplace), not an append")
      }
    }
    val known = parent.fieldNames.toSet
    StructType(parent.fields ++ next.fields.filterNot(f => known(f.name)))
  }

  /** Incremental read — the change feed between two committed versions,
    * resolved from MANIFESTS alone: committed data files are immutable
    * and an append commit's manifest is a superset of its parent's, so
    * the rows added in (va, vb] are EXACTLY the files vb lists and va
    * doesn't. The consumer scans only the delta — no old data is read,
    * no row diffing runs; at 100 TB a nightly incremental consumer
    * (p03's shape) costs the night's bytes, never the table's. va = 0
    * bootstraps (everything up to vb). Non-append ranges (a
    * replace/compaction commit swaps the file set; its logical change
    * is the writer's merge semantics, not a file-set difference —
    * st12's CDC face) are refused loudly rather than mis-answered.
    */
  def changesBetween(s: SparkSession, root: String, va: Int, vb: Int)
      : DataFrame = {
    require(0 <= va && va <= vb && vb <= headVersion(s, root),
      s"bad change range v$va..v$vb at $root")
    val (ma, mb) = (manifest(s, root, va), manifest(s, root, vb))
    require(ma.dirs.toSet.subsetOf(mb.dirs.toSet),
      s"v$va..v$vb is not append-lineage (a replace commit intervened); " +
        "read the versions and diff by the writer's merge key instead")
    require(dvDirsOf(s, root, va) == dvDirsOf(s, root, vb),
      s"v$va..v$vb crosses a delete commit (new deletion vectors): the " +
        "logical change includes row REMOVALS a file-add feed can't " +
        "express — read the versions and diff by the writer's key instead")
    val known = ma.dataFiles.map(_.path).toSet
    val added = mb.dataFiles.filterNot(f => known(f.path))
    if (added.isEmpty) s.emptyDataFrame
    else scanOf(s, added, mb.schema).drop(FILE)
  }

  /** All committed versions, ascending. */
  def versions(s: SparkSession, root: String): Seq[Int] =
    (1 to headVersion(s, root))

  /** OPTIMIZE — compaction AS a snapshot commit (src05's small-file
    * rewrite composed into the table contract): rewrite HEAD's state —
    * possibly many append dirs of micro-batch-sized files — as ONE
    * clustered data dir and commit it as the next version via
    * [[commitReplace]]'s manifest form. Isolation falls out of the
    * machinery: committed data files are immutable and older manifests
    * keep listing them, so a reader pinned to any version scans
    * byte-identical files while (and after) the compaction lands; the
    * only visible change is HEAD advancing to an equivalent, better-
    * laid-out state. A crash mid-compaction leaves HEAD untouched —
    * the half-written writer-unique dir is an invisible orphan
    * [[vacuumOrphans]] sweeps. Reads the DV-APPLIED state and commits with no
    * sidecars, so compaction also materializes every outstanding
    * [[deleteWhere]] at once. It is not what bounds the sidecars: the
    * row-removing verbs already rewrite the live rows once dead rows
    * reach the live count ([[deleteWhere]] states the bound).
    * Compaction is for layout (clustering, fewer
    * dirs and files) and for purging removed rows' bytes from HEAD's
    * files before that bound would. Returns the new version.
    */
  def compact(s: SparkSession, root: String, clusterBy: Seq[String],
      maxRecordsPerFile: Long = 1000000): Int = {
    var attempts = 0
    while (true) {
      // read PINNED at the base the CAS will assert, so the rewrite is
      // byte-equivalent to exactly that version; losing the race means
      // a concurrent commit changed the state this rewrite no longer
      // carries — recompute FROM THE NEW HEAD and retry (deleteWhere's
      // discipline; never re-stamp the stale file set, which would
      // drop the interloper's rows)
      val base = headVersion(s, root)
      val cur = read(s, root, Some(base))
      val clustered =
        if (clusterBy.isEmpty) cur.coalesce(s.sparkContext.defaultParallelism)
        else cur.repartition(clusterBy.map(col): _*)
      try return replaceAt(s, root, base, clustered, Some(maxRecordsPerFile))
      catch {
        case e: SnapshotConflictException =>
          attempts += 1
          if (attempts >= 16) throw new SnapshotConflictException(
            s"compaction at $root lost $attempts CAS races: ${e.getMessage}")
      }
    }
    -1 // unreachable
  }

  /** Append with BOUNDED table metadata — the maintenance policy a
    * thousand-commit table needs folded into one call: commit the
    * append, then, when the manifest's dir list has grown past
    * `maxDirs`, fold the history into one clustered dir via [[compact]].
    * Keeps read planning O(maxDirs) and the manifest O(maxDirs) bytes
    * forever (RoundTripSpec drives ~200 commits and asserts both),
    * while HEAD's self-healing hint keeps version resolution O(1) —
    * together the flat-cost visibility story PostgreSQL MVCC gives the
    * reference for free. The compaction is maintenance, not the commit:
    * if it loses every CAS race to concurrent writers, the append —
    * already durable — stands, and a later managed commit re-triggers
    * the fold.
    */
  def commitManaged(s: SparkSession, root: String, df: DataFrame,
      maxDirs: Int = 16): Int = {
    val v = commit(s, root, df)
    if (dirsOf(s, root, v).size <= maxDirs) v
    else try compact(s, root, Seq.empty)
    catch { case _: SnapshotConflictException => v }
  }

  /** VACUUM — truncate history below `keepFrom`: delete every data dir
    * and deletion-vector sidecar referenced ONLY by manifests older
    * than `keepFrom`, then the old manifests themselves. This is the
    * third stage of the erasure lifecycle — [[deleteWhere]] removes a
    * row logically (instant), [[compact]] materializes a state without
    * it (the physical rewrite), and vacuum destroys the historical
    * bytes that still contained it (time travel below `keepFrom` is
    * deliberately forfeited: that is what a retention policy IS).
    * Kept versions are untouched — their manifests list their own
    * dirs, and any dir shared with a dropped version survives the
    * reference check. Returns the number of directories deleted.
    */
  def vacuum(s: SparkSession, root: String, keepFrom: Int): Int = {
    val head = headVersion(s, root)
    require(1 <= keepFrom && keepFrom <= head,
      s"keepFrom $keepFrom outside committed range 1..$head at $root")
    val f = fs(s, root)
    // headVersion's probe walks CONSECUTIVE manifests forward from the
    // hint; truncating manifests below keepFrom while the hint lags
    // below keepFrom-1 would leave the probe stranded at a vacuumed
    // version (every later read/commit resolving a dead head). So:
    // repair the hint to the probed head FIRST (headVersion above
    // already self-heals; this re-assert closes the crashed-advance
    // case), then re-read and REFUSE to truncate past what the
    // persisted hint can anchor — an older concurrent advance landing
    // in the window aborts the vacuum, never strands the table.
    advanceHead(s, f, root, head)
    val hint = readHint(f, root)
    require(hint >= keepFrom - 1,
      s"vacuum aborted at $root: persisted HEAD hint $hint cannot anchor " +
        s"the manifest probe once v<$keepFrom are truncated — rerun " +
        "(a concurrent stale HEAD advance landed mid-vacuum)")
    val kept = (keepFrom to head).flatMap(v =>
      dirsOf(s, root, v) ++ dvDirsOf(s, root, v)).toSet
    // RE-RUNNABLE (a retention policy runs daily): versions a prior
    // vacuum already truncated have no manifest left — they contribute
    // no dirs and are skipped instead of crashing manifestOf
    val extant = (1 until keepFrom).filter(v =>
      f.exists(new Path(s"$root/manifests/v$v.json")))
    val dropped = extant.flatMap(v =>
      dirsOf(s, root, v) ++ dvDirsOf(s, root, v)).distinct
      .filterNot(kept)
    dropped.foreach(dir => f.delete(new Path(dir), true))
    extant.foreach { v =>
      f.delete(new Path(s"$root/manifests/v$v.json"), false)
    }
    dropped.size
  }

  /** Sweep data/sidecar dirs REFERENCED BY NO extant manifest — the
    * debris of crashed or CAS-losing commit attempts (data is written
    * before the manifest publish; a loser's dir is simply never
    * referenced). Age-gated: a dir younger than `olderThanMs` may
    * belong to a commit IN FLIGHT (written, publish pending), so only
    * dirs past the horizon are dropped — the standard lakehouse
    * orphan-retention rule (pick a horizon well past the longest
    * plausible commit). Returns deleted-dir count.
    */
  def vacuumOrphans(s: SparkSession, root: String,
      olderThanMs: Long = 24L * 3600 * 1000): Int = {
    val f = fs(s, root)
    val head = headVersion(s, root)
    val referenced = (1 to head)
      .filter(v => f.exists(new Path(s"$root/manifests/v$v.json")))
      .flatMap(v => dirsOf(s, root, v) ++ dvDirsOf(s, root, v)).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    Seq("data", "dv").map { sub =>
      val base = new Path(s"$root/$sub")
      if (!f.exists(base)) 0
      else f.listStatus(base).toSeq
        .filter(st => st.isDirectory &&
          !referenced.contains(s"$root/$sub/${st.getPath.getName}") &&
          st.getModificationTime < cutoff)
        .count { st => f.delete(st.getPath, true); true }
    }.sum
  }

  /** Parquet file count of a version, from its manifest (the
    * compaction metric RoundTripSpec asserts on).
    */
  def fileCount(s: SparkSession, root: String, version: Int): Int =
    manifest(s, root, version).dataFiles.size

  // -- src15: the gate face ----------------------------------------------
  // Two deterministic event-slice commits (first half of January, then
  // the rest), then BOTH snapshots read back through the manifest
  // machinery — per-version row and patient counts. The oracle
  // recomputes the same splits from the raw table, so the snapshot
  // path's fidelity (no lost/duplicated/extra rows in either version)
  // is hash-checked, not just spec'd. Build-once per sf dir; version
  // count is checked so a half-built root from a killed run rebuilds.
  private val SPLIT_DAY = "2024-01-16"

  def src15(s: SparkSession, d: String): DataFrame = {
    val root = s"${graft.Scratch.dir}/src15_snap/${graft.Scratch.tag(d)}"
    if (headVersion(s, root) != 2) {
      fs(s, root).delete(new Path(root), true)
      val ev = events(s, d)
      commit(s, root, ev.filter(col("ts") < lit(SPLIT_DAY).cast("timestamp")))
      commit(s, root, ev.filter(col("ts") >= lit(SPLIT_DAY).cast("timestamp")))
    }
    versions(s, root).map { v =>
      read(s, root, Some(v))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"))
        .select(lit(v).cast("int").as("version"), col("n_rows"),
          col("n_users"))
    }.reduce(_ unionByName _)
      .transform(Gate.ordered("version"))
  }

  val oracle: String =
    s"""SELECT 1 AS version, COUNT(*) AS n_rows,
       | COUNT(DISTINCT user_id) AS n_users
       |FROM events WHERE ts < TIMESTAMP '$SPLIT_DAY'
       |UNION ALL
       |SELECT 2, COUNT(*), COUNT(DISTINCT user_id) FROM events
       |ORDER BY version""".stripMargin

  // -- src17: compaction as a snapshot commit (the OPTIMIZE face) --------
  // Two fragmented append commits (40 writers each — the micro-batch
  // layout src05 simulates), then compact() rewrites the union as
  // version 3. The output reads versions 2 (pre-compaction HEAD) and 3
  // (compacted) through the manifest machinery: both must aggregate to
  // the full table — the compaction changed LAYOUT, not one row. The
  // oracle hash-checks both versions against the raw table;
  // RoundTripSpec covers the pinned-reader isolation, the file-count
  // collapse, and crash healing.
  def src17(s: SparkSession, d: String): DataFrame = {
    val root = s"${graft.Scratch.dir}/src17_snap/${graft.Scratch.tag(d)}"
    if (headVersion(s, root) != 3) {
      fs(s, root).delete(new Path(root), true)
      val ev = events(s, d)
      commit(s, root,
        ev.filter(col("ts") < lit(SPLIT_DAY).cast("timestamp")).repartition(40))
      commit(s, root,
        ev.filter(col("ts") >= lit(SPLIT_DAY).cast("timestamp")).repartition(40))
      compact(s, root, Seq("user_id"))
    }
    Seq(2, 3).map { v =>
      read(s, root, Some(v))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"))
        .select(lit(v).cast("int").as("version"), col("n_rows"),
          col("n_users"))
    }.reduce(_ unionByName _)
      .transform(Gate.ordered("version"))
  }

  val compactionOracle: String =
    """SELECT 2 AS version, COUNT(*) AS n_rows,
      | COUNT(DISTINCT user_id) AS n_users FROM events
      |UNION ALL
      |SELECT 3, COUNT(*), COUNT(DISTINCT user_id) FROM events
      |ORDER BY version""".stripMargin

  // -- src19: the change feed (incremental read between versions) --------
  // Three deterministic ten-day append commits, then every consumer
  // range a nightly pipeline would ask for — each consecutive delta
  // (v0→v1, v1→v2, v2→v3) plus a catch-up range (v1→v3) — read through
  // changesBetween's manifest diff. The oracle recomputes each range's
  // rows from the raw table by the same day slices, so the manifest
  // path must lose/duplicate nothing in ANY range; RoundTripSpec covers
  // the scan-only-the-delta plan claim, the empty va=vb feed, and the
  // replace-commit refusal.
  private val SRC19_CUTS = Seq("2024-01-11", "2024-01-21")

  def src19(s: SparkSession, d: String): DataFrame = {
    val root = s"${graft.Scratch.dir}/src19_snap/${graft.Scratch.tag(d)}"
    if (headVersion(s, root) != 3) {
      fs(s, root).delete(new Path(root), true)
      val ev = events(s, d)
      val Seq(c1, c2) = SRC19_CUTS.map(lit(_).cast("timestamp"))
      commit(s, root, ev.filter(col("ts") < c1))
      commit(s, root, ev.filter(col("ts") >= c1 && col("ts") < c2))
      commit(s, root, ev.filter(col("ts") >= c2))
    }
    Seq((0, 1), (1, 2), (2, 3), (1, 3)).map { case (va, vb) =>
      changesBetween(s, root, va, vb)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"))
        .select(lit(va).cast("int").as("from_v"),
          lit(vb).cast("int").as("to_v"), col("n_rows"), col("n_users"))
    }.reduce(_ unionByName _)
      .transform(Gate.ordered("from_v", "to_v"))
  }

  val changeFeedOracle: String = {
    val Seq(c1, c2) = SRC19_CUTS
    s"""SELECT 0 AS from_v, 1 AS to_v, COUNT(*) AS n_rows,
       | COUNT(DISTINCT user_id) AS n_users
       |FROM events WHERE ts < TIMESTAMP '$c1'
       |UNION ALL
       |SELECT 1, 2, COUNT(*), COUNT(DISTINCT user_id) FROM events
       | WHERE ts >= TIMESTAMP '$c1' AND ts < TIMESTAMP '$c2'
       |UNION ALL
       |SELECT 2, 3, COUNT(*), COUNT(DISTINCT user_id) FROM events
       | WHERE ts >= TIMESTAMP '$c2'
       |UNION ALL
       |SELECT 1, 3, COUNT(*), COUNT(DISTINCT user_id) FROM events
       | WHERE ts >= TIMESTAMP '$c1'
       |ORDER BY from_v, to_v""".stripMargin
  }

  // -- src20: deletion-vector deletes (merge-on-read) ---------------------
  // Two append commits, then two deleteWhere batches — a patient-id
  // erasure and a selective event purge — each a data-free sidecar
  // commit. The output reads the pre-delete version (pinned history
  // must still show every row) and both post-delete versions through
  // the DV-applying read path; the oracle recomputes all three states
  // from the raw table with the same predicates, so the sidecar
  // anti-join must remove EXACTLY the matching rows — no more (a DV
  // naming a live row), no fewer (a missed file/position). RoundTripSpec
  // covers the no-data-files-written claim, compaction materializing
  // the sidecars away, and the change-feed refusal across a delete.
  private val SRC20_MOD7 = 3L // delete batch 1: user_id % 7 = 3
  private val SRC20_MOD5 = 0L // delete batch 2: errors of user_id % 5 = 0

  private[graft] def buildSrc20(s: SparkSession, d: String): String = {
    val root = s"${graft.Scratch.dir}/src20_snap/${graft.Scratch.tag(d)}"
    if (headVersion(s, root) != 4) {
      fs(s, root).delete(new Path(root), true)
      val ev = events(s, d)
      commit(s, root, ev.filter(col("ts") < lit(SPLIT_DAY).cast("timestamp")))
      commit(s, root, ev.filter(col("ts") >= lit(SPLIT_DAY).cast("timestamp")))
      deleteWhere(s, root, col("user_id") % 7 === SRC20_MOD7)
      deleteWhere(s, root,
        col("event_type") === "error" && col("user_id") % 5 === SRC20_MOD5)
    }
    root
  }

  def src20(s: SparkSession, d: String): DataFrame = {
    val root = buildSrc20(s, d)
    Seq(2, 3, 4).map { v =>
      read(s, root, Some(v))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"))
        .select(lit(v).cast("int").as("version"), col("n_rows"),
          col("n_users"))
    }.reduce(_ unionByName _)
      .transform(Gate.ordered("version"))
  }

  val deletionVectorOracle: String =
    s"""SELECT 2 AS version, COUNT(*) AS n_rows,
       | COUNT(DISTINCT user_id) AS n_users FROM events
       |UNION ALL
       |SELECT 3, COUNT(*), COUNT(DISTINCT user_id) FROM events
       | WHERE NOT (user_id % 7 = $SRC20_MOD7)
       |UNION ALL
       |SELECT 4, COUNT(*), COUNT(DISTINCT user_id) FROM events
       | WHERE NOT (user_id % 7 = $SRC20_MOD7)
       |  AND NOT (event_type = 'error' AND user_id % 5 = $SRC20_MOD5)
       |ORDER BY version""".stripMargin

  // -- src21: MERGE INTO, the gate face ------------------------------------
  // Base = orders missing the %10==3 keys; the merge source carries the
  // %10∈{3,7} keys re-priced and re-statused — so one merge exercises
  // BOTH arms: %10==7 matched (replace via DV), %10==3 not-matched
  // (insert). The pinned pre-merge version must read back untouched.
  private val SRC21_INS = 3L // source keys absent from the base → insert
  private val SRC21_UPD = 7L // source keys present in the base → replace

  private def src21Source(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .filter(col("o_orderkey") % 10 === SRC21_INS ||
        col("o_orderkey") % 10 === SRC21_UPD)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
      .withColumn("o_orderstatus", lit("U"))

  private[graft] def buildSrc21(s: SparkSession, d: String): String = {
    val root = s"${graft.Scratch.dir}/src21_snap/${graft.Scratch.tag(d)}"
    if (headVersion(s, root) != 2) {
      fs(s, root).delete(new Path(root), true)
      commit(s, root, orders(s, d).filter(col("o_orderkey") % 10 =!= SRC21_INS))
      mergeInto(s, root, src21Source(s, d), Seq("o_orderkey"))
    }
    root
  }

  def src21(s: SparkSession, d: String): DataFrame = {
    val root = buildSrc21(s, d)
    Seq(1, 2).map { v =>
      read(s, root, Some(v))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_orderkey")).as("n_keys"),
          graft.Det.dsum(col("o_totalprice")).as("sum_price"),
          count(when(col("o_orderstatus") === "U", 1)).as("n_merged"))
        .select(lit(v).cast("int").as("version"), col("n_rows"),
          col("n_keys"), col("sum_price"), col("n_merged"))
    }.reduce(_ unionByName _)
      .transform(Gate.ordered("version"))
  }

  val mergeOracle: String =
    s"""SELECT 1 AS version, COUNT(*) AS n_rows,
       | COUNT(DISTINCT o_orderkey) AS n_keys,
       | ${graft.Det.sqlDsum("o_totalprice")} AS sum_price,
       | COUNT(CASE WHEN o_orderstatus = 'U' THEN 1 END) AS n_merged
       |FROM orders WHERE o_orderkey % 10 != $SRC21_INS
       |UNION ALL
       |SELECT 2, COUNT(*), COUNT(DISTINCT o_orderkey),
       | ${graft.Det.sqlDsum("o_totalprice")},
       | COUNT(CASE WHEN o_orderstatus = 'U' THEN 1 END)
       |FROM (
       |  SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice,
       |   'U' AS o_orderstatus
       |  FROM orders
       |  WHERE o_orderkey % 10 IN ($SRC21_INS, $SRC21_UPD)
       |  UNION ALL
       |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
       |  WHERE o_orderkey % 10 NOT IN ($SRC21_INS, $SRC21_UPD)
       |)
       |ORDER BY version""".stripMargin
}
