package graft

import graft.sources.Snapshots
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

object SnapshotModelSpec {
  final case class R(id: Long, tag: String, v: Long, n: Option[Long])

  sealed trait Op
  final case class Merge(rows: Seq[R]) extends Op
  final case class VMerge(rows: Seq[R]) extends Op
  /** DELETE WHERE n > over OR tag = tag: NULL where n is NULL and the
    * tag does not match, and such rows stay.
    */
  final case class Delete(over: Long, tag: Option[String]) extends Op
  /** `commit` of the rows whose keys are not live: new unique keys. */
  final case class Append(rows: Seq[R]) extends Op
  /** `compact`: same rows, renumbered files, no sidecars. */
  case object Compact extends Op
}

/** Model-based test of the snapshot table's verbs: random sequences of
  * `mergeInto`, `mergeIntoVersioned`, `deleteWhere` (with conditions
  * that are NULL on some rows), appends of new keys through `commit`
  * and `compact` run on a small table beside an in-memory latest-wins
  * model, and every version is checked against the model as it stood
  * when that version landed. The table is small and the merges touch up
  * to half its keys, so sequences cross the dead-row bound and exercise
  * both the sidecar and the rewrite form of a commit; appends extend
  * the file list under live sidecars and compactions renumber it.
  */
class SnapshotModelSpec extends SparkSpec {
  import SnapshotModelSpec._

  private type Model = Map[Long, R]

  private def step(m: Model, op: Op): Model = op match {
    case Merge(rs) => m ++ rs.map(r => r.id -> r)
    case VMerge(rs) => rs.foldLeft(m) { (acc, r) =>
      if (acc.get(r.id).exists(t => r.v < t.v)) acc else acc + (r.id -> r)
    }
    case Delete(k, t) =>
      m.filterNot { case (_, r) => r.n.exists(_ > k) || t.contains(r.tag) }
    case Append(rs) => m ++ fresh(m, rs).map(r => r.id -> r)
    case Compact => m
  }

  private def fresh(m: Model, rs: Seq[R]): Seq[R] =
    rs.filterNot(r => m.contains(r.id))

  /** Rows `op` writes to its own data dir: a versioned merge drops the
    * rows that lose to the live row.
    */
  private def added(m: Model, op: Op): Long = op match {
    case Merge(rs) => rs.size.toLong
    case VMerge(rs) => rs.count(r => !m.get(r.id).exists(t => r.v < t.v)).toLong
    case Append(rs) => fresh(m, rs).size.toLong
    case _ => 0L
  }

  /** Live rows `op` takes out of `m`: the rows it replaces or deletes. */
  private def removed(m: Model, op: Op): Long = op match {
    case Merge(rs) => rs.count(r => m.contains(r.id)).toLong
    case VMerge(rs) => rs.count(r => m.get(r.id).exists(t => r.v >= t.v)).toLong
    case d: Delete => (m.size - step(m, d).size).toLong
    case _ => 0L
  }

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("tag", StringType), StructField("v", LongType),
    StructField("n", LongType)))

  private def frame(rs: Seq[R]): DataFrame = {
    val rows = rs.map(r => Row(r.id, r.tag, r.v, r.n.map(Long.box).orNull))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  private def cond(d: Delete): Column =
    d.tag.fold(col("n") > d.over)(t => col("n") > d.over || col("tag") === t)

  private val rowGen: Gen[Long => R] = for {
    tag <- Gen.oneOf("a", "b", "c")
    v <- Gen.choose(0L, 9L)
    n <- Gen.option(Gen.choose(0L, 9L))
  } yield (id: Long) => R(id, tag, v, n)

  /** Merges and the base draw keys from 0..13, appends from 10..19, so
    * merges also replace rows that appends wrote.
    */
  private def rowsGen(min: Int, max: Int, keys: Seq[Long] = 0L until 14L)
      : Gen[Seq[R]] = for {
    k <- Gen.choose(min, max)
    ids <- Gen.pick(k, keys)
    mk <- Gen.listOfN(k, rowGen)
  } yield ids.toSeq.zip(mk).map { case (id, f) => f(id) }

  private val opGen: Gen[Op] = Gen.frequency(
    3 -> rowsGen(1, 5).map(Merge(_)),
    2 -> rowsGen(1, 5).map(VMerge(_)),
    2 -> (for {
      k <- Gen.choose(3L, 9L)
      t <- Gen.option(Gen.oneOf("a", "b", "c"))
    } yield Delete(k, t)),
    2 -> rowsGen(1, 4, 10L until 20L).map(Append(_)),
    1 -> Gen.const(Compact))

  private val seqGen: Gen[(Seq[R], List[Op])] = for {
    base <- rowsGen(4, 8)
    n <- Gen.choose(4, 7)
    ops <- Gen.listOfN(n, opGen)
  } yield (base, ops)

  private def fsOf(root: String) = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("row-removing verbs match a latest-wins model at every version") {
    var run = 0
    var rewrites = 0
    var sidecars = 0
    var appendsOverSidecars = 0
    val prop = Prop.forAllNoShrink(seqGen) { case (base, ops) =>
      run += 1
      val root = s"${graft.Scratch.dir}/snap_model/r$run"
      fsOf(root).delete(new org.apache.hadoop.fs.Path(root), true)
      assert(Snapshots.commit(spark, root, frame(base)) == 1)
      val models = ops.scanLeft(base.map(r => r.id -> r).toMap)(step)
      ops.zipWithIndex.foreach { case (op, i) =>
        val parent = i + 1
        val before = Snapshots.manifest(spark, root, parent)
        val pc = before.recorded.get
        // the rule: rewrite when one removed row per added row would
        // already leave as many dead rows as live ones, or when the
        // sidecar of this op's removed rows would
        val due = pc.dead + added(models(i), op) >= pc.live ||
          pc.dead + removed(models(i), op) >= models(i + 1).size
        val v = op match {
          case Merge(rs) => Snapshots.mergeInto(spark, root, frame(rs), Seq("id"))
          case VMerge(rs) =>
            Snapshots.mergeIntoVersioned(spark, root, frame(rs), Seq("id"), "v")
          case d: Delete => Snapshots.deleteWhere(spark, root, cond(d))
          case Append(rs) =>
            Snapshots.commit(spark, root, frame(fresh(models(i), rs)))
          case Compact => Snapshots.compact(spark, root, Seq.empty)
        }
        assert(v == parent + 1, s"$op committed v$v after v$parent")
        // every version, HEAD included, reads as the model did then
        val got = (1 to v).map(w => Snapshots.read(spark, root, Some(w))
          .select(lit(w).as("w"), col("id"), col("tag"), col("v"), col("n")))
          .reduce(_ unionByName _).collect()
          .groupBy(_.getInt(0)).map { case (w, rs) =>
            w -> rs.map(r => R(r.getLong(1), r.getString(2), r.getLong(3),
              if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSet
          }
        (1 to v).foreach { w =>
          assert(got.getOrElse(w, Set.empty) == models(w - 1).values.toSet,
            s"v$w after $op (ops ${ops.take(i + 1)})")
        }
        // the recorded counts equal a recount, and the rule decided
        val m = Snapshots.manifest(spark, root, v)
        val c = m.recorded.get
        val rows = spark.read.parquet(m.dirs: _*).count()
        val dvs = Snapshots.dvDirsOf(spark, root, v)
        val dead = if (dvs.isEmpty) 0L else spark.read.parquet(dvs: _*).count()
        assert(c == Snapshots.Counts(rows, dead), s"v$v counts after $op")
        assert(c.live == models(i + 1).size)
        op match {
          case _: Append =>
            assert(m.sidecars == before.sidecars &&
              m.dataFiles.startsWith(before.dataFiles),
              s"v$v: an append must keep the sidecars and extend the files")
            if (m.sidecars.nonEmpty) appendsOverSidecars += 1
          case Compact =>
            assert(m.sidecars.isEmpty && c.dead == 0, s"v$v: compact left $c")
          case _ if due =>
            assert(m.sidecars.isEmpty,
              s"v$v: debt was due, $op added a sidecar")
            rewrites += 1
          case _ =>
            assert(m.sidecars == before.sidecars :+ m.sidecars.last &&
              m.dataFiles.startsWith(before.dataFiles),
              s"v$v: debt not due, $op did not add exactly one sidecar")
            sidecars += 1
        }
        // the bound: every row-removing commit leaves fewer dead rows
        // than live ones, or an empty table
        assert(c.dead < c.live || c.rows == 0, s"v$v: $c after $op")
      }
      fsOf(root).delete(new org.apache.hadoop.fs.Path(root), true)
      true
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12).withWorkers(1)
        .withInitialSeed(20261019L), prop)
    assert(res.passed, res.status.toString)
    assert(rewrites > 0 && sidecars > 0 && appendsOverSidecars > 0,
      s"every form exercised: $rewrites rewrites, $sidecars sidecars, " +
        s"$appendsOverSidecars appends over sidecars")
  }
}
