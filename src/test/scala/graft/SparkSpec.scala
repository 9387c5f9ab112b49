package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session; sbt
  * forks a single test JVM).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = SparkSpec.sfDir
}

object SparkSpec {
  val sfDir = "/root/testdata/sf0.001"

  /** The production session (Bench.session) in its gate role: every
    * spec runs under the confs the mains use, with the
    * determinism-only final sorts on.
    */
  lazy val session: SparkSession = Bench.session(4, Seq(sfDir), gate = true)
}
