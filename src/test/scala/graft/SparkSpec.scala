package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites: the Verify/Bench mains'
  * own session (`obs.Diag.session`) at local[4] with 4 shuffle
  * partitions, so tests run on the same per-process warehouse and fast
  * scratch and never write a spark-warehouse/ into the launch dir.
  */
object TestSpark {
  lazy val spark: SparkSession = obs.Diag.session(cpus = "4")
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir
}
