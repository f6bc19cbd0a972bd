package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites: the mains' own session
  * (`GraftSession.builder().local(4)`) at local[4] with 4 shuffle
  * partitions, so tests run with the engine's extensions, on the same
  * per-process warehouse and fast scratch, and never write a
  * spark-warehouse/ into the launch dir. A suite that stops the session
  * gets a new one from the next call.
  */
object TestSpark {
  def spark: SparkSession = GraftSession.builder().local(4).build()
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir

  /** The rows of `df` planned without the session's dot-product fusion
    * (`FuseArrayDotProduct`), after checking that its optimized plan
    * holds no `ArrayDotProduct`: the `aggregate(zip_with(...))`
    * reference of a kernel-parity test must stay that HOF, or the test
    * compares the kernel with itself. */
  def unfused(df: => DataFrame): Array[Row] =
    GraftSession.withConfs(spark,
        "spark.sql.optimizer.excludedRules" -> plans.FuseArrayDotProduct.ruleName) {
      val d = df
      val plan = d.queryExecution.optimizedPlan
      assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[functions.ArrayDotProduct]))),
        s"the HOF reference was fused:\n$plan")
      d.collect()
    }
}
