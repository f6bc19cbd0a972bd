package graft

import graft.functions.GraftExtensions

/** SQL-surface registration of the native expressions via the
  * extensions hook / function registry. */
class GraftExtensionsSpec extends SparkSpec {

  test("array_dot_product and array_l2_norm callable from SQL") {
    GraftExtensions.registerOn(spark)
    val r = spark.sql(
      """SELECT array_dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       array_l2_norm(array(3.0D, 4.0D)) AS n""".stripMargin).head()
    assert(r.getDouble(0) === 11.0)
    assert(r.getDouble(1) === 5.0)
  }

  test("extensions class injects into a fresh session") {
    // the shared session already carries the extension, so the builder's
    // spark.sql.extensions entry is checked on a session built in a new JVM
    val got = FreshSessionProbe.report.get
    assert(got.get("sql") === Some("16.0"), got)
    assert(got.get("fused") === Some("true"), got)
  }
}

/** Optimizer fusion of the HOF dot-product pattern into the native
  * kernel (graft.plans.FuseArrayDotProduct). */
class FuseDotSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private val hof =
    "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"

  private def frame = {
    import spark.implicits._
    Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.5, -1.0, 2.0), Array(2.0, 2.0, 2.0))).toDF("a", "b")
  }

  test("rule rewrites the analyzed plan to array_dot_product") {
    val analyzed = frame.selectExpr(s"$hof AS dot").queryExecution.analyzed
    val fused = graft.plans.FuseArrayDotProduct(analyzed)
    assert(fused.expressions.exists(_.exists(
      _.isInstanceOf[graft.functions.ArrayDotProduct])), fused.toString)
    // commuted lambdas fuse too (IEEE * and + are commutative)
    val commuted = frame.selectExpr(
      "aggregate(zip_with(a, b, (x, y) -> y * x), 0D, (acc, v) -> v + acc) AS dot")
      .queryExecution.analyzed
    assert(graft.plans.FuseArrayDotProduct(commuted).expressions.exists(_.exists(
      _.isInstanceOf[graft.functions.ArrayDotProduct])))
  }

  test("rule leaves non-dot aggregates alone") {
    val sumAgg = frame.selectExpr(
      "aggregate(zip_with(a, b, (x, y) -> x + y), 0D, (acc, v) -> acc + v) AS s")
      .queryExecution.analyzed
    assert(!graft.plans.FuseArrayDotProduct(sumAgg).expressions.exists(_.exists(
      _.isInstanceOf[graft.functions.ArrayDotProduct])))
  }

  test("injected at runtime, fusion preserves results end to end") {
    // a fresh JVM's session, so the rule comes from the extension alone;
    // the HOF over range-derived arrays is FreshSessionProbe's `dot`
    val got = FreshSessionProbe.report.get
    assert(got.get("fused") === Some("true"), got)
    assert(got.get("dots") === Some("6.0,12.0"), got)
  }
}
