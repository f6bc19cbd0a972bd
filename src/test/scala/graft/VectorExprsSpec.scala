package graft

import graft.functions.VectorExprs
import org.apache.spark.sql.functions._

/** Native vector expressions: parity with the HOF forms (bit-exact),
  * null handling, and whole-stage-codegen participation. Each HOF
  * reference is planned [[unfused]]: the session's fusion rule would
  * otherwise turn it into the kernel under test.
  */
class VectorExprsSpec extends SparkSpec {
  import spark.implicits._

  private val hofDot = "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"

  private val df = Seq(
    (1L, Some(Seq(1.0, 2.0, 3.0)), Some(Seq(4.0, 5.0, 6.0))),
    (2L, Some(Seq(0.0, 0.0)), Some(Seq(1.0, 1.0))),
    (3L, None, Some(Seq(1.0)))
  ).toDF("id", "a", "b")

  test("dot matches HOF fold bit-exactly; null propagates") {
    val r = df.select(col("id"), VectorExprs.dot(col("a"), col("b")).as("native"))
      .orderBy("id").collect()
    val hof = unfused(df.select(col("id"), expr(hofDot).as("hof")).orderBy("id"))
    assert(r(0).getDouble(1) === 32.0)
    assert(r(0).getDouble(1) === hof(0).getDouble(1))
    assert(r(1).getDouble(1) === 0.0)
    assert(r(2).isNullAt(1))
  }

  test("ragged arrays: dot is NULL, matching zip_with null-pad semantics") {
    // zip_with pads the shorter side with NULL, so the HOF sum is NULL;
    // the native kernel must agree or the session-wide fusion rule
    // silently changes results on ragged input.
    val ragged = Seq((1L, Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("id", "a", "b")
    assert(ragged.select(VectorExprs.dot(col("a"), col("b"))).collect()(0).isNullAt(0))
    assert(unfused(ragged.select(expr(hofDot)))(0).isNullAt(0))
  }

  test("l2 matches sqrt of self-dot; null propagates") {
    val r = df.select(col("id"), VectorExprs.l2(col("a")).as("n")).orderBy("id").collect()
    assert(r(0).getDouble(1) === math.sqrt(14.0))
    assert(r(1).getDouble(1) === 0.0)
    assert(r(2).isNullAt(1))
  }

  test("expressions run inside WholeStageCodegen") {
    // a LocalTableScan is folded eagerly, so check on a parquet scan
    val plan = graft.sources.Tables.embeddings(spark, sfDir)
      .select(expr("transform(embedding, x -> cast(x as double))").as("v"))
      .select(VectorExprs.dot(col("v"), col("v")).as("d"))
      .filter(col("d") > 0)
      .queryExecution.executedPlan.toString
    // the executedPlan string marks codegen stages with "*(n)"
    assert("""\*\(\d+\) Project \[array_dot_product""".r
      .findFirstIn(plan).isDefined, plan)
  }

  test("interpreted eval agrees with codegen result on fixture embeddings") {
    val e = graft.sources.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 50)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val native = e.select(col("vec_id"), VectorExprs.dot(col("v"), col("v")))
      .orderBy("vec_id").collect()
    val hof = unfused(e.select(col("vec_id"),
      expr("aggregate(zip_with(v, v, (x, y) -> x * y), 0D, (a, x) -> a + x)")).orderBy("vec_id"))
    assert(native.nonEmpty)
    assert(native.toSeq === hof.toSeq)
  }
}
