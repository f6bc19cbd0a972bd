package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** `SparkSessionExtensions` hook registering the engine's native
  * expressions in the SQL function registry, so
  * `spark.sql("SELECT array_dot_product(a, b) ...")` works next to the
  * DataFrame API (`VectorExprs.dot`). Enable with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * or inject programmatically; `SparkSession.extensions` injection is
  * the sanctioned plugin point — no forked internals.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.arrayDotProduct)
    ext.injectFunction(GraftExtensions.arrayL2Norm)
    // fuse the declarative HOF dot-product pattern into the native
    // kernel plan-wide (see graft.plans.FuseArrayDotProduct scaladoc
    // for the semantics contract)
    ext.injectOptimizerRule(_ => graft.plans.FuseArrayDotProduct)
  }
}

object GraftExtensions {
  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  val arrayDotProduct: FunctionDescription = (
    FunctionIdentifier("array_dot_product"),
    new ExpressionInfo(classOf[ArrayDotProduct].getName, "array_dot_product"),
    (children: Seq[Expression]) => children match {
      case Seq(a, b) => ArrayDotProduct(a, b)
      case _ => throw new IllegalArgumentException(
        s"array_dot_product expects 2 arguments, got ${children.size}")
    })

  val arrayL2Norm: FunctionDescription = (
    FunctionIdentifier("array_l2_norm"),
    new ExpressionInfo(classOf[ArrayL2Norm].getName, "array_l2_norm"),
    (children: Seq[Expression]) => children match {
      case Seq(a) => ArrayL2Norm(a)
      case _ => throw new IllegalArgumentException(
        s"array_l2_norm expects 1 argument, got ${children.size}")
    })

  /** Register on an already-built session (tests, driver sessions the
    * engine does not construct itself). */
  def registerOn(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    Seq(arrayDotProduct, arrayL2Norm).foreach { case (id, info, builder) =>
      registry.registerFunction(id, info, builder)
    }
  }
}
