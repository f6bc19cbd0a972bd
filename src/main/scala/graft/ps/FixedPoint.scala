package graft.ps

import org.apache.spark.SparkException

/** Exact fixed-point sums for the trainers' gradients and losses (the
  * `graft.Det` integer-cents idea applied to doubles of any size).
  *
  * Scale and range: a double v is held as the Long `rint(v · 2^24)`
  * (resolution 2^-24 ≈ 6.0e-8, ties to even). Every operand and every
  * partial sum must lie strictly inside ±2^39 ≈ ±5.5e11. An operand
  * outside that range (or NaN, ±∞) throws an `ArithmeticException` that
  * names it; a sum leaving the range throws one naming both addends
  * (`Math.addExact`). Nothing wraps and nothing saturates.
  *
  * Integer addition is associative and commutative, so a sum is bitwise
  * the same under any partitioning and any merge order; converting back
  * with [[value]] is one deterministic rounding.
  */
private[ps] object FixedPoint {
  val FracBits = 24
  private val Scale = (1L << FracBits).toDouble
  /** Exclusive bound on |operand| and |sum|: 2^(63 - FracBits). */
  val Limit: Double = (1L << (63 - FracBits)).toDouble

  private def range = s"+/-$Limit (fixed point, scale 2^-$FracBits)"

  def of(v: Double): Long = {
    if (!(math.abs(v) < Limit))
      throw new ArithmeticException(s"value $v outside $range")
    math.rint(v * Scale).toLong
  }

  def value(f: Long): Double = f / Scale

  def add(a: Long, b: Long): Long =
    try Math.addExact(a, b)
    catch {
      case _: ArithmeticException =>
        throw new ArithmeticException(s"sum ${value(a)} + ${value(b)} outside $range")
    }

  /** acc(i) += of(v). */
  def addTo(acc: Array[Long], i: Int, v: Double): Unit = acc(i) = add(acc(i), of(v))

  /** a += b elementwise; returns a. */
  def addAll(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) = add(a(i), b(i)); i += 1 }
    a
  }

  /** Runs a Spark action and rethrows an `ArithmeticException` that
    * failed one of its tasks as itself, not wrapped in the job abort. */
  def rethrowRange[T](action: => T): T =
    try action
    catch {
      case e: SparkException =>
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case a: ArithmeticException => a }
          .foreach(a => throw a)
        throw e
    }
}
