package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Determinism helpers for oracle bit-parity (SURVEY.md §0.1, §7.4).
  *
  * The driver hash-compares Spark results against DuckDB. Floating-point
  * SUM/AVG are summation-order dependent, so money math is integerized:
  * all fixture money columns are exact 2-decimal doubles (FIXTURES.md,
  * verified), so `ROUND(x*100)` is never near a rounding boundary and both
  * engines produce the identical BIGINT. Aggregate exactly in integers,
  * then apply one final IEEE division — bitwise identical everywhere,
  * independent of partitioning/parallelism. This also makes results stable
  * from local[32] to a 1000-executor cluster.
  */
object Det {
  /** Exact cents of a 2-decimal double column. */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** Order-independent SUM of a 2-decimal double column, as double. */
  def sum2(c: Column): Column = sum(cents(c)).cast("double") / 100.0

  /** Order-independent AVG of a 2-decimal double column, as double. */
  def avg2(c: Column): Column =
    sum(cents(c)).cast("double") / 100.0 / count(c).cast("double")

  /** DuckDB oracle twins (same expression trees). */
  def oCents(x: String): String = s"CAST(ROUND(($x)*100) AS BIGINT)"
  def oSum2(x: String): String =
    s"CAST(CAST(SUM(${oCents(x)}) AS BIGINT) AS DOUBLE)/100.0"
  def oAvg2(x: String): String =
    s"${oSum2(x)}/CAST(COUNT($x) AS DOUBLE)"

  /** 32-bit portable seeded hash of a string expression, as SQL text for
    * Spark: the first 8 hex chars of md5(seed || ':' || s) read as an
    * unsigned int. [[oH32]] is its DuckDB twin. */
  def h32(sexpr: String, seed: Int): String =
    s"cast(conv(substring(md5(concat('$seed:', $sexpr)), 1, 8), 16, 10) as bigint)"
  def oH32(sexpr: String, seed: Int): String =
    s"CAST(('0x' || substr(md5(concat('$seed:', $sexpr)), 1, 8)) AS BIGINT)"
}
