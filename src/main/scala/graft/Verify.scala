package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing qids: dump only those (dev iteration; the driver
    // always calls with two args and gets the full dump)
    val only = args.drop(2).toSet
    // every core by default: results are parallelism-independent by the
    // Det contract; this only shortens the wall time of the dump
    val spark = GraftSession.builder().local().build()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => only.isEmpty || only(q._1)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Output-dtype invariant: every integral output column is int64.
        // Spark's row_number/rank/size/length emit int32 while the DuckDB
        // oracle side emits BIGINT; the driver's pandas compare is dtype-
        // sensitive, so narrow ints are upcast centrally here rather than
        // per query.
        import org.apache.spark.sql.functions.col
        import org.apache.spark.sql.types.{ByteType, IntegerType, ShortType}
        val widened = df.schema.fields.collect {
          case f if f.dataType == IntegerType || f.dataType == ShortType ||
            f.dataType == ByteType => f.name
        }.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("long")))
        widened.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        // intra-query caches are never reused across queries
        try spark.catalog.clearCache() catch { case _: Throwable => () }
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      VerifyJson.render(SparkEntry.oracleSql))
    spark.stop()
  }
}

/** Strict JSON rendering of the oracle map. A tab or CR in
  * builder-authored SQL would otherwise make the driver's json.load
  * fail and silently zero the round's correctness — escape backslash,
  * quote, and ALL control chars (<0x20). Regression-tested against
  * Jackson in VerifyJsonSpec.
  */
object VerifyJson {
  def escape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(m: Map[String, String]): String =
    m.map { case (k, v) => s"${escape(k)}: ${escape(v)}" }
      .mkString("{", ",", "}")
}
