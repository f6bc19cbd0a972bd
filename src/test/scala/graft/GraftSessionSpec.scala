package graft

import java.lang.management.ManagementFactory
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.{FileContext, FileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The session builder's per-JVM policy and the per-application memo.
  * Two tests stop the shared session and build the next one, so every
  * call here goes through `TestSpark.spark`, which returns the live one.
  * What is decided only when a session is created (extensions, static
  * confs, the Hadoop filesystem classes) is checked in a fresh JVM
  * ([[FreshSessionProbe]]), which the shared session cannot show; the
  * extension's checks on that JVM are in GraftExtensionsSpec and
  * FuseDotSpec.
  */
class GraftSessionSpec extends AnyFunSuite {
  private def spark: SparkSession = TestSpark.spark

  test("builder yields a session with graft functions registered") {
    spark.range(1).count() // ensure the shared fixture session exists
    // getOrCreate returns the shared test session; registration and
    // configs must still apply to it
    val s = GraftSession.builder().name("graft-test").build()
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    val d = s.sql("SELECT array_l2_norm(array(3.0D, 4.0D))").head().getDouble(0)
    assert(d === 5.0)
  }

  test("withConfs restores a set key and unsets an absent one, also when its body throws") {
    val s = spark
    val (width, absent) = ("spark.sql.shuffle.partitions", "spark.graft.spec.scoped")
    val before = s.conf.get(width)
    intercept[IllegalStateException] {
      GraftSession.withConfs(s, width -> "7", absent -> "x") {
        assert(s.conf.get(width) === "7")
        assert(s.conf.get(absent) === "x")
        throw new IllegalStateException("body failed")
      }
    }
    assert(s.conf.get(width) === before)
    assert(!s.conf.getAll.contains(absent))
  }

  test("a stopped application's entries leave the memo") {
    val first = spark
    val app = first.sparkContext.applicationId
    val scan = sources.Tables.region(first, TestSpark.sfDir)
    val build = Memo(first, ("spec", "stopped"), "spec build")(
      first.range(3).toDF().persist(StorageLevel.MEMORY_ONLY))
    assert(Memo.applications === Set(app))
    first.stop()
    val next = spark
    assert(next.sparkContext.applicationId !== app)
    val rescan = sources.Tables.region(next, TestSpark.sfDir)
    assert(Memo.applications === Set(next.sparkContext.applicationId),
      "the stopped application's scan and build are still held")
    assert(!(rescan eq scan))
    assert(rescan.count() === 5)
    assert(!(Memo(next, ("spec", "stopped"), "spec build")(next.range(3).toDF()) eq build))
  }

  test("building a session reaps a dead pid's entry under the scratch root") {
    val dead = {
      val p = new ProcessBuilder("true").start()
      p.waitFor()
      p.pid()
    }
    val entry = Paths.get(Scratch.tmpRoot, s"graft_sink_${dead}_spec")
    Files.createDirectories(entry)
    try {
      spark.stop()
      assert(!spark.sparkContext.isStopped)
      assert(!Files.exists(entry), s"$entry survived the session build")
    } finally Scratch.deleteRecursively(entry)
  }

  test("a fresh JVM's session runs LocalFs, no artifact isolation") {
    val got = FreshSessionProbe.report.get
    assert(got.get("fs") === Some(classOf[sources.LocalFs.FileSystem].getName), got)
    assert(got.get("afs") === Some(classOf[sources.LocalFs.Fs].getName), got)
    assert(got.get("isolation") === Some("false"), got)
    assert(got.get("isolation.new") === Some("false"), got)
  }
}

/** Builds the mains' session in its own JVM and prints, one `key\tvalue`
  * line each, what the builder installed. */
object FreshSessionProbe {
  /** The probe's report, from one JVM started the first time a test asks. */
  lazy val report: Try[Map[String, String]] = Try(fork())

  private def fork(): Map[String, String] = {
    val (out, err) = (Files.createTempFile("graft_spec_probe", ".out"), Files.createTempFile("graft_spec_probe", ".err"))
    try {
      val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filterNot(a => a.startsWith("-Xm") || a.startsWith("-XX:MaxNewSize"))
      val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString, "-Xms1g", "-Xmx1g") ++
        jvmArgs ++ Seq("-cp", sys.props("java.class.path"), getClass.getName.stripSuffix("$"))
      val p = new ProcessBuilder(cmd: _*).redirectOutput(out.toFile).redirectError(err.toFile).start()
      val exited = p.waitFor(300, TimeUnit.SECONDS)
      if (!exited) p.destroyForcibly()
      if (!exited || p.exitValue != 0)
        throw new IllegalStateException(s"probe JVM failed (exited=$exited):\n" +
          Files.readAllLines(err).asScala.takeRight(20).mkString("\n"))
      Files.readAllLines(out).asScala.flatMap(_.split("\t", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }).toMap
    } finally Seq(out, err).foreach(Files.deleteIfExists)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().local(2).build()
    try {
      // range-derived arrays: literal rows would collapse to a
      // LocalTableScan at plan time and hide the fused expression
      val dot = spark.range(2)
        .selectExpr("transform(sequence(0, 2), i -> cast(i + id AS double)) AS a",
          "transform(sequence(0, 2), i -> 2.0D) AS b")
        .selectExpr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v) AS dot")
      val hadoop = spark.sparkContext.hadoopConfiguration
      val isolation = "spark.sql.artifact.isolation.enabled"
      Seq(
        "fused" -> dot.queryExecution.optimizedPlan.exists(
          _.expressions.exists(_.exists(_.isInstanceOf[functions.ArrayDotProduct]))),
        "dots" -> dot.orderBy("dot").collect().map(_.getDouble(0)).mkString(","),
        "sql" -> spark.sql("SELECT array_dot_product(array(2.0D), array(8.0D))").head().getDouble(0),
        "fs" -> FileSystem.get(URI.create("file:///"), hadoop).getClass.getName,
        "afs" -> FileContext.getLocalFSFileContext(hadoop).getDefaultFileSystem.getClass.getName,
        "isolation" -> spark.conf.get(isolation),
        "isolation.new" -> spark.newSession().conf.get(isolation)
      ).foreach { case (k, v) => println(s"$k\t$v") }
    } finally spark.stop()
  }
}
