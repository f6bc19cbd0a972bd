package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The session builder's per-JVM policy and the per-application memo.
  * Two tests stop the shared session and build the next one, so every
  * call here goes through `TestSpark.spark`, which returns the live one.
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
}
