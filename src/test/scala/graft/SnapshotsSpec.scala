package graft

import graft.sources.Snapshots
import java.nio.file.{Files, Paths}

/** Crash-safety contract of the snapshot helper: a partial directory
  * without Spark's `_SUCCESS` marker must never be trusted — it is
  * replaced by a fresh atomic publish (the round-1 advisory: a JVM
  * dying mid-write used to leave a half-snapshot that later runs
  * silently read as complete).
  */
class SnapshotsSpec extends SparkSpec {
  import spark.implicits._

  private def tmpPath(tag: String) = Paths.get(
    System.getProperty("java.io.tmpdir"),
    s"graft_snaptest_${tag}_${System.nanoTime()}")

  test("publishes once and reuses the marker-validated layout") {
    val p = tmpPath("ok")
    var builds = 0
    def live = { builds += 1; Seq(1L, 2L, 3L).toDF("v") }
    val first = Snapshots.parquet(spark, p, live)
    assert(first.count() === 3)
    assert(Files.exists(p.resolve("_SUCCESS")))
    val second = Snapshots.parquet(spark, p, live)
    assert(second.count() === 3)
    assert(builds === 1, "second call must reuse the published snapshot")
  }

  test("reuse refreshes the snapshot's mtime, so Scratch.cleanupStale keeps a stage in use") {
    val p = tmpPath("reuse")
    Snapshots.parquet(spark, p, Seq(1L).toDF("v")).count()
    val old = System.currentTimeMillis() - 100L * 3600 * 1000
    Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(old))
    assert(Snapshots.parquet(spark, p, Seq(1L).toDF("v")).count() === 1)
    assert(Files.getLastModifiedTime(p).toMillis > System.currentTimeMillis() - 60L * 1000,
      "a marker-validated reuse must refresh the stage's mtime")
  }

  test("a partial dir without _SUCCESS is replaced, not trusted") {
    val p = tmpPath("partial")
    // simulate a JVM death mid-write: directory with a stray file,
    // no _SUCCESS marker
    Files.createDirectories(p)
    Files.writeString(p.resolve("part-00000.parquet"), "not parquet")
    val out = Snapshots.parquet(spark, p, Seq(7L, 8L).toDF("v"))
    assert(out.count() === 2, "must rebuild over the partial layout")
    assert(Files.exists(p.resolve("_SUCCESS")))
  }

  test("unwritable location falls back to the live plan") {
    val p = Paths.get("/proc/graft_snapshot_unwritable")
    val out = Snapshots.parquet(spark, p, Seq(5L).toDF("v"))
    assert(out.count() === 1)
  }
}
