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

  // Tables.table and marker-validated Snapshots reads are memoized per
  // application: the same call must return the SAME plan instance, or
  // every qid re-pays ~60 ms of driver file listing + footer read
  // (measured: 200 re-reads = 11.7 s).
  test("Tables.table returns the memoized scan instance") {
    val a = sources.Tables.table(spark, sfDir, "part")
    val b = sources.Tables.table(spark, sfDir, "part")
    assert(a eq b, "Tables.table re-derived the scan — the per-query " +
      "file-listing overhead is back")
  }

  test("Snapshots memoizes marker-validated reads, same instance per app") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_snapmemo_")
    val snap = dir.resolve("t")
    def live = Seq(1L, 2L, 3L).toDF("x")
    val first = sources.Snapshots.parquet(spark, snap, live)
    val second = sources.Snapshots.parquet(spark, snap, live)
    assert(first.count() === 3)
    assert(first eq second, "a marker-validated snapshot read was " +
      "re-derived instead of memoized")
    sources.Snapshots.deleteRecursively(dir)
  }
}
