package graft

import graft.sources.Snapshots
import java.nio.file.{Files, Path, Paths}

/** The stage contract of graft.sources.Snapshots: only a `_SUCCESS`-
  * marked stage is trusted (the round-1 advisory: a JVM dying mid-write
  * used to leave a half-snapshot that later runs silently read as
  * complete), a stage is named by its source tables' content, a lost
  * publish race keeps the winner's stage, and a publish supersedes the
  * older stages of the same (purpose, dir) but nothing else.
  */
class SnapshotsSpec extends SparkSpec {
  import spark.implicits._

  /** A throwaway corpus dir holding one source table `t`. */
  private def corpus(rows: Long*): String = {
    val dir = Files.createTempDirectory("graft_snapcorpus_")
    rows.toDF("v").write.parquet(dir.resolve("t.parquet").toString)
    dir.toString
  }

  private def stagesOf(dir: String): Seq[Path] =
    Scratch.entries(Paths.get(Scratch.tmpRoot)).filter(
      _.getFileName.toString.contains(s"_${Integer.toHexString(dir.hashCode)}_"))

  /** Run `body` on a fresh corpus, then delete it and its stages. */
  private def withCorpus(rows: Long*)(body: String => Unit): Unit = {
    val dir = corpus(rows: _*)
    try body(dir)
    finally {
      stagesOf(dir).foreach(Scratch.deleteRecursively)
      Scratch.deleteRecursively(Paths.get(dir))
    }
  }

  private def snap(dir: String, live: => org.apache.spark.sql.DataFrame) =
    Snapshots.parquet(spark, "snaptest", dir, Seq("t"), live)

  test("publishes once and reuses the marker-validated layout") {
    withCorpus(1L, 2L, 3L) { dir =>
      var builds = 0
      def live = { builds += 1; spark.read.parquet(s"$dir/t.parquet") }
      assert(snap(dir, live).count() === 3)
      val p = Snapshots.stagePath("snaptest", dir, Seq("t"))
      assert(Files.exists(p.resolve("_SUCCESS")))
      assert(snap(dir, live).count() === 3)
      assert(builds === 1, "second call must reuse the published snapshot")
      assert(stagesOf(dir) === Seq(p), "the publish left a tmp or a second stage behind")
    }
  }

  test("reuse refreshes the snapshot's mtime, so Scratch.cleanupStale keeps a stage in use") {
    withCorpus(1L) { dir =>
      snap(dir, Seq(1L).toDF("v")).count()
      val p = Snapshots.stagePath("snaptest", dir, Seq("t"))
      val old = System.currentTimeMillis() - 100L * 3600 * 1000
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(old))
      assert(snap(dir, Seq(1L).toDF("v")).count() === 1)
      assert(Files.getLastModifiedTime(p).toMillis > System.currentTimeMillis() - 60L * 1000,
        "a marker-validated reuse must refresh the stage's mtime")
    }
  }

  test("a partial dir without _SUCCESS is replaced, not trusted") {
    withCorpus(7L, 8L) { dir =>
      // simulate a foreign writer's partial layout: a stray file, no marker
      val p = Snapshots.stagePath("snaptest", dir, Seq("t"))
      Files.createDirectories(p)
      Files.writeString(p.resolve("part-00000.parquet"), "not parquet")
      val out = snap(dir, Seq(7L, 8L).toDF("v"))
      assert(out.count() === 2, "must rebuild over the partial layout")
      assert(Files.exists(p.resolve("_SUCCESS")))
    }
  }

  test("unwritable location falls back to the live plan") {
    withCorpus(5L) { dir =>
      // the write fails as it does on an unwritable scratch root
      val out = Snapshots.materialize(spark, "snaptest", dir, Seq("t"), Seq(5L).toDF("v"),
        (_, p) => throw new java.nio.file.AccessDeniedException(p),
        (s, p) => s.read.parquet(p))
      assert(out.count() === 1)
      assert(stagesOf(dir).isEmpty, "a failed publish left its tmp or a stage behind")
    }
  }

  test("a lost publish race keeps the winner's stage and discards the loser's tmp") {
    withCorpus(1L) { dir =>
      val p = Snapshots.stagePath("snaptest", dir, Seq("t"))
      val staged = Snapshots.stage("snaptest", dir, Seq("t")) { tmp =>
        Files.writeString(tmp.resolve("loser"), "x")
        // another JVM publishes while this one writes
        Files.createDirectories(p)
        Files.writeString(p.resolve("winner"), "x")
        Files.createFile(p.resolve("_SUCCESS"))
      }
      assert(staged === p)
      assert(Files.exists(p.resolve("winner")) && !Files.exists(p.resolve("loser")))
      assert(stagesOf(dir) === Seq(p), "the loser's tmp survived")
    }
  }

  test("a publish supersedes older stages of its (purpose, dir), never a tmp or another purpose") {
    withCorpus(1L) { dir =>
      val first = Snapshots.stage("snaptest", dir, Seq("t"))(_ => ())
      val other = Snapshots.stage("snapother", dir, Seq("t"))(_ => ())
      val inFlight = first.resolveSibling(s"${first.getFileName}.tmp.1")
      Files.createDirectories(inFlight)
      // rewrite the source table in place: new content, new stage name
      Seq(1L, 2L).toDF("v").write.mode("overwrite").parquet(s"$dir/t.parquet")
      val second = Snapshots.stage("snaptest", dir, Seq("t"))(_ => ())
      assert(second !== first)
      assert(!Files.exists(first), "the superseded stage survived")
      assert(Files.exists(inFlight), "an in-flight tmp was deleted")
      assert(Files.exists(other), "another purpose's stage was deleted")
    }
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
    withCorpus(1L, 2L, 3L) { dir =>
      def live = Seq(1L, 2L, 3L).toDF("x")
      val first = snap(dir, live)
      val second = snap(dir, live)
      assert(first.count() === 3)
      assert(first eq second, "a marker-validated snapshot read was " +
        "re-derived instead of memoized")
    }
  }
}
