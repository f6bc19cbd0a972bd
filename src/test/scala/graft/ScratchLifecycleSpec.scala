package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Units for Scratch.cleanupStale (r14, VERDICT r13 ask #8): the
  * bench-start pass that bounds graft_scratch growth. Injected root,
  * clock, and pid-liveness — no dependency on the host's real scratch.
  */
class ScratchLifecycleSpec extends AnyFunSuite {

  private def mk(root: java.nio.file.Path, name: String, mtime: Long): Unit = {
    val d = root.resolve(name)
    Files.createDirectories(d)
    Files.write(d.resolve("payload"), "x".getBytes)
    Files.setLastModifiedTime(d.resolve("payload"),
      java.nio.file.attribute.FileTime.fromMillis(mtime))
    Files.setLastModifiedTime(d, java.nio.file.attribute.FileTime.fromMillis(mtime))
  }

  test("pidOf parses only the pid-keyed scratch classes") {
    assert(Scratch.pidOf("graft_transport_12345_abc").contains(12345L))
    assert(Scratch.pidOf("graft_chk_7_99").contains(7L))
    assert(Scratch.pidOf("graft_chk_42").contains(42L))
    assert(Scratch.pidOf("graft_ratings_abc").isEmpty)
    assert(Scratch.pidOf("graft_stream_f03e707").isEmpty)
    assert(Scratch.pidOf("graft_scale").isEmpty)
    assert(Scratch.pidOf("unrelated_123").isEmpty)
  }

  test("cleanupStale: dead-pid dirs go, live/self/fresh/excluded stay") {
    val root = Files.createTempDirectory("graft_scratch_spec")
    val now = 1_000_000_000_000L
    val hour = 3600L * 1000
    val self = ProcessHandle.current().pid()
    // dead-pid transport dir (fresh mtime — pid-liveness, not age, decides)
    mk(root, "graft_transport_111_aa", now - hour)
    // live-pid transport dir
    mk(root, "graft_transport_222_bb", now - 100 * hour)
    // own-pid checkpoint dir (must never self-delete, even if isAlive lies)
    mk(root, s"graft_chk_${self}_1", now - 100 * hour)
    // stale corpus-keyed staging (age decides)
    mk(root, "graft_ratings_deadbeef", now - 49 * hour)
    // fresh corpus-keyed staging
    mk(root, "graft_stream_cafe_1", now - 47 * hour)
    // rehearsal corpora: excluded outright regardless of age
    mk(root, "graft_scale", now - 1000 * hour)
    // non-graft entry: never touched
    mk(root, "someone_elses_tmp", now - 1000 * hour)
    val n = Scratch.cleanupStale(root, maxAgeMillis = 48 * hour, now = now,
      isAlive = pid => pid == 222L)
    assert(n == 2, s"expected exactly dead-pid + stale-staging deletions, got $n")
    def exists(nm: String) = Files.exists(root.resolve(nm))
    assert(!exists("graft_transport_111_aa"), "dead-pid dir survived")
    assert(exists("graft_transport_222_bb"), "live-pid dir deleted")
    assert(exists(s"graft_chk_${self}_1"), "own-pid dir deleted")
    assert(!exists("graft_ratings_deadbeef"), "stale staging survived")
    assert(exists("graft_stream_cafe_1"), "fresh staging deleted")
    assert(exists("graft_scale"), "rehearsal corpora deleted")
    assert(exists("someone_elses_tmp"), "non-graft entry deleted")
    // idempotent second pass: nothing left to delete
    assert(Scratch.cleanupStale(root, maxAgeMillis = 48 * hour, now = now,
      isAlive = pid => pid == 222L) == 0)
    // degenerate root: no throw, zero deletions
    assert(Scratch.cleanupStale(Paths.get(root.toString, "missing")) == 0)
  }

  test("a stage reused after 48 h survives cleanupStale: reuse refreshes its mtime") {
    val root = Files.createTempDirectory("graft_scratch_spec")
    val t0 = 1_000_000_000_000L
    val hour = 3600L * 1000
    // both staged at t0; one is reused 50 h later (a bench re-run on the
    // same corpus), the other never again
    mk(root, "graft_stream_cafe_2", t0)
    mk(root, "graft_ratings_beef", t0)
    Scratch.touch(root.resolve("graft_stream_cafe_2"), now = t0 + 50 * hour)
    val n = Scratch.cleanupStale(root, maxAgeMillis = 48 * hour, now = t0 + 51 * hour,
      isAlive = _ => true)
    assert(n == 1, s"expected only the unused stage deleted, got $n")
    assert(Files.exists(root.resolve("graft_stream_cafe_2")), "reused stage deleted")
    assert(!Files.exists(root.resolve("graft_ratings_beef")), "unused stale stage survived")
    // a missing path is a no-op, never a throw
    Scratch.touch(root.resolve("missing"))
  }
}
