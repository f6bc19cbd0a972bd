package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Scratch-storage policy for every non-artifact byte the engine writes
  * (shuffle files, streaming checkpoints, staged sources, snapshot
  * materializations, managed-table warehouses).
  *
  * Guide §6: local scratch belongs on the fastest local storage the
  * host offers. The default java.io.tmpdir here sits on the host's
  * SHARED virtual disk, and r13 NodeProbe runs measured 11–14 s of
  * task-time in shuffleWriteTime for KILOBYTE-sized exchanges while
  * co-tenants hammered that disk — pure I/O wait charged to whichever
  * qid was running. A RAM-backed tmpfs removes that channel entirely;
  * on a production cluster the same decision is "put spark.local.dir
  * on the provisioned NVMe", expressed via SPARK_GRAFT_LOCAL_DIR.
  *
  * Resolution order (decided once per JVM):
  *   1. SPARK_GRAFT_LOCAL_DIR — explicit deployment choice, any path.
  *   2. /dev/shm, only when it is a writable directory with ≥ 8 GiB
  *      usable (containers often mount a 64 MB shm — that must never
  *      take the shuffle; fixture-scale scratch is MBs, rehearsal
  *      corpora ≲ 1 GiB, both far under the guard).
  *   3. None — Spark/JVM defaults stand.
  *
  * Every entry under [[tmpRoot]] is named graft_* and is one of two
  * kinds (docs/DESIGN.md "Scratch"):
  *  - a *stage*, a layout derived from a corpus dir, shared by every
  *    JVM on that corpus: named by the content of its source tables and
  *    published atomically by [[graft.sources.Snapshots]];
  *  - a *per-process entry* ([[own]]), graft_<kind>_<pid>[_<suffix>],
  *    read and written by its owner JVM only.
  * Both are rebuildable, so a reboot-cleared tmpfs merely causes a
  * re-stage, exactly like a reaped /tmp.
  */
object Scratch {
  /** Fast scratch root, if this host offers one (see resolution order). */
  lazy val fastRoot: Option[String] =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").map(_.trim).filter(_.nonEmpty)
      .orElse {
        try {
          val shm = Paths.get("/dev/shm")
          if (Files.isDirectory(shm) && Files.isWritable(shm) &&
              Files.getFileStore(shm).getUsableSpace >= (8L << 30)) {
            val root = shm.resolve("graft_scratch")
            Files.createDirectories(root)
            Some(root.toString)
          } else None
        } catch { case _: Throwable => None }
      }

  /** Root of every graft_* entry: the fast root when available, else
    * java.io.tmpdir. Read only here and by Snapshots, which derive
    * every entry's name. */
  private[graft] lazy val tmpRoot: String =
    fastRoot.getOrElse(System.getProperty("java.io.tmpdir"))

  /** The per-process entry kinds. A stage purpose is never one of them,
    * so a stage name can never parse as pid-owned. */
  private[graft] val ProcessKinds =
    Seq("transport", "chk", "warehouse", "cbo", "sink", "warm")

  /** The per-process entry `graft_<kind>_<pid>[_<suffix>]` of this JVM.
    * Only this JVM reads or writes it: two JVMs on one host never share
    * a warehouse, a transport channel or a sink (they once raced
    * join_bucketed's clear-and-recreate of the bucketed tables). It is
    * deleted when the JVM exits normally, and [[cleanupStale]] reaps a
    * killed JVM's once the pid is dead — never by age: a long-lived JVM
    * keeps its warehouse and transport however old they are. */
  def own(kind: String, suffix: String = ""): Path = {
    require(ProcessKinds.contains(kind), s"not a per-process scratch kind: $kind")
    deleteOwnAtExit
    Paths.get(tmpRoot, s"graft_${kind}_${ProcessHandle.current().pid()}" +
      (if (suffix.isEmpty) "" else "_" + suffix))
  }

  private lazy val deleteOwnAtExit: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val self = ProcessHandle.current().pid()
      entries(Paths.get(tmpRoot))
        .filter(p => pidOf(p.getFileName.toString).contains(self))
        .foreach(deleteRecursively)
    }))

  /** Owner pid of a per-process entry or of a stage's in-flight
    * `.tmp.<pid>` publish dir; None for a published stage. */
  private val PidName =
    s"graft_(?:(?:${ProcessKinds.mkString("|")})_|.*\\.tmp\\.)([0-9]+)(?:_.*)?".r
  private[graft] def pidOf(name: String): Option[Long] = name match {
    case PidName(p) => p.toLongOption
    case _ => None
  }

  /** Bound graft_scratch growth; [[GraftSession]] runs it when it starts
    * an application, before the first query.
    * Deletes every graft_* entry under `root` that is
    *  - pid-owned (a per-process entry or an in-flight stage tmp) by a
    *    dead process other than this one, whatever its age: nobody else
    *    ever reads it; or
    *  - a published stage unused for `maxAgeMillis` (default 48 h):
    *    each reuse calls [[touch]], so the bound is the gap since the
    *    stage's last use, and a stage still in use is never aged out
    *    inside a run. A regenerated corpus's old stages are already
    *    superseded at publish time; this catches corpora that are gone.
    * graft_scale (the rehearsal corpora, minutes to resynth) is never
    * touched. Returns the number of entries deleted. Injectable root,
    * clock and liveness for the unit test. */
  def cleanupStale(root: Path = Paths.get(tmpRoot),
      maxAgeMillis: Long = 48L * 3600 * 1000,
      now: Long = System.currentTimeMillis(),
      isAlive: Long => Boolean =
        pid => ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false)): Int = {
    val self = ProcessHandle.current().pid()
    entries(root).count { p =>
      val name = p.getFileName.toString
      val stale = name.startsWith("graft_") && name != "graft_scale" &&
        (pidOf(name) match {
          case Some(pid) => pid != self && !isAlive(pid)
          case None =>
            try Files.getLastModifiedTime(p).toMillis < now - maxAgeMillis
            catch { case _: Throwable => false }
        })
      stale && deleteRecursively(p)
    }
  }

  /** The entries directly under `dir`; none if it cannot be listed. */
  private[graft] def entries(dir: Path): Seq[Path] =
    try {
      val listing = Files.list(dir)
      try listing.iterator().asScala.toSeq finally listing.close()
    } catch { case _: java.io.IOException => Nil }

  /** Delete `p` and everything under it; false if it was absent or a
    * file could not be deleted (another JVM racing the same delete). */
  def deleteRecursively(p: Path): Boolean =
    Files.exists(p) && {
      try {
        val files = Files.walk(p)
        try files.iterator().asScala.toSeq.reverseIterator.foreach(Files.deleteIfExists(_))
        finally files.close()
        true
      } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => false }
    }

  /** Mark a reused stage as used at `now`: [[cleanupStale]] ages stages
    * by their mtime, which reads never refresh. Best effort: a failed
    * touch only risks a re-stage after 48 h. */
  def touch(p: Path, now: Long = System.currentTimeMillis()): Unit =
    try Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(now))
    catch { case _: Throwable => () }
}
