package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Scratch

/** Stages: layouts derived from a corpus dir (a re-encode, a
  * materialized view, a stream's landing dir), shared by every JVM on
  * that corpus and reused across queries (docs/DESIGN.md "Scratch").
  *
  * A stage of `tables` under `dir` is named
  * `graft_<purpose>_<hex(dir)>_<hex(content)>`, content being the
  * tables' data file names, sizes and mtimes (file attributes, never a
  * parquet footer). A rewritten or regenerated table therefore gets a
  * new stage, never a replay of the old one. A purpose names one
  * derivation; changing what a stage holds renames its purpose.
  *
  * One publish protocol: the layout is written into a pid-tagged
  * `.tmp.<pid>` dir, marked `_SUCCESS`, and atomically moved into place.
  * Only a marked stage is ever read, so a JVM dying mid-write leaves
  * nothing a later run would trust. The marker is re-checked after the
  * (slow) write: a JVM that lost the race discards its own tmp and uses
  * the winner's stage, which is never deleted under a reader. The
  * publisher supersedes the older stages of the same (purpose, dir) —
  * the previous content of that corpus — and their memoized reads, but
  * never another JVM's in-flight tmp. (A JVM still reading the previous
  * content's stage loses it; its corpus has changed under it anyway.)
  * Every reuse touches the stage (Scratch.cleanupStale ages stages by
  * mtime).
  */
object Snapshots {

  /** The data files of table `name` under `dir`: the `<name>.parquet`
    * file itself, or a multi-part directory's files by name (`_`/`.`
    * entries are metadata, not data); none when the table is absent. */
  def dataFiles(dir: String, name: String): Seq[Path] = {
    val src = Paths.get(dir, s"$name.parquet")
    if (Files.isDirectory(src))
      Scratch.entries(src).filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
      }.sortBy(_.getFileName.toString)
    else Seq(src).filter(Files.isRegularFile(_))
  }

  /** The content of `tables` under `dir`: each data file's table, name,
    * size and mtime, read from file attributes (never a parquet footer).
    * It names a stage and keys a memoized table scan. */
  private[graft] def content(dir: String, tables: Seq[String]): Seq[(String, String, Long, Long)] =
    tables.flatMap(t => dataFiles(dir, t).map { p =>
      val a = Files.readAttributes(p, classOf[BasicFileAttributes])
      (t, p.getFileName.toString, a.size(), a.lastModifiedTime().toMillis)
    })

  /** Where the stage of `tables` under `dir` for `purpose` lives. */
  private[graft] def stagePath(purpose: String, dir: String, tables: Seq[String]): Path = {
    require(purpose.matches("[a-z]+") && !Scratch.ProcessKinds.contains(purpose),
      s"bad stage purpose: $purpose")
    Paths.get(Scratch.tmpRoot, s"graft_${purpose}_${hex(dir)}_${hex(content(dir, tables))}")
  }

  private def hex(key: Any): String = Integer.toHexString(key.hashCode)

  /** The published stage of `tables` under `dir` for `purpose`, written
    * by `write` into the tmp dir it is given when absent. Throws when no
    * stage can be published (an unwritable root, a failed write). */
  def stage(purpose: String, dir: String, tables: Seq[String])(write: Path => Unit): Path = {
    val path = stagePath(purpose, dir, tables)
    val marker = path.resolve("_SUCCESS")
    if (!Files.exists(marker)) {
      val tmp = path.resolveSibling(
        s"${path.getFileName}.tmp.${ProcessHandle.current().pid()}")
      try {
        Files.createDirectories(tmp)
        write(tmp)
        if (!Files.exists(tmp.resolve("_SUCCESS"))) Files.createFile(tmp.resolve("_SUCCESS"))
        if (!Files.exists(marker)) {
          Scratch.deleteRecursively(path) // an unmarked dir is nobody's stage
          try {
            Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
            supersede(path)
          } catch { case _: java.io.IOException => () } // lost the race: use theirs
        }
      } finally Scratch.deleteRecursively(tmp)
    }
    if (!Files.exists(marker)) throw new java.io.IOException(s"stage $path not published")
    Scratch.touch(path)
    path
  }

  /** Delete the other published stages of `path`'s (purpose, dir) and
    * forget their reads. */
  private def supersede(path: Path): Unit = {
    val name = path.getFileName.toString
    val prefix = name.substring(0, name.lastIndexOf('_') + 1)
    Scratch.entries(path.getParent).foreach { p =>
      val n = p.getFileName.toString
      if (n.startsWith(prefix) && n != name && !n.contains(".tmp.")) {
        Scratch.deleteRecursively(p)
        graft.Memo.forget(("stage", p.toString))
      }
    }
  }

  /** A parquet stage of `live`, read back; `live` itself when no stage
    * can be published. */
  def parquet(spark: SparkSession, purpose: String, dir: String, tables: Seq[String],
      live: => DataFrame,
      write: (DataFrame, String) => Unit =
        (df, p) => df.write.mode("overwrite").parquet(p)): DataFrame =
    materialize(spark, purpose, dir, tables, live, write, (s, p) => s.read.parquet(p))

  /** The stage `write` makes of `live`, read with `read`; `live` itself
    * when no stage can be published. Reads are memoized per
    * (application, stage) in [[graft.Memo]]: a published stage never
    * changes, and re-deriving the scan costs ~60 ms of driver file
    * listing + footer read per call (the ratings view alone is read by
    * ~20 qids). */
  def materialize(spark: SparkSession, purpose: String, dir: String, tables: Seq[String],
      live: => DataFrame,
      write: (DataFrame, String) => Unit,
      read: (SparkSession, String) => DataFrame): DataFrame =
    try {
      val path = stage(purpose, dir, tables)(tmp => write(live, tmp.toString)).toString
      graft.Memo(spark, ("stage", path), s"stage $path")(read(spark, path))
    } catch { case NonFatal(_) => live }
}
