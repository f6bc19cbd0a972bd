package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem without a forked process per call.
  *
  * Without Hadoop's native library (Spark ships none) the stock
  * `RawLocalFileSystem` starts a `chmod` process for every file and
  * directory it creates with a permission and a `readlink` process for
  * every link-status call; the latter runs on the path's string, which
  * for the qualified `file:` paths Spark passes never names a file, so
  * it always answers "not a link". A streaming micro-batch's metadata,
  * offsets, state-store deltas, checksum files and commits pay one such
  * process each (docs/DESIGN.md "Session").
  *
  * [[Raw]] sets the nine permission bits through NIO and asks NIO
  * whether a path is a link; only a sticky or set-id bit, or a real
  * symlink, still goes to the stock code. [[FileSystem]] (the
  * `FileSystem` API: parquet commits) and [[Fs]] (the `FileContext`
  * API: streaming checkpoints and state stores) are Hadoop's checksummed
  * local filesystems over it; `graft.GraftSession` installs both.
  */
object LocalFs {

  /** The Hadoop settings that route `file:` through these classes. */
  val hadoopConfs: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[FileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[Fs].getName)

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
      catch { case e: NoSuchFileException => throw new FileNotFoundException(e.getFile) }
    }

    /** What the stock code returns for a path that is not a link; a link
      * goes to it by its bare path, which its `readlink` can read. */
    override def getFileLinkStatus(f: Path): FileStatus = {
      val file = pathToFile(f)
      if (!Files.isSymbolicLink(file.toPath)) getFileStatus(f)
      else {
        val st = super.getFileLinkStatus(new Path(file.getPath))
        st.setPath(f)
        st
      }
    }

    override def getLinkTarget(f: Path): Path = super.getLinkTarget(new Path(pathToFile(f).getPath))
  }

  class FileSystem extends LocalFileSystem(new Raw)

  /** Hadoop's `LocalFs` over [[Raw]]; Hadoop constructs it from
    * (URI, Configuration), and the URI is always `file:///`. */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(conf))

  /** Hadoop's `RawLocalFs` over [[Raw]], with its overrides. */
  private class RawFs(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    @deprecated("as in Hadoop's AbstractFileSystem", "")
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  private val bits = PosixFilePermission.values.toSeq.zipWithIndex.map { case (p, i) => p -> (0x100 >> i) }

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.foreach { case (p, b) => if ((mode & b) != 0) s.add(p) }
    s
  }
}
