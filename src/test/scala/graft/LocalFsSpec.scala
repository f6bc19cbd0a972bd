package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LocalFs

/** The fork-free local filesystem leaves what the stock one leaves, and
  * the session routes both Hadoop APIs through it. */
class LocalFsSpec extends AnyFunSuite {

  private def withDir[A](body: JPath => A): A = {
    val d = Files.createTempDirectory("graft_spec_localfs")
    try body(d) finally Scratch.deleteRecursively(d)
  }

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def conf(umask: String, graft: Boolean): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    if (graft) LocalFs.hadoopConfs.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** The FileSystem API (a checksummed local filesystem, initialized
    * directly so the JVM's FileSystem cache stays out of it) and the
    * FileContext API. */
  private def apis(umask: String, graft: Boolean): (FileSystem, FileContext) = {
    val c = conf(umask, graft)
    val fs = if (graft) new LocalFs.FileSystem else new org.apache.hadoop.fs.LocalFileSystem
    fs.initialize(URI.create("file:///"), c)
    (fs, FileContext.getLocalFSFileContext(c))
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Relative path -> mode of everything under `root`. */
  private def modes(root: JPath): Map[String, Int] =
    Files.walk(root).iterator.asScala.filter(_ != root)
      .map(p => root.relativize(p).toString -> mode(p)).toMap

  /** The calls Spark makes: mkdirs, create with and without a
    * permission, setPermission, and FileContext's create and rename
    * (the checkpoint files' atomic write). */
  private def exercise(fs: FileSystem, fc: FileContext, root: JPath): Unit = {
    def p(n: String) = new Path(root.resolve(n).toUri)
    fs.mkdirs(p("a/b"), perm("777"))
    fs.mkdirs(p("c"), perm("750"))
    fs.mkdirs(p("d"))
    fs.create(p("a/f1"), perm("666"), true, 4096, 1.toShort, 1L << 20, null).close()
    fs.create(p("c/f2")).close()
    fs.create(p("f3")).close()
    fs.setPermission(p("f3"), perm("640"))
    fc.mkdir(p("e/g"), perm("755"), true)
    fc.create(p("e/g/.tmp"), EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)).close()
    fc.rename(p("e/g/.tmp"), p("e/g/1"), Options.Rename.OVERWRITE)
    fc.setPermission(p("e/g/1"), perm("600"))
  }

  test("file and directory modes equal the stock filesystem's under the same umask") {
    for (umask <- Seq("022", "077", "002")) withDir { d =>
      val (stock, graft) = (d.resolve("stock"), d.resolve("graft"))
      val (sfs, sfc) = apis(umask, graft = false)
      val (gfs, gfc) = apis(umask, graft = true)
      assert(sfc.getDefaultFileSystem.getClass.getName === "org.apache.hadoop.fs.local.LocalFs")
      assert(gfc.getDefaultFileSystem.isInstanceOf[LocalFs.Fs])
      exercise(sfs, sfc, stock)
      exercise(gfs, gfc, graft)
      val want = modes(stock)
      assert(want.size === 14, want) // 10 files and directories, 4 checksum files
      assert(modes(graft) === want, s"umask $umask")
    }
  }

  test("a real symlink reports isSymlink with its target through both APIs") {
    withDir { d =>
      val target = Files.writeString(d.resolve("target"), "x")
      val link = Files.createSymbolicLink(d.resolve("link"), target)
      val (fs, fc) = apis("022", graft = true)
      for (p <- Seq(new Path(link.toUri), new Path(link.toString))) {
        val st = fs.getFileLinkStatus(p)
        assert(st.isSymlink, p)
        assert(st.getSymlink.toUri.getPath === target.toString)
        assert(fc.getFileLinkStatus(p).isSymlink, p)
        assert(fc.getLinkTarget(p).toUri.getPath === target.toString)
      }
      val plain = new Path(target.toUri)
      assert(!fs.getFileLinkStatus(plain).isSymlink)
      assert(!fc.getFileLinkStatus(plain).isSymlink)
      assert(fs.getFileLinkStatus(plain).getLen === 1)
    }
  }

  test("a missing path throws FileNotFoundException") {
    withDir { d =>
      val missing = new Path(d.resolve("missing").toUri)
      val (fs, fc) = apis("022", graft = true)
      intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
      intercept[FileNotFoundException](fc.getFileLinkStatus(missing))
      intercept[FileNotFoundException](fs.setPermission(missing, perm("644")))
    }
  }

  test("a sticky-bit permission still lands") {
    withDir { d =>
      val (fs, fc) = apis("022", graft = true)
      val (a, b) = (d.resolve("a"), d.resolve("b"))
      fs.mkdirs(new Path(a.toUri))
      fs.setPermission(new Path(a.toUri), perm("1777"))
      fc.mkdir(new Path(b.toUri), perm("755"), false)
      fc.setPermission(new Path(b.toUri), perm("1750"))
      assert(mode(a) === Integer.parseInt("1777", 8))
      assert(mode(b) === Integer.parseInt("1750", 8))
    }
  }

  test("the session's Hadoop conf resolves file: to the graft classes through both APIs") {
    val spark = TestSpark.spark
    for (c <- Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf())) {
      val fs = FileSystem.get(URI.create("file:///"), c)
      assert(fs.isInstanceOf[LocalFs.FileSystem], s"${fs.getClass}: the FileSystem cache holds a stock instance")
      assert(FileSystem.getLocal(c).getRaw.isInstanceOf[LocalFs.Raw])
      assert(FileContext.getLocalFSFileContext(c).getDefaultFileSystem.isInstanceOf[LocalFs.Fs])
    }
  }
}
