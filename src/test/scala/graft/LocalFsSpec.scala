package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.ingest.{InProcessLocalFileSystem, InProcessLocalFs, LocalFs}

/** The in-process local filesystem `Engine.prepare` installs behaves
  * as Hadoop's stock one: same modes, same link statuses, and a
  * caller's own choice of filesystem is kept. */
class LocalFsSpec extends SparkSpec {

  private val local = URI.create("file:///")
  private val stockFc = "org.apache.hadoop.fs.local.LocalFs"

  private def conf(umask: Option[String], fcImpl: String): Configuration = {
    val c = new Configuration()
    umask.foreach(c.set("fs.permissions.umask-mode", _))
    c.set(LocalFs.AbstractFileSystemKey, fcImpl)
    c
  }

  private def fileSystem(fs: FileSystem, c: Configuration): FileSystem = {
    fs.initialize(local, c)
    fs
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Files and dirs made through both APIs, relative path → mode. */
  private def modes(fs: FileSystem, fc: FileContext): Map[String, Int] = {
    val root = Files.createTempDirectory("lfs_modes")
    fs.create(new Path(s"$root/fs/a/file")).close()
    fs.mkdirs(new Path(s"$root/fs/b/c"))
    fc.create(new Path(s"$root/fc/a/file"),
      EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent()).close()
    fc.mkdir(new Path(s"$root/fc/b/c"), FsPermission.getDirDefault, true)
    val all = Files.walk(root).iterator.asScala.filter(_ != root).toSeq
    all.map(p => root.relativize(p).toString -> mode(p)).toMap
  }

  test("prepare installs the in-process classes for both Hadoop APIs") {
    val sc = spark.sparkContext
    assert(FileSystem.get(local, sc.hadoopConfiguration).getClass == classOf[InProcessLocalFileSystem])
    // the cache is by scheme and user: a conf without the key gets it too
    assert(FileSystem.get(local, new Configuration()).getClass == classOf[InProcessLocalFileSystem])
    val fc = FileContext.getFileContext(local, spark.sessionState.newHadoopConf())
    assert(fc.getDefaultFileSystem.getClass == classOf[InProcessLocalFs])
  }

  test("created files and dirs get the stock modes, default umask and 027") {
    for (umask <- Seq(None, Some("027"))) {
      val stock = modes(fileSystem(new LocalFileSystem, conf(umask, stockFc)),
        FileContext.getFileContext(local, conf(umask, stockFc)))
      val ours = modes(fileSystem(new InProcessLocalFileSystem, conf(umask, stockFc)),
        FileContext.getFileContext(local, conf(umask, classOf[InProcessLocalFs].getName)))
      // data files, their .crc twins and every dir of both APIs
      assert(stock.keySet.count(_.endsWith(".crc")) == 2, stock.keySet)
      assert(ours == stock, s"umask $umask")
      if (umask.isDefined) assert(ours("fs/a/file") == Integer.parseInt("640", 8) && ours("fc/b") == Integer.parseInt("750", 8))
    }
  }

  test("setPermission keeps the sticky bit") {
    val fs = fileSystem(new InProcessLocalFileSystem, new Configuration())
    val dir = Files.createTempDirectory("lfs_sticky")
    fs.setPermission(new Path(dir.toString), new FsPermission("1777"))
    assert(mode(dir) == Integer.parseInt("1777", 8))
    fs.setPermission(new Path(dir.toString), new FsPermission("750"))
    assert(mode(dir) == Integer.parseInt("750", 8))
  }

  test("getFileLinkStatus equals Hadoop's on a symlink, a file and a missing path") {
    val c = new Configuration()
    val stock = fileSystem(new LocalFileSystem, c)
    val ours = fileSystem(new InProcessLocalFileSystem, c)
    val dir = Files.createTempDirectory("lfs_link")
    val target = Files.writeString(dir.resolve("target"), "abc")
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    def fields(s: FileStatus) = (s.getPath, s.isSymlink, s.isDirectory, s.getLen,
      s.getModificationTime, if (s.isSymlink) s.getSymlink else null)
    for (p <- Seq(link, target).map(f => new Path(f.toString))) {
      assert(fields(ours.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)), p)
    }
    assert(ours.getFileLinkStatus(new Path(link.toString)).getSymlink ==
      new Path(s"file:$target"))
    val missing = new Path(dir.resolve("missing").toString)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
  }

  test("a caller's local filesystem, either key, is left untouched") {
    val keys = Seq(LocalFs.FileSystemKey, LocalFs.AbstractFileSystemKey)
    for (key <- keys) {
      val c = new Configuration()
      c.set(key, "com.example.MyLocalFileSystem")
      val before = keys.map(c.get)
      LocalFs.install(c)
      assert(keys.map(c.get) == before, key)
    }
    val fresh = new Configuration()
    LocalFs.install(fresh)
    assert(keys.map(fresh.get) ==
      Seq(classOf[InProcessLocalFileSystem].getName, classOf[InProcessLocalFs].getName))
  }
}
