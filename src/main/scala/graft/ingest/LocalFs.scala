package graft.ingest

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its helper processes.
  *
  * Without `libhadoop` (Spark's binary distribution ships none), the
  * stock `RawLocalFileSystem` forks `chmod` for every file, `.crc` file
  * and directory it creates (`setPermission` → `Shell.execCommand`),
  * and `readlink` for every `getFileLinkStatus`, which `FileContext`
  * runs on both sides of each rename. Structured Streaming's offset
  * and commit logs and RocksDB's state uploads rename through
  * `FileContext`, and every parquet write creates files, so a streaming
  * trigger started a few hundred processes at about 2 ms each.
  *
  * These classes answer the two calls in-process and hand every case
  * they do not cover to Hadoop's own code: a sticky bit, a path that is
  * a symlink, or a filesystem without POSIX permissions. All else,
  * umask handling included, is the stock implementation. */
class InProcessRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (permission.getStickyBit || Files.isSymbolicLink(file)) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** The stock call asks `readlink` about `new File(f.toString)` and,
    * when that names no symlink, returns `getFileStatus(f)`. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(Paths.get(f.toString))) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `FileSystem` API (`fs.file.impl`): checksummed, like `LocalFileSystem`. */
class InProcessLocalFileSystem extends LocalFileSystem(new InProcessRawLocalFileSystem)

/** `FileContext` twin of `org.apache.hadoop.fs.local.RawLocalFs`. */
class InProcessRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new InProcessRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as in AbstractFileSystem", "3.0")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local filesystems differ in what they accept: let the OS decide
  override def isValidName(src: String): Boolean = true
}

/** `FileContext` API (`fs.AbstractFileSystem.file.impl`), like
  * `org.apache.hadoop.fs.local.LocalFs`; Hadoop constructs it by
  * reflection with (URI, Configuration). */
class InProcessLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new InProcessRawLocalFs(conf))

object LocalFs {
  val FileSystemKey = "fs.file.impl"
  val AbstractFileSystemKey = "fs.AbstractFileSystem.file.impl"

  /** A key the caller set: in code, a `core-site.xml`, or a
    * `spark.hadoop.` SparkConf entry; not a `core-default.xml` default. */
  private def callerSet(conf: Configuration, key: String): Boolean =
    Option(conf.getPropertySources(key)).exists(!_.forall(_ == "core-default.xml"))

  private val installedOnce = new AtomicBoolean(false)

  /** Points both local-filesystem keys of `conf` at the classes above,
    * unless the caller set either key. Hadoop caches `FileSystem`s by
    * scheme and user, not by conf, so the first install in a JVM closes
    * a cached instance of the class Hadoop itself resolves for `file`
    * (`LocalFileSystem`, or Hive's `ProxyLocalFileSystem` subclass when
    * Spark's hive-exec jar registers it) and caches this one in its
    * place. A cached instance of any other class is the caller's and
    * stays. */
  def install(conf: Configuration): Unit =
    if (!callerSet(conf, FileSystemKey) && !callerSet(conf, AbstractFileSystemKey)) {
      val stock = FileSystem.getFileSystemClass(FsConstants.LOCAL_FS_URI.getScheme, conf)
      conf.set(FileSystemKey, classOf[InProcessLocalFileSystem].getName)
      conf.set(AbstractFileSystemKey, classOf[InProcessLocalFs].getName)
      if (installedOnce.compareAndSet(false, true)) {
        val cached = FileSystem.get(FsConstants.LOCAL_FS_URI, conf)
        if (cached.getClass == stock) {
          cached.close()
          FileSystem.get(FsConstants.LOCAL_FS_URI, conf)
        }
      }
    }
}
