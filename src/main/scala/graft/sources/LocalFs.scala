package graft.sources

import java.net.URI
import java.nio.file.{Files, FileSystems}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with its two shell calls done in-process.
  * Without libhadoop, `RawLocalFileSystem` forks `chmod` for every file,
  * dir and `.crc` it creates, and `readlink` for every `FileContext`
  * rename (the streaming checkpoint's commit path). Both have an exact
  * java.nio twin; everything else is the stock class. Wired in by
  * [[Tables.sessionConfigs]] (`fs.file.impl` and
  * `fs.AbstractFileSystem.file.impl`); without them `file://` is the class
  * the classpath registers last, with Spark's Hive jars hive-exec's
  * `ProxyLocalFileSystem`, a filter over the stock `LocalFileSystem`. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  /** chmod(2) with the same nine bits. A sticky bit, which NIO cannot
    * set, or a non-POSIX filesystem takes the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !NioRawLocalFileSystem.posix)
      super.setPermission(p, permission)
    else {
      val bits = permission.toShort
      // PosixFilePermission's order is rwx for owner, group, others:
      // value i is mode bit 8 - i
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (v, i) =>
        if ((bits & (1 << (8 - i))) != 0) perms.add(v) }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }

  /** The stock call reads the link target with `readlink` and, when
    * there is none, returns `getFileStatus(f)`; a path NIO sees is no
    * symlink gets that directly (a missing one throws
    * `FileNotFoundException` from it, as before). */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private lazy val posix: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}

/** `file://` for `FileSystem`: the stock checksummed `LocalFileSystem`
  * (`.crc` files written and checked) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `file://` for `FileContext`, as Hadoop's `LocalFs`: a `ChecksumFs`
  * over [[NioRawLocalFileSystem]]. `FileContext` constructs it by
  * reflection with (URI, Configuration); like `LocalFs` it ignores the
  * URI, which is always `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(conf))

/** Hadoop's `RawLocalFs` with [[NioRawLocalFileSystem]] as its delegate. */
private class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
      false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  @deprecated("overrides a deprecated Hadoop method", "")
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
