package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, Path}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Fork-free `file:` file systems. Without Hadoop's native library,
  * `RawLocalFileSystem` starts an OS process for two calls on every
  * write path: `setPermission` runs `chmod` (each created file, its
  * `.crc`, each new dir) and `getFileLinkStatus` runs `readlink` (both
  * paths of every `FileContext` rename: each checkpoint-log entry, each
  * state-store delta). Each costs milliseconds where `java.nio` takes
  * microseconds, and the `readlink` is passed the qualified `file:/…`
  * string, so it always fails and answers "not a link".
  *
  * [[LocalFiles.RawLocalFileSystem]] overrides exactly those two calls
  * with `java.nio`, falling back to Hadoop's own code for what `java.nio`
  * cannot say the same way (modes above 0777, non-POSIX stores, real
  * symlinks). [[LocalFiles.LocalFileSystem]] (for `fs.file.impl`) and
  * [[LocalFiles.LocalFs]] (for `fs.AbstractFileSystem.file.impl`) put
  * the usual checksum layer over it, so they differ from Hadoop's
  * `LocalFileSystem` and `LocalFs` only in those two methods.
  * [[graft.Graft.session]] installs both; other schemes (HDFS, S3) and
  * Spark's checkpoint-manager choice are untouched. */
object LocalFiles {

  /** `PosixFilePermission.values` runs owner-read … others-execute, the
    * order of the 9 mode bits from 0400 down to 0001. */
  private val modeBits = PosixFilePermission.values.toSeq.zipWithIndex
    .map { case (p, i) => p -> (0x100 >> i) }

  final class RawLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {

    /** The rwx bits through `java.nio`; anything above 0777 (sticky,
      * setuid) or a store without POSIX attributes takes Hadoop's path. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      val view = if ((mode & ~0x1ff) != 0) None else Option(Files.getFileAttributeView(
        pathToFile(p).toPath, classOf[PosixFileAttributeView]))
      view match {
        case Some(v) =>
          val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
          modeBits.foreach { case (perm, bit) => if ((mode & bit) != 0) perms.add(perm) }
          v.setPermissions(perms)
        case None => super.setPermission(p, permission)
      }
    }

    /** A path that is not a symlink has the status of `getFileStatus`
      * (what Hadoop answers once its `readlink` comes back empty);
      * a real symlink takes Hadoop's path. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
    * [[RawLocalFileSystem]]. */
  final class LocalFileSystem
      extends org.apache.hadoop.fs.LocalFileSystem(new RawLocalFileSystem)

  /** `fs.AbstractFileSystem.file.impl` (the `FileContext` side, which
    * Spark's checkpoint logs and state store use): Hadoop's `LocalFs`,
    * a `ChecksumFs` over a `RawLocalFs`, with [[RawLocalFileSystem]]
    * inside. The delegate mirrors every override `RawLocalFs` makes;
    * like `LocalFs`, it ignores the given URI for `file:///`. */
  final class LocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
      new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new RawLocalFileSystem, conf,
          FsConstants.LOCAL_FS_URI.getScheme, false) {
        override def getUriDefaultPort: Int = -1
        override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
        override def getServerDefaults(f: Path): FsServerDefaults =
          LocalConfigKeys.getServerDefaults
        override def isValidName(src: String): Boolean = true
      })
}
