package graft.util

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/**
 * Hadoop's local `file:` filesystem without a forked process per call.
 * Without the native Hadoop library (`NativeIO.isAvailable` false),
 * `RawLocalFileSystem` sets every permission by running `chmod` and
 * reads every link status by running `readlink`: each local mkdirs,
 * create (and its `.crc`) and FileContext rename forks at least once:
 * 2.9–3.2 ms per `mkdirs`, 5.9–6.9 ms per create and 20.5–20.8 ms per
 * FileContext rename, against 0.09–0.20, 0.76–0.79 and 0.34–0.43 ms
 * here (200 calls each, 4-core Linux box, 2 GB live heap). A stream
 * replay's offsets and commits logs, state deltas and sink part files
 * all pay that. This one sets the same nine rwx bits through
 * `java.nio` and reads a non-symlink's status in-process; a sticky bit,
 * a symlink or a filesystem without POSIX attributes takes Hadoop's own
 * path. [[graft.functions.GraftExtensions]] binds it as the `file:`
 * FileSystem ([[ForkFreeLocalFileSystem]], checksummed like Hadoop's
 * `LocalFileSystem`) and as the `file:` AbstractFileSystem
 * ([[ForkFreeLocalFs]]) that FileContext, and so Spark's streaming
 * checkpoint manager, goes through.
 */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if ((permission.toShort & ~0x1ff) != 0 || !ForkFreeRawLocalFileSystem.posix)
      super.setPermission(p, permission)
    else
      Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}

/** The checksummed `file:` FileSystem over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `file:` AbstractFileSystem (Hadoop's `LocalFs`) over
  * [[ForkFreeRawLocalFileSystem]]; Hadoop constructs it reflectively
  * through this (URI, Configuration) constructor. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Hadoop's `RawLocalFs`, whose constructors are package-private, over
  * [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeRawLocalFs(conf: Configuration) extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
    new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
