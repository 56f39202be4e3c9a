package graft.tables

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without its per-call OS processes.
  *
  * Without `libhadoop.so` (`NativeIO` unavailable), the stock
  * `RawLocalFileSystem` forks `chmod` for every file it creates (and again
  * for its `.crc`) and every directory level it makes, and forks `readlink`
  * for every `getFileLinkStatus`, which `FileContext.rename` (so every
  * Structured Streaming offset/commit/sink-log write) calls on both ends of
  * the rename and of its `.crc`'s. On a 4-vCPU host a checkpoint-log
  * create + rename costs 31 ms through the stock class and 0.3–0.7 ms
  * through this one. The two overrides keep the stock results exactly:
  * the same permission bits, and the same status for a regular file or
  * directory (the stock code returns `getFileStatus` once `readlink`
  * prints nothing). The sticky bit, a host without POSIX attributes, and
  * real symlinks go to `super`. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !ForkFreeRawLocalFileSystem.Posix) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f) else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  private val Posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}

/** The `file` scheme's `FileSystem` (`fs.file.impl`): stock
  * `LocalFileSystem` — `.crc` sidecars and all — over
  * [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `file` scheme's `AbstractFileSystem` for `FileContext`
  * (`fs.AbstractFileSystem.file.impl`), as `org.apache.hadoop.fs.local.LocalFs`
  * is: `ChecksumFs` over a raw binding. The stock raw binding (`RawLocalFs`)
  * cannot be reused: its constructors hardcode `new RawLocalFileSystem()`.
  * Hadoop instantiates it reflectively through this `(URI, Configuration)`
  * constructor; it ignores the URI and roots itself at `file:///`, as the
  * stock class does. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** `org.apache.hadoop.fs.local.RawLocalFs` over [[ForkFreeRawLocalFileSystem]]. */
private[tables] class ForkFreeRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
