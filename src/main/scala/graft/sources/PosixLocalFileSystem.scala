package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's `file:` filesystem, checksums and `.crc` sidecars unchanged,
  * over [[PosixRawLocalFileSystem]]. `GraftSession.builder` registers it as
  * `fs.file.impl` (DECISIONS.md "Session defaults").
  */
class PosixLocalFileSystem extends LocalFileSystem(new PosixRawLocalFileSystem)

/** Sets permissions and reads link status in-process. Without libhadoop,
  * Hadoop's `setPermission` forks `chmod` for every directory and file a
  * write creates (about 3 ms each); `java.nio` sets the same bits in
  * ~10 µs. Hadoop's own path still runs when native IO is loaded, for the
  * sticky bit (which `PosixFilePermission` cannot express), and on a file
  * store without POSIX attributes.
  */
class PosixRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (NativeIO.isAvailable || permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  /** Hadoop's default (non-`stat`) `getFileLinkStatus` forks `readlink` on
    * `new File(f.toString)`. For a `file:`-qualified path that string
    * (`file:/…`) names no file, so `readlink` reports no link and Hadoop
    * returns `getFileStatus(f)`: this returns it without the fork.
    * `FileContext.rename` asks for both paths and both `.crc` sidecars.
    * Unqualified paths keep Hadoop's code.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (f.toUri.getScheme == "file") getFileStatus(f) else super.getFileLinkStatus(f)
}

/** The same for Hadoop `FileContext`, which Spark's streaming checkpoints
  * write through: Hadoop's `local.LocalFs` (checksums over `RawLocalFs`)
  * with [[PosixRawLocalFileSystem]] underneath. `GraftSession.builder`
  * registers it as `fs.AbstractFileSystem.file.impl`; like `LocalFs`, it
  * binds `file:///` whatever URI it is built for.
  */
class PosixLocalFileContextFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new PosixRawLocalFileContextFs(conf))

/** `RawLocalFs` over [[PosixRawLocalFileSystem]], with its four overrides. */
class PosixRawLocalFileContextFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new PosixRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
