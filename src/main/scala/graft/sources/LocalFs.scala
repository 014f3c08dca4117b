package graft.sources

import java.net.URI
import java.nio.file.{Files, attribute}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without a forked process per file.
  *
  * Without `libhadoop`, stock `RawLocalFileSystem` runs `chmod` for
  * every file create and mkdir (`.crc` sidecars and committer dirs
  * included) and `readlink` for every `FileContext` rename — ~7 ms of
  * process start each. This class does both through `java.nio` and
  * defers to the stock code for what NIO cannot express (the sticky
  * bit, a non-POSIX filesystem) and for a real symlink, so the bytes,
  * checksums and permissions written are unchanged.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = permission.toShort
      // PosixFilePermission's order is owner rwx, group rwx, others rwx
      val perms = attribute.PosixFilePermission.values
        .filter(q => (bits & (1 << (8 - q.ordinal))) != 0)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, java.util.Set.of(perms: _*))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  // the stock method runs `readlink` and, for anything but a symlink,
  // returns getFileStatus
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over the fork-free raw FS. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` side (the
  * streaming checkpoint's offset and commit logs): stock `LocalFs`
  * with the fork-free raw FS. The delegate repeats `RawLocalFs`'s
  * overrides, whose constructors are package-private. `uri` is always
  * `file:///`; the reflective constructor only needs the signature.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    @deprecated("as in AbstractFileSystem", "")
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })
