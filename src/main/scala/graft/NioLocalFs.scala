package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system with its two forking calls done in
  * java.nio. Without libhadoop, `RawLocalFileSystem` starts a `chmod`
  * process for every `setPermission` (each created file and directory)
  * and a `readlink` process for every `getFileLinkStatus` (twice per
  * rename). Every other call, and every answer, is Hadoop's own.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through java.nio; a sticky bit, or a file system without
    * POSIX attributes, goes to Hadoop.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
        permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, bits): Unit
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  /** A path that is not a symlink is its own link status: Hadoop's
    * `readlink` would print nothing and it would return `getFileStatus`
    * (a missing path included). Symlinks, dangling ones too, go to
    * Hadoop.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `fs.file.impl` class: Hadoop's checksummed local file system
  * over [[NioRawLocalFileSystem]]. It stays a `LocalFileSystem`, which
  * `FileSystem.getLocal` casts to.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFs` over [[NioRawLocalFileSystem]]; Hadoop's constructors
  * are package-private and hard-code the stock raw file system, so its
  * four overrides are repeated here.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The `fs.AbstractFileSystem.file.impl` class, which FileContext (the
  * streaming checkpoint and state-store writer) uses: Hadoop's `LocalFs`
  * over [[NioRawLocalFs]].
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
