package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with the two calls it forks a child
  * process for made in-process. Without the native `libhadoop`,
  * `RawLocalFileSystem.setPermission` runs `chmod` for every file and
  * directory it creates (each part file, its `.crc`, each mkdir) and
  * `getFileLinkStatus` runs `readlink` for every `FileContext` rename
  * (streaming checkpoints, state stores, the snapshot CAS manifest),
  * and the caller waits for each child to exit. Results are
  * the same; Hadoop's own code still handles what NIO cannot express:
  * a sticky bit, and the status of a real symlink.
  * [[Sessions.local]] installs these classes for the `file:` scheme.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  // rebuilt as a plain FsPermission: a subclass's toString (FsCreateModes)
  // is not the rwx string
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions
      .fromString(new FsPermission(permission.toShort).toString))

  // a path that is not a symlink has the status of the path itself;
  // getFileStatus throws FileNotFoundException for a missing one
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** The checksummed `file:` filesystem (`fs.file.impl`) over
  * [[NioRawLocalFileSystem]]: `.crc` files are written and verified
  * exactly as by Hadoop's `LocalFileSystem`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `FileContext`'s raw `file:` filesystem over [[NioRawLocalFileSystem]],
  * mirroring Hadoop's `org.apache.hadoop.fs.local.RawLocalFs`. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `FileContext` `file:` filesystem
  * (`fs.AbstractFileSystem.file.impl`), mirroring Hadoop's
  * `org.apache.hadoop.fs.local.LocalFs`: always rooted at `file:///`.
  * `AbstractFileSystem` instantiates it through this (URI, Configuration)
  * constructor. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
