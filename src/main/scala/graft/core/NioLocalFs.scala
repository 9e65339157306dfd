package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `file://` without child processes.
  *
  * Without libhadoop (`NativeIO` unavailable), Hadoop's
  * `RawLocalFileSystem` forks a `chmod` for every file and directory it
  * creates with a permission, and a `readlink` for every
  * `getFileLinkStatus` — which `FileContext.rename` calls on both ends
  * of every rename. Every parquet commit, streaming checkpoint file,
  * state-store delta and manifest commit pays one fork per file;
  * `java.nio` makes the same system call in-process.
  *
  * Two overrides, both behaviour-preserving:
  *  - `setPermission` is `Files.setPosixFilePermissions` (chmod(2),
  *    following links like chmod(1)); only the sticky bit, which NIO
  *    cannot set, still goes through the stock path;
  *  - `getFileLinkStatus` of a path that is not a symlink is its
  *    `getFileStatus` — exactly what the stock method returns once its
  *    `readlink` comes back empty. Real symlinks (dangling ones
  *    included) take the stock path, so link semantics are unchanged.
  *
  * [[NioLocalFileSystem]] serves `FileSystem` and [[NioLocalFs]] serves
  * `FileContext` (streaming checkpoints, the exclusive commit renames);
  * both keep the stock checksum layer, so `.crc` files are still written
  * and verified. `GraftSession.builder` registers them for the `file`
  * scheme; other schemes are untouched.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      NioLocalFs.posix(permission.toShort))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the stock checksummed local filesystem over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` binding of [[NioRawLocalFileSystem]]. It repeats
  * the four overrides of Hadoop's `RawLocalFs`, whose constructors are
  * package-private. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
      false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  @deprecated("AbstractFileSystem.getServerDefaults()", "Hadoop 2.8")
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: checksummed, like Hadoop's
  * `LocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

object NioLocalFs {

  /** The rwx bits of `mode` as NIO permissions. */
  private[core] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // values() runs OWNER_READ .. OTHERS_EXECUTE: bits 0400 .. 0001
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (1 << (8 - i))) != 0) s.add(p)
    }
    s
  }
}
