package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem without process forks. Without the native
  * Hadoop library, `RawLocalFileSystem.setPermission` runs `chmod` for
  * every mkdirs and create, and `getFileLinkStatus` runs `readlink` on
  * every `FileContext` rename (the streaming checkpoint's commit path)
  * — about 2.5 ms a fork from a JVM with a 3 GB heap. Permissions go
  * through java.nio instead; the sticky bit and non-POSIX filesystems
  * keep the forking path.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, perm: FsPermission): Unit =
    if (perm.getStickyBit) super.setPermission(p, perm)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      // the mode bits as "rwxr-xr-x": FsCreateModes overrides toString
      PosixFilePermissions.fromString(new FsPermission(perm.toShort).toString))
    catch { case _: UnsupportedOperationException => super.setPermission(p, perm) }

  /** Stock Hadoop runs `readlink` on `p.toString`, which fails for a
    * qualified `file:/…` path and falls back to `getFileStatus`; only a
    * real symlink needs the stock path.
    */
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** The checksummed `FileSystem` API over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `FileContext`'s raw local filesystem, mirroring Hadoop's `RawLocalFs`. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `FileContext`'s checksummed local filesystem, mirroring `LocalFs`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))
