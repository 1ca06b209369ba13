package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** Hadoop's raw local file system without the per-call process spawns.
  *
  * Without the native Hadoop library, `RawLocalFileSystem` forks a shell
  * for two calls that every checkpoint, `.crc` sidecar, state checksum and
  * sink file pays: `setPermission` (`chmod`, on each create and mkdir) and
  * `getFileLinkStatus` (`readlink`, on each FileContext rename). A fork
  * costs milliseconds, so a micro-batch commit spent most of its wall time
  * spawning. Here both run in-process:
  *
  *  - `setPermission` sets the same nine mode bits with
  *    `Files.setPosixFilePermissions`; a sticky bit, which the JDK cannot
  *    express, still goes to Hadoop's code;
  *  - `getFileLinkStatus` of anything that is not a symlink is its
  *    `getFileStatus` (exactly what Hadoop returns after an empty
  *    `readlink`); a real symlink still goes to Hadoop's code.
  *
  * Everything else (create, rename, delete, listing) is Hadoop's own.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      GraftRawLocalFileSystem.posixBits(permission))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `file:` for the FileSystem API (`fs.file.impl`): Hadoop's checksummed
  * `LocalFileSystem`, `.crc` sidecars included, over [[GraftRawLocalFileSystem]].
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** [[GraftRawLocalFileSystem]] for the FileContext API, shaped like Hadoop's
  * `RawLocalFs`: no default port, local server defaults, any name valid.
  */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  @deprecated("see AbstractFileSystem.getServerDefaults(Path)", "")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `file:` for the FileContext API (`fs.AbstractFileSystem.file.impl`), which
  * Spark's checkpoint manager uses: Hadoop's `LocalFs` shape, a `ChecksumFs`
  * over [[GraftRawLocalFs]].
  */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(FsConstants.LOCAL_FS_URI, conf))

object GraftRawLocalFileSystem {
  /** The nine rwx bits of `p`, as `chmod` sets them. */
  private def posixBits(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    def add(a: FsAction, r: PosixFilePermission, w: PosixFilePermission,
        x: PosixFilePermission): Unit = {
      if (a.implies(FsAction.READ)) set.add(r)
      if (a.implies(FsAction.WRITE)) set.add(w)
      if (a.implies(FsAction.EXECUTE)) set.add(x)
    }
    add(p.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE)
    add(p.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE)
    add(p.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
    set
  }
}
