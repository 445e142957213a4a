package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` without a process per call. Without
  * `libhadoop`, the inherited `setPermission` runs `/bin/chmod` for every
  * file, `.crc` sidecar and directory it creates, and `getFileLinkStatus`
  * (which `FileContext.rename` calls on both of its paths) runs
  * `/bin/readlink`. Here the rwx bits are set with
  * `Files.setPosixFilePermissions` and the symlink probe is
  * `Files.isSymbolicLink`. The inherited code still answers a real
  * symlink and a mode with bits outside rwx (sticky), so every answer is
  * the one Hadoop gives. */
class RawLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, RawLocalFileSystem.bits(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object RawLocalFileSystem {
  /** The rwx bits of `mode` (0777 at most), owner read first. */
  private def bits(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) s.add(p)
    }
    s
  }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[RawLocalFileSystem]]. */
class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(new RawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (the `FileContext` side, used by
  * Spark's stream checkpoint files): Hadoop's `RawLocalFs` over
  * [[RawLocalFileSystem]]. */
class RawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's `LocalFs` (a `ChecksumFs`) over [[RawLocalFs]]; like it,
  * always rooted at `file:///`. */
class LocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new RawLocalFs(FsConstants.LOCAL_FS_URI, conf))
