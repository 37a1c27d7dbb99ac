package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without the per-operation process forks.
  *
  * Without `libhadoop`, stock [[RawLocalFileSystem]] shells out for two
  * kinds of metadata call: `setPermission` runs `chmod` (reached from
  * every `mkdirs` and `create`, so every parquet part file, `.crc`
  * sidecar and committer directory pays a fork), and
  * `getFileLinkStatus` runs `readlink` (reached from every
  * `FileContext.rename`). This raw layer answers both through
  * `java.nio` — the same permission bits, the same link status — and
  * keeps Hadoop's own code for what `java.nio` cannot express: a mode
  * with bits beyond rwx (sticky), and paths that really are symlinks.
  * Checksums are untouched: [[Sessions.get]] registers the checksummed
  * wrappers below, never the raw layer.
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    // 0x1ff is octal 0777: any bit above rwx (sticky) goes to Hadoop
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, NoForkRawLocalFileSystem.posix(mode)): Unit
  }

  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

object NoForkRawLocalFileSystem {
  // owner rwx, group rwx, other rwx — high bit first, as chmod reads them
  private val bits = Seq(
    PosixFilePermission.OWNER_READ, PosixFilePermission.OWNER_WRITE,
    PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.GROUP_READ,
    PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_EXECUTE,
    PosixFilePermission.OTHERS_READ, PosixFilePermission.OTHERS_WRITE,
    PosixFilePermission.OTHERS_EXECUTE)

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.zipWithIndex.foreach { case (b, i) => if ((mode & (0x100 >> i)) != 0) s.add(b) }
    s
  }
}

/** `fs.file.impl`: the checksummed local [[org.apache.hadoop.fs.FileSystem]]
  * over [[NoForkRawLocalFileSystem]].
  */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** The raw `AbstractFileSystem` (the `FileContext` side) over
  * [[NoForkRawLocalFileSystem]] — Hadoop's `RawLocalFs`, whose
  * constructors are not public, restated.
  */
class NoForkRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext`
  * filesystem (Hadoop's `LocalFs`) over [[NoForkRawLocalFs]]. `uri`
  * is the reflective constructor's shape; like `LocalFs`, the
  * filesystem always binds the local URI.
  */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NoForkRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
