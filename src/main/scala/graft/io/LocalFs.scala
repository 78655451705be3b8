package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, FsConstants, LocalFileSystem, Path, RawLocalFileSystem}

/** Hadoop's `RawLocalFileSystem` without its per-call process forks.
  *
  * Without libhadoop, the stock class runs `chmod` for every file or
  * directory it creates, and `readlink` for every `getFileLinkStatus` (two
  * per FileContext rename). The `readlink` is given the `file:/…` URI
  * string, so it fails and returns "" on qualified paths: the fork gains
  * nothing. Here permissions go through `java.nio` (same mode bits, so the
  * same umask-applied result) and the link status of a path that is not a
  * symlink is its file status, which is what the stock class returns for
  * it. A sticky bit and a real symlink take the stock path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs OWNER_READ … OTHERS_EXECUTE, i.e. mode bits 0400 … 0001
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((mode & (0x100 >> i)) != 0) perms.add(perm)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** Checksummed `FileSystem` over [[NioRawLocalFileSystem]]: `fs.file.impl`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `AbstractFileSystem` over [[NioRawLocalFileSystem]], with the overrides of
  * Hadoop's `RawLocalFs`. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Checksummed FileContext filesystem, the shape of Hadoop's `LocalFs`:
  * `fs.AbstractFileSystem.file.impl`, which Spark's default checkpoint file
  * manager (offset and commit logs, state-store files) writes through. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
