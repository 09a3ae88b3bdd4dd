package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without a process per file.
  *
  * Without Hadoop's native library, [[RawLocalFileSystem]] forks `chmod` for
  * every file it creates with a permission (checkpoint files, state-store
  * deltas, parquet parts, their `.crc` siblings) and `readlink` for every
  * link lookup, which `FileContext` makes about eight times per checkpoint
  * rename. Both are done here in-process through `java.nio.file`; every
  * other operation, and every result, is Hadoop's own.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The same rwx bits `chmod` would set. A sticky bit, or a store without
    * a POSIX attribute view, keeps Hadoop's path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val rwx = PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, rwx)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  /** A real symlink keeps Hadoop's lookup. Anything else is its plain
    * status: Hadoop hands `readlink` the path's `file:` URI string, which
    * never names a link, so for regular files and directories it returns
    * [[getFileStatus]] too, after the fork.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `file` scheme's FileSystem (parquet writes, [[Segments]], leases):
  * Hadoop's checksummed [[LocalFileSystem]] over [[NioRawLocalFileSystem]].
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {

  /** A rename onto an existing file fails, as on HDFS, where Hadoop's raw
    * local rename would replace the file. Without a configured class,
    * Hadoop's service loader gives `file` to Hive's `ProxyLocalFileSystem`
    * from Spark's jars, which has this same rule; [[Segments]]' lease
    * takeover relies on it.
    */
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

/** The `file` scheme's AbstractFileSystem, which `FileContext` uses (Spark's
  * checkpoint file manager and the HDFS-backed state store): Hadoop's
  * `LocalFs`, a checksummed delegate, over [[NioRawLocalFileSystem]].
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` with the raw filesystem swapped. */
private class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(
      uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
