package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** Hadoop's checksummed local filesystem (`file:`, `FileSystem` API)
  * over [[LocalFs.Raw]], which starts no process. Without libhadoop,
  * stock `RawLocalFileSystem` forks `chmod` to apply each permission
  * (every mkdir and file create, `.crc` side files included) and
  * `readlink` to read each link status (two per `FileContext.rename`).
  * Bound for every session in [[SessionFactory]]. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** `RawLocalFileSystem` with its two forking calls answered through
    * `java.nio`; anything they cannot express takes the stock call. */
  class Raw extends RawLocalFileSystem {

    /** The 9 rwx bits; a mode with a bit above 0777 (sticky) takes the
      * stock `chmod`. */
    override def setPermission(p: Path, perm: FsPermission): Unit = {
      val mode = perm.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, perm)
      else {
        // PosixFilePermission lists OWNER_READ (0400) ... OTHERS_EXECUTE (01)
        val set = PosixFilePermission.values().zipWithIndex.collect {
          case (b, i) if (mode & (0x100 >> i)) != 0 => b
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, set.toSet.asJava)
      }
    }

    /** A regular file or directory's link status is its status, as in
      * the stock call; a symlink takes the stock call. A missing path
      * throws `FileNotFoundException` from `getFileStatus`. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** [[Raw]] for the `FileContext` API, as Hadoop's `RawLocalFs`. */
  private class RawContext(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new Raw, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    @deprecated("as the overridden method", "")
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  /** The checksummed `FileContext` filesystem
    * (`fs.AbstractFileSystem.file.impl`), as Hadoop's `LocalFs`: the
    * API Spark's streaming checkpoint file manager and state store
    * write through. Like Hadoop's, it ignores the URI it is given. */
  class Context(uri: URI, conf: Configuration)
      extends ChecksumFs(new RawContext(conf))
}
