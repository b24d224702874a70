package graft

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's local filesystem (`file:`) without child processes.
  *
  * Without `libhadoop`, `RawLocalFileSystem` forks `chmod` for every
  * permission change (each created file, its `.crc`, each new directory)
  * and `readlink` for every link-status check (each FileContext rename:
  * Spark's state-store deltas and offset/commit logs). Here both are
  * `java.nio` calls. Everything else, checksums included, is Hadoop's own
  * code; `GraftSession.builder` binds these classes to `file:`. */
object LocalFs {

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `RawLocalFileSystem` with in-process `setPermission` and
    * `getFileLinkStatus`. Native chmod, the sticky bit (not expressible
    * as a `PosixFilePermission`) and symlinks keep Hadoop's code. */
  class RawFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (NativeIO.isAvailable || permission.getStickyBit || !posix) super.setPermission(p, permission)
      else {
        val mode = permission.toShort
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // enum order is owner rwx, group rwx, others rwx: bits 0400 down to 01
        PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
          if ((mode & (0x100 >> i)) != 0) perms.add(bit)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }

    // a missing path throws getFileStatus's FileNotFoundException, as in Hadoop
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** The FileSystem API's `file:` binding, with checksums. */
  class ChecksummedFileSystem extends LocalFileSystem(new RawFileSystem)

  /** The FileContext API's `file:` binding: Hadoop's `LocalFs`, i.e.
    * checksums over `RawLocalFs`, whose overrides `RawFs` repeats. Hadoop
    * constructs it reflectively from (URI, Configuration); the URI is
    * always `file:///`. */
  class ChecksummedFs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(conf))

  private class RawFs(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new RawFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    @deprecated("Hadoop's own deprecation", "") override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
