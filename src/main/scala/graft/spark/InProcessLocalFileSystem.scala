package graft.spark

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The `file:` binding [[GraftSession]] installs on a local master:
  * Hadoop's checksummed `LocalFileSystem` over a raw local filesystem that
  * sets POSIX permissions in-process (`Files.setPosixFilePermissions`).
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem.setPermission` forks one
  * `chmod` process for every file, `.crc` sidecar and directory it creates —
  * about 120 forks per ExtractMain call on an 8-bucket local write, about
  * half the write job's task time. Only that call changes here: `.crc`
  * checksums, umask handling and the files and layout written are Hadoop's
  * own. It defers to Hadoop when libhadoop is loaded (its native chmod
  * forks nothing), when the default filesystem has no unix attribute view,
  * when the mode carries the sticky bit (not settable through java.nio),
  * and when the path already carries setuid/setgid bits (`chmod 0755` keeps
  * a directory's; chmod(2) with the nine permission bits would clear them).
  *
  * Limit: Hadoop caches FileSystems per JVM by scheme, so the binding does
  * not apply in a JVM that created a `file:` FileSystem before its first
  * graft session — that JVM keeps the cached instance.
  */
class InProcessLocalFileSystem extends LocalFileSystem(new InProcessLocalFileSystem.Raw)

object InProcessLocalFileSystem {
  /** True when permissions are set in-process; false when every call goes
    * to Hadoop's own `setPermission` (libhadoop loaded, or no unix view).
    */
  val inProcess: Boolean =
    !NativeIO.isAvailable && FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  private val SetIdBits = 0xc00 // S_ISUID | S_ISGID
  private val ModeBits = 0x1ff  // rwxrwxrwx
  // declared order is owner r/w/x, group r/w/x, others r/w/x: bit 8 down to 0
  private val PermissionBits = PosixFilePermission.values

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if (!inProcess || (mode & ~ModeBits) != 0) super.setPermission(p, permission)
      else {
        val file = pathToFile(p).toPath
        if ((Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & SetIdBits) != 0)
          super.setPermission(p, permission)
        else {
          val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
          var i = 0
          while (i < 9) {
            if ((mode & (0x100 >> i)) != 0) perms.add(PermissionBits(i))
            i += 1
          }
          Files.setPosixFilePermissions(file, perms)
        }
      }
    }
  }
}
