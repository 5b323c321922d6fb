package graft.tables

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file://` FileSystem of a graft session: Hadoop's checksummed
  * `LocalFileSystem` (`.crc` sidecars written and verified as before)
  * over a raw local FS that sets file modes through `java.nio`.
  *
  * Without the native hadoop library, `RawLocalFileSystem.setPermission`
  * starts a `chmod` process, and it runs for every file (and its `.crc`)
  * and every directory the FS creates: a parquet part, a commit marker,
  * an event line. Here the same mode is one `chmod(2)` call in the JVM.
  * `GraftSession.local` registers this class as `fs.file.impl`. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** The nine rwx bits of `permission.toShort`, one by one:
    * `PosixFilePermission`'s declaration order runs from owner read
    * (0400) down to others execute (0001). */
  def posix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { b =>
      if ((mode & (0x100 >> b.ordinal)) != 0) out.add(b)
    }
    out
  }
}
