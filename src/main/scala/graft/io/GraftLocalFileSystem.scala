package graft.io

import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` FileSystem: Hadoop's checksummed
  * `LocalFileSystem` (`.crc` sidecars written and verified as before)
  * over a raw FS that sets file modes through the JDK. Without libhadoop
  * (Spark ships none) the stock raw FS forks `chmod` for every file it
  * creates and every directory it makes — twice per checksummed create
  * (the data file, then its `.crc`) — and those forks sit on the
  * driver's serial commit path. The modes are the same: the stock FS
  * applies the umask before calling `setPermission`, which here sets the
  * same nine bits. Listing and status (`getFileStatus`, `listStatus`)
  * are deliberately untouched. Registered as `fs.file.impl` by
  * [[graft.GraftSession]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftLocalFileSystem.Raw)

object GraftLocalFileSystem {
  // PosixFilePermission's declaration order, OWNER_READ .. OTHERS_EXECUTE,
  // is mode bit 8 down to bit 0
  private val Bits = PosixFilePermission.values().reverse.zipWithIndex

  private class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      // the JDK cannot set the sticky bit; a store without POSIX modes
      // and a missing path take the stock route (and its exception)
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val mode = permission.toShort
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        Bits.foreach { case (perm, bit) =>
          if ((mode & (1 << bit)) != 0) perms.add(perm) }
        try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        catch {
          case _: UnsupportedOperationException | _: NoSuchFileException =>
            super.setPermission(p, permission)
        }
      }
    }
  }
}
