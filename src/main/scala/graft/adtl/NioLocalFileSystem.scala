package graft.adtl

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** The `file:` filesystem the adtl sinks write through: Hadoop's
  * checksummed LocalFileSystem (same `.crc` files, same layout) over a raw
  * filesystem that sets permissions in-process.
  *
  * Without the native hadoop library, RawLocalFileSystem.setPermission
  * forks a `chmod` process. One table write calls it 9 times (3 job setup
  * dirs, the task attempt dir, the part file and its `.crc`, `_SUCCESS` and
  * its `.crc`), on the driver and inside tasks: 57 forks per pass of the
  * perfbench site_batches workload, ≈4 ms each. Selected per write by
  * `AdtlParser`'s sink writer only; the session, its Hadoop conf and the
  * FileSystem cache are untouched. */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** RawLocalFileSystem whose setPermission sets the same rwx bits with
  * `Files.setPosixFilePermissions`. A sticky bit (no java.nio form) or a
  * store without POSIX attributes goes to Hadoop's own implementation. */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        NioRawLocalFileSystem.posixBits(permission))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
}

object NioRawLocalFileSystem {
  private def bits(a: FsAction, r: PosixFilePermission, w: PosixFilePermission,
      x: PosixFilePermission): Seq[PosixFilePermission] =
    Seq(FsAction.READ -> r, FsAction.WRITE -> w, FsAction.EXECUTE -> x)
      .collect { case (action, bit) if a.implies(action) => bit }

  private def posixBits(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    (bits(p.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE) ++
      bits(p.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE) ++
      bits(p.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE))
      .foreach(set.add)
    set
  }
}
