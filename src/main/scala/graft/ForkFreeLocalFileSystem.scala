package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file:` without a child process per permission change. Without
  * Hadoop's native library, `RawLocalFileSystem.setPermission` forks a
  * `chmod` for every file it creates — each parquet part, its `.crc`
  * sibling, each task directory — and those forks sit on the write's
  * critical path. This raw FS sets the same mode in-process instead;
  * everything else is stock. [[GraftSession.tuned]] installs it as
  * `fs.file.impl`. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  /** The nine rwx bits through `Files.setPosixFilePermissions`. A sticky
    * bit has no NIO spelling, so such a mode (and a non-POSIX file
    * system) goes to the stock implementation. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort & 0x1ff
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // enum order is owner r/w/x, group r/w/x, others r/w/x: bit 8 down to 0
      PosixFilePermission.values.foreach { x =>
        if ((mode & (0x100 >> x.ordinal)) != 0) perms.add(x)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
}
