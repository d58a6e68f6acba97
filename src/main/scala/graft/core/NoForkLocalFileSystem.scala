package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The stock raw local file system with a `setPermission` that makes no
  * child process. Without the native Hadoop library the stock method runs
  * `chmod` as a shell command for every directory, part file, `.crc` file
  * and `_SUCCESS` marker a write commits. Here the same mode is set through
  * `java.nio.file.Files.setPosixFilePermissions`: the argument already has
  * the umask applied, NIO and `chmod` both set the mode exactly, and both
  * follow symlinks. A mode NIO cannot express (the sticky bit) takes the
  * stock path. Nothing else is overridden.
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      NoForkRawLocalFileSystem.posix(mode))
  }
}

object NoForkRawLocalFileSystem {
  /** The nine rwx bits of `mode` as NIO permissions. The enum is declared
    * owner read, write, execute, then group, then others: bit 0400 first.
    */
  def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { b =>
      if ((mode & (0x100 >> b.ordinal)) != 0) set.add(b)
    }
    set
  }
}

/** `file:` with checksums, as the stock `LocalFileSystem`, over
  * [[NoForkRawLocalFileSystem]]. `graft.GraftExtensions` installs it as
  * `fs.file.impl` unless the session's Hadoop configuration names one.
  */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)
