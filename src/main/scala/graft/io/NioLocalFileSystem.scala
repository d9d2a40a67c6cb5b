package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem over [[NioModeFileSystem]], the
  * `fs.file.impl` of [[graft.GraftSession.install]]: Hadoop's files, `.crc`
  * files, modes and renames, but no file write or mkdir forks a process.
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioModeFileSystem)

/** `RawLocalFileSystem` that sets a file's mode bits with
  * `Files.setPosixFilePermissions` instead of a forked `chmod` (the path
  * Hadoop takes without its native library). A mode with bits beyond 0777
  * (setuid, setgid, sticky) keeps Hadoop's own path.
  */
private[io] final class NioModeFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // values() runs owner rwx, group rwx, others rwx: bit 8 down to bit 0
      val bits = PosixFilePermission.values.zipWithIndex
        .collect { case (perm, i) if (mode & (0x100 >> i)) != 0 => perm }
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits.toSet.asJava)
    }
  }
}
