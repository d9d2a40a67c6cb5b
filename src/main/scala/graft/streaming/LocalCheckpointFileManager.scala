package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** The streaming twins' checkpoint file manager ([[EventStreams.runToMemory]]
  * sets it per stream): checkpoint I/O that starts no process.
  *
  * Without Hadoop's native library, the local filesystem forks a shell
  * command for file metadata: Spark's default manager renames through
  * `FileContext`, which runs `readlink` on each side of every rename, and
  * every create or mkdir runs `chmod`. This manager
  *  - renames through `FileSystem.rename` (the base class), which needs no
  *    link status, and
  *  - for `file:` paths writes through a `LocalFileSystem` whose raw layer
  *    sets modes with `java.nio` ([[NioModeFileSystem]]).
  * `.crc` files, file modes and the atomic-rename protocol are unchanged.
  * Any other scheme uses `path.getFileSystem(conf)` as the base class does.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  override protected val fs: FileSystem = {
    val resolved = path.getFileSystem(hadoopConf)
    if (resolved.getUri.getScheme != "file") resolved
    else {
      val local = new LocalFileSystem(new NioModeFileSystem)
      local.initialize(URI.create("file:///"), hadoopConf)
      local
    }
  }
}

/** `RawLocalFileSystem` that sets a file's mode bits with
  * `Files.setPosixFilePermissions` instead of a forked `chmod`. A mode with
  * bits beyond 0777 (setuid, setgid, sticky) keeps Hadoop's own path.
  */
private[streaming] final class NioModeFileSystem extends RawLocalFileSystem {
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
