package graft.streaming

import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}

import graft.SparkSuite

/** [[LocalCheckpointFileManager]] keeps the base manager's contract: the
  * same file and `.crc` modes as Hadoop's local filesystem, the atomic
  * create/rename protocol, and delegation for non-local schemes.
  */
class LocalCheckpointFileManagerSpec extends SparkSuite {

  /** A umask unlike the JVM's own (022), so a mode only matches the
    * reference if the manager really set it.
    */
  private def conf: Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", "027")
    c
  }

  private def usedFs(p: Path, c: Configuration): FileSystem =
    new LocalCheckpointFileManager(p, c) { def used: FileSystem = fs }.used

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def bytes(s: String) = s.getBytes(StandardCharsets.UTF_8)

  test("an atomic write leaves the file and its .crc with the local filesystem's modes") {
    val d = tempDir("graft_ckpt_modes")
    val mgr = new LocalCheckpointFileManager(new Path(d.toString), conf)
    assert(mgr.isLocal)
    val out = mgr.createAtomic(new Path(d.resolve("managed").toString),
      overwriteIfPossible = false)
    out.write(bytes("state"))
    out.close()
    mgr.mkdirs(new Path(d.resolve("managed_dir/sub").toString))
    val reference = FileSystem.newInstance(URI.create("file:///"), conf)
    try {
      val ref = reference.create(new Path(d.resolve("reference").toString))
      ref.write(bytes("state"))
      ref.close()
      reference.mkdirs(new Path(d.resolve("reference_dir/sub").toString))
    } finally reference.close()
    Seq("managed" -> "reference", ".managed.crc" -> ".reference.crc",
        "managed_dir/sub" -> "reference_dir/sub").foreach { case (m, r) =>
      assert(Files.exists(d.resolve(m)), m)
      assert(mode(d.resolve(m)) == mode(d.resolve(r)), s"$m vs $r")
    }
    assert(mode(d.resolve("managed")) == "rw-r-----")
    assert(new String(Files.readAllBytes(d.resolve("managed")), StandardCharsets.UTF_8) ==
      "state")
  }

  test("createAtomic without overwrite refuses an existing file and keeps it") {
    val d = tempDir("graft_ckpt_exists")
    Files.write(d.resolve("taken"), bytes("old"))
    val mgr = new LocalCheckpointFileManager(new Path(d.toString), conf)
    intercept[FileAlreadyExistsException] {
      val out = mgr.createAtomic(new Path(d.resolve("taken").toString),
        overwriteIfPossible = false)
      out.write(bytes("new"))
      out.close()
    }
    assert(new String(Files.readAllBytes(d.resolve("taken")), StandardCharsets.UTF_8) == "old")
  }

  test("cancel leaves no temp file behind") {
    val d = tempDir("graft_ckpt_cancel")
    val mgr = new LocalCheckpointFileManager(new Path(d.toString), conf)
    val out = mgr.createAtomic(new Path(d.resolve("dropped").toString),
      overwriteIfPossible = true)
    out.write(bytes("partial"))
    out.cancel()
    assert(d.toFile.list().toSeq == Nil)
  }

  test("a local path gets the NIO filesystem, any other scheme the resolved one") {
    val d = tempDir("graft_ckpt_scheme")
    val local = usedFs(new Path(d.toString), conf)
    assert(local.getUri.getScheme == "file")
    assert(local.asInstanceOf[org.apache.hadoop.fs.LocalFileSystem].getRaw
      .isInstanceOf[NioModeFileSystem])
    val c = conf
    c.set("fs.hdfs.impl", classOf[RemoteStandInFileSystem].getName)
    c.setBoolean("fs.hdfs.impl.disable.cache", true)
    val remote = usedFs(new Path("hdfs://namenode:8020/checkpoints/q401"), c)
    assert(remote.isInstanceOf[RemoteStandInFileSystem])
    assert(remote.getUri.getScheme == "hdfs")
  }
}

/** Stands in for a remote filesystem under an `hdfs:` URI. */
class RemoteStandInFileSystem extends RawLocalFileSystem {
  private var uri: URI = _
  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    uri = name
  }
  // the base constructor asks for the URI before initialize sets it
  override def getUri: URI = if (uri == null) super.getUri else uri
}
