package graft

import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

import graft.io.NioLocalFileSystem

/** [[GraftSession.install]] on a fresh `newSession()`: the local
  * filesystem it sets writes what Hadoop's stock one writes, with the same
  * modes, and it keeps what a session already has.
  */
class GraftSessionSpec extends SparkSuite {

  private val CheckpointManager = "spark.sql.streaming.checkpointFileManagerClass"

  /** A fresh session with `confs`, then installed. */
  private def installed(confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    GraftSession.install(s)
  }

  private def fileFs(s: SparkSession, d: JPath): FileSystem =
    new Path(d.toUri).getFileSystem(s.sessionState.newHadoopConf())

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def write(fs: FileSystem, p: JPath): Unit = {
    val out = fs.create(new Path(p.toString))
    try out.write("state".getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  test("an installed session writes a file, its .crc and a dir with the stock local modes") {
    // a umask unlike the JVM's own (022), so a mode only matches the
    // reference if the filesystem really set it
    val d = tempDir("graft_session_modes")
    val fs = fileFs(installed("fs.permissions.umask-mode" -> "027"), d)
    assert(fs.isInstanceOf[NioLocalFileSystem])
    write(fs, d.resolve("installed"))
    fs.mkdirs(new Path(d.resolve("installed_dir/sub").toString))
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", "027")
    c.set("fs.file.impl", classOf[LocalFileSystem].getName)
    val stock = FileSystem.newInstance(URI.create("file:///"), c)
    try {
      write(stock, d.resolve("stock"))
      stock.mkdirs(new Path(d.resolve("stock_dir/sub").toString))
    } finally stock.close()
    Seq("installed" -> "stock", ".installed.crc" -> ".stock.crc",
        "installed_dir/sub" -> "stock_dir/sub").foreach { case (i, r) =>
      assert(Files.exists(d.resolve(i)), i)
      assert(mode(d.resolve(i)) == mode(d.resolve(r)), s"$i vs $r")
    }
    assert(mode(d.resolve("installed")) == "rw-r-----")
    assert(Files.readString(d.resolve("installed")) == "state")
  }

  test("a mode with sticky bits takes Hadoop's own chmod") {
    // java.nio cannot set bits beyond 0777; Hadoop's path can
    val d = tempDir("graft_session_sticky")
    val fs = fileFs(installed(), d)
    Seq("plain" -> "750", "sticky" -> "1750").foreach { case (name, octal) =>
      val p = d.resolve(name)
      fs.mkdirs(new Path(p.toString))
      fs.setPermission(new Path(p.toString),
        new FsPermission(Integer.parseInt(octal, 8).toShort))
      val set = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
      assert(Integer.toOctalString(set) == octal, name)
    }
  }

  test("file: paths get the NIO filesystem; a non-file default keeps Spark's checkpoint manager") {
    val local = installed()
    assert(local.conf.get(CheckpointManager).endsWith("FileSystemBasedCheckpointFileManager"))
    val remote = installed("fs.defaultFS" -> "hdfs://namenode:8020")
    assert(remote.conf.getOption(CheckpointManager).isEmpty)
    assert(fileFs(remote, tempDir("graft_session_remote")).isInstanceOf[NioLocalFileSystem])
  }

  test("both export sinks install the frame's session") {
    val out = tempDir("graft_session_sinks")
    Seq[(String, (org.apache.spark.sql.DataFrame, String) => Unit)](
      "csv" -> ((df, p) => io.DelimitedWriter.writeDelimited(df, p)),
      "jsonl" -> io.DelimitedWriter.writeJson).foreach { case (name, sink) =>
      val fresh = spark.newSession()
      sink(fresh.range(3).toDF("id"), s"$out/$name")
      assert(fresh.conf.getOption("fs.file.impl").contains(classOf[NioLocalFileSystem].getName),
        name)
    }
  }

  test("install is idempotent and keeps the confs a session already has") {
    val stock = classOf[LocalFileSystem].getName
    val s = installed("fs.file.impl" -> stock)
    GraftSession.install(s)
    assert(s.conf.get("fs.file.impl") == stock)
    assert(s.conf.get("fs.file.impl.disable.cache") == "true")
    assert(GraftExtensions.functions.forall(f =>
      s.sessionState.functionRegistry.functionExists(f.id)))
    assert(fileFs(s, tempDir("graft_session_kept")).getClass == classOf[LocalFileSystem])
  }
}
