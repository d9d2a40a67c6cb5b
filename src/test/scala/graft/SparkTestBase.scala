package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for the test suite (one JVM-wide session — Spark
  * startup dominates test wall-clock otherwise), built and installed by
  * [[GraftSession]] like every entry point's, so specs that call operator
  * helpers outside a registered query find the function catalog.
  */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession("local[2]", shufflePartitions = 2,
    confs = Map("spark.sql.warehouse.dir" -> warehouse.toString))

  /** The session outlives every suite, so its warehouse goes at JVM exit. */
  private lazy val warehouse: Path = {
    val d = Files.createTempDirectory("graft_warehouse")
    sys.addShutdownHook(deleteTree(d))
    d
  }

  /** Deletes `root` and everything under it. Symlinks are deleted, not
    * followed (`Files.walk` does not follow them), so a link into the
    * test data removes only the link.
    */
  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.iterator.asScala.toVector.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }
}

abstract class SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.spark

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh directory under `java.io.tmpdir`, deleted with all it holds
    * after the suite. Every test that needs scratch space takes it here.
    */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override protected def afterAll(): Unit =
    try tempDirs.asScala.foreach(SparkTestBase.deleteTree)
    finally super.afterAll()

  /** Runs `body` and returns its value with the descriptions of the jobs
    * that started meanwhile ("null" for an unlabelled job). A fence job
    * run after `body` is awaited on the listener bus, which delivers
    * events in order, so every earlier job start has been recorded.
    */
  def jobsDuring[T](body: => T): (T, Seq[String]) = {
    val fence = s"fence-${java.util.UUID.randomUUID}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var fenced = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = String.valueOf(e.properties.getProperty("spark.job.description"))
        if (d == fence) fenced = true else if (!fenced) seen.add(d)
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val v = body
      val caller = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(fence)
      try spark.range(1).count() finally sc.setJobDescription(caller)
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!fenced && System.nanoTime < deadline) Thread.sleep(10)
      assert(fenced, "the fence job never reached the listener")
      (v, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
