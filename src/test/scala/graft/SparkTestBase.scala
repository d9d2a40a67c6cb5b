package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for the test suite (one JVM-wide session — Spark
  * startup dominates test wall-clock otherwise), with the function catalog
  * installed for specs that call operator helpers outside a registered
  * query.
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftExtensions.install(s)
    s
  }
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark

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
