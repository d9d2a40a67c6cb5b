package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Event-time finalizer census: `EventStreams.finalizedByWatermark` is
  * the one place that sets an event-time timeout, so the rule for when a
  * key's answer is final is written once. A textual scan, like
  * `FunctionCatalogCensusSpec`: a copied fold skeleton is visible in the
  * source before any twin happens to run it.
  */
class FinalizerCensusSpec extends AnyFunSuite {

  test("only finalizedByWatermark sets an event-time timeout in main source") {
    val defRe = """\bdef\s+(\w+)""".r
    val s = Files.walk(Paths.get("src/main/scala"))
    val sources = try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
    finally s.close()
    val sites = for {
      p <- sources
      lines = new String(Files.readAllBytes(p), StandardCharsets.UTF_8).linesIterator.toVector
      (line, i) <- lines.zipWithIndex
      if line.contains("EventTimeTimeout")
    } yield {
      val enclosing = lines.take(i).reverseIterator
        .flatMap(l => defRe.findFirstMatchIn(l).map(_.group(1))).nextOption()
      (s"$p:${i + 1}: ${line.trim}", enclosing)
    }
    assert(sites.map(_._2) == Seq(Some("finalizedByWatermark")),
      "route event-time folds through EventStreams.finalizedByWatermark:\n" +
        sites.map(_._1).mkString("\n"))
  }
}
