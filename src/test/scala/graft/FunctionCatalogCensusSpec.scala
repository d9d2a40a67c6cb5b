package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Function-catalog census: [[GraftExtensions]] is the one place that
  * registers SQL functions, and every name a function module's Column
  * helper calls is declared there. A textual scan, like
  * `RegistrationCensusSpec`: a registration call or an undeclared name is
  * visible in the source before any query happens to run it.
  */
class FunctionCatalogCensusSpec extends AnyFunSuite {

  private def sources(root: String): Seq[(Path, String)] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
      .map(p => p -> new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    finally s.close()
  }

  test("no main source outside the catalog registers a function") {
    val registerRe = """createOrReplaceTempFunction|registerFunction|\.register\(""".r
    val offenders = for {
      (p, text) <- sources("src/main/scala")
      if !p.endsWith("GraftExtensions.scala")
      (line, i) <- text.linesIterator.zipWithIndex
      if registerRe.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      s"register through GraftExtensions.functions instead:\n${offenders.mkString("\n")}")
  }

  test("every function name a module helper calls is in the catalog") {
    val callRe = """call_function\(\s*"([^"]+)"""".r
    val called = sources("src/main/scala/graft/functions")
      .flatMap { case (_, text) => callRe.findAllMatchIn(text).map(_.group(1)) }.toSet
    // guards the scan itself
    assert(Set("cosine_sim", "poly_hash", "double_plain").subsetOf(called), called)
    val undeclared = called -- GraftExtensions.functions.map(_.name)
    assert(undeclared.isEmpty, s"called but not in the catalog: ${undeclared.toSeq.sorted}")
  }
}
