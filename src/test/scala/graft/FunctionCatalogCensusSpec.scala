package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Function-catalog census: [[GraftExtensions]] is the one place that
  * registers SQL functions, and every name a function module's Column
  * helper calls is declared there. A textual scan, like
  * `RegistrationCensusSpec`: a registration call or an undeclared name is
  * visible in the source before any query happens to run it. The same
  * scan keeps test scratch space on `SparkSuite.tempDir`, the one helper
  * that deletes what it makes, and sessions on [[GraftSession]], the one
  * builder and the one place that picks the checkpoint file manager.
  */
class FunctionCatalogCensusSpec extends AnyFunSuite {

  private def sources(root: String): Seq[(Path, String)] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
      .map(p => p -> new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    finally s.close()
  }

  /** `file:line: text` of each line under `root` that `re` matches,
    * outside the files named `exempt`.
    */
  private def matching(root: String, re: scala.util.matching.Regex, exempt: String*) =
    for {
      (p, text) <- sources(root)
      if !exempt.exists(p.endsWith)
      (line, i) <- text.linesIterator.zipWithIndex
      if re.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"

  test("no main source outside the catalog registers a function") {
    val offenders = matching("src/main/scala",
      """createOrReplaceTempFunction|registerFunction|\.register\(""".r, "GraftExtensions.scala")
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

  test("no main source outside GraftSession builds a session") {
    // code lines only: GraftExtensions' scaladoc shows a cluster's builder
    val offenders = matching("src/main/scala",
      """^\s*[^\s*/].*SparkSession\s*\.\s*builder""".r, "GraftSession.scala")
    assert(offenders.isEmpty,
      s"build sessions through GraftSession instead:\n${offenders.mkString("\n")}")
  }

  test("main names the checkpoint file manager conf once") {
    val named = matching("src/main/scala", "checkpointFileManagerClass".r)
    assert(named.size == 1 && named.head.contains("GraftSession.scala"), named.mkString("\n"))
  }

  test("no test source outside SparkTestBase makes a bare temp dir or file") {
    val offenders = matching("src/test/scala",
      """createTemp(Directory|File)\(""".r, "SparkTestBase.scala")
    assert(offenders.isEmpty,
      s"take scratch space from SparkSuite.tempDir instead:\n${offenders.mkString("\n")}")
  }
}
