package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The `spark.sql.extensions` entry point must make every catalog
  * function SQL-callable on a session that never ran
  * `GraftSession.install` — this is how a cluster deployment gets the
  * function surface.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  /** Built with the default session cleared first: getOrCreate would
    * otherwise return another suite's session (all suites share one
    * forked JVM) and silently DROP withExtensions — the spec would then
    * pass via that session's installed functions instead of
    * testing the extensions path. The previous default is restored so
    * suites running after this one are unaffected.
    */
  private lazy val spark: SparkSession = {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-extensions-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions()(_))
      .getOrCreate()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    prevDefault.foreach(SparkSession.setDefaultSession)
    prevActive.foreach(SparkSession.setActiveSession)
    s
  }

  test("extension-injected functions are callable from bare SQL") {
    val row = spark.sql(
      """SELECT
        |  cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |             array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS cs,
        |  l2_dist_sq(array(CAST(3.0 AS FLOAT)), array(CAST(1.0 AS DOUBLE))) AS l2,
        |  poly_hash('ab') AS ph,
        |  simhash64(array(CAST(1 AS BIGINT), CAST(2 AS BIGINT))) IS NOT NULL AS sh,
        |  double_plain(CAST(0.5 AS DOUBLE)) AS dp,
        |  size(byte_pool('abcdefgh', 2)) AS bp,
        |  int8_code_dot(int8_encode(array(CAST(1.0 AS FLOAT), CAST(-1.0 AS FLOAT))),
        |                int8_encode(array(CAST(1.0 AS FLOAT), CAST(1.0 AS FLOAT)))) AS icd
        |""".stripMargin).head
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-12)
    assert(row.getDouble(1) == 4.0)
    // 'a'=97, 'b'=98: (0*31+97)*31+98 = 3105
    assert(row.getLong(2) == (97L * 31 + 98))
    assert(row.getBoolean(3))
    assert(row.getString(4) == "0.5")
    assert(row.getInt(5) == 2)
    // codes (127,-127)·(127,127): the opposing components cancel exactly
    assert(row.getLong(6) == 0L)
  }

  test("wrong arity is rejected at analysis, not silently truncated") {
    // poly_hash used to take exprs.head and silently drop extra args
    val e = intercept[Exception](spark.sql("SELECT poly_hash('a', 'b')"))
    assert(e.getMessage.contains("exactly 1 argument"), e.getMessage)
    val e2 = intercept[Exception](
      spark.sql("SELECT cosine_sim(array(CAST(1.0 AS FLOAT)))"))
    assert(e2.getMessage.contains("exactly 2 arguments"), e2.getMessage)
  }

  test("every declared function is present in the session catalog") {
    val names = GraftExtensions.functions.map(_.name)
    assert(names.size == 31 && names.distinct.size == names.size, names)
    for (f <- GraftExtensions.functions) {
      assert(spark.sessionState.functionRegistry.functionExists(f.id),
        s"${f.name} missing from the session catalog")
      // a Spark built-in of the same name would shadow the graft function
      // on an installed session (install skips present names)
      assert(!org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
        .functionExists(f.id), s"${f.name} is also a Spark built-in")
    }
  }

  test("literal integer arguments follow one strict rule") {
    // an Int-range long is accepted, as `lit(n: Long)` callers rely on
    assert(spark.sql("SELECT size(byte_pool('abcdefgh', CAST(2 AS BIGINT)))")
      .head.getInt(0) == 2)
    val e = intercept[Exception](
      spark.sql("SELECT byte_pool('abcdefgh', 4294967298)"))
    assert(e.getMessage.contains("byte_pool n out of int range: 4294967298"),
      e.getMessage)
    val e2 = intercept[Exception](
      spark.sql("SELECT byte_pool('abcdefgh', CAST(id AS INT)) FROM range(1)"))
    assert(e2.getMessage.contains("byte_pool n must be a literal integer"),
      e2.getMessage)
  }
}
