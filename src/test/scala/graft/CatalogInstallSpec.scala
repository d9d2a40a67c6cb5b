package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registered queries and the export writer install the function catalog
  * themselves: on `newSession()` — a fresh function registry over the
  * shared SparkContext — one query per function module, and the
  * delimited writer, give the shared session's results.
  */
class CatalogInstallSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  /** One query per function module that declares catalog functions. */
  private val probes = Seq(
    "q30_cosine_topk",         // VectorFunctions
    "q31_minhash_neardup",     // PolyHash (poly hash, minhash)
    "q37_csv_render",          // double_plain
    "q39_simhash_neardup",     // simhash64
    "q53_media_resize",        // byte_pool
    "q77_bloom_decontaminate") // bloom probes

  private def rows(df: DataFrame): (String, Seq[String]) =
    (df.schema.simpleString, df.collect().map(_.toString).toSeq.sorted)

  private def missing(s: SparkSession): Seq[String] =
    GraftExtensions.functions
      .filterNot(f => s.sessionState.functionRegistry.functionExists(f.id)).map(_.name)

  test("registered queries install the catalog on a fresh session") {
    val fresh = spark.newSession()
    assert(missing(fresh).size == GraftExtensions.functions.size,
      "a new session already has catalog functions")
    try {
      for (name <- probes) {
        val q = SparkEntry.all.find(_.name == name).get
        assert(rows(q.fn(fresh, dir)) == rows(q.fn(spark, dir)), name)
      }
      assert(missing(fresh).isEmpty)
    } finally Artifacts.release(fresh)
  }

  test("the delimited writer installs the catalog on a fresh session") {
    val fresh = spark.newSession()
    assert(missing(fresh).nonEmpty, "a new session already has catalog functions")
    def written(s: SparkSession): Seq[String] = {
      val out = java.nio.file.Files.createTempDirectory("graft_catalog_csv").toString
      val df = s.createDataFrame(Seq((1L, 0.00033, "a,b"), (2L, 1.0e7, "c")))
        .toDF("id", "x", "s")
      io.DelimitedWriter.writeDelimited(df, out)
      s.read.text(out).collect().map(_.getString(0)).toSeq.sorted
    }
    val lines = written(fresh)
    assert(lines == written(spark))
    assert(lines == Seq("1,0.00033,\"a,b\"", "2,10000000,c"))
  }
}
