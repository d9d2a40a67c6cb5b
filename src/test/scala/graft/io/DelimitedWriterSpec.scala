package graft.io

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSuite

/** Golden tests for the CSV serialization kernel, expected bytes pinned by
  * the reference suite (FIXTURES.md §A1,
  * reference/Tests/Helpers/DelimitedEncoderTests.swift:40-135).
  */
class DelimitedWriterSpec extends SparkSuite {

  private def renderOne(schema: StructType, row: Row, delimiter: String = ","): String = {
    val df = spark.createDataFrame(
      java.util.Arrays.asList(row), schema)
    DelimitedWriter.renderLines(df, delimiter).collect().map(_.getString(0)).head
  }

  private def strings2(a: String, b: String): (StructType, Row) =
    (StructType(Seq(StructField("bar", StringType), StructField("baz", StringType))),
      Row(a, b))

  test("one row joins cells with the delimiter") {
    val (s, r) = strings2("blah", "bleep")
    assert(renderOne(s, r) == "blah,bleep")
  }

  test("two rows render as separate lines") {
    val s = StructType(Seq(StructField("bar", StringType), StructField("baz", StringType)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row("blah0", "bleep0"), Row("blah1", "bleep1")), s)
    val lines = DelimitedWriter.renderLines(df).collect().map(_.getString(0)).sorted
    assert(lines.toSeq == Seq("blah0,bleep0", "blah1,bleep1"))
  }

  test("tab delimiter renders TSV") {
    val (s, r) = strings2("blah0", "bleep0")
    assert(renderOne(s, r, "\t") == "blah0\tbleep0")
  }

  test("timestamps render as ISO8601 Z") {
    val s = StructType(Seq(StructField("from", TimestampType), StructField("to", TimestampType)))
    val r = Row(Timestamp.valueOf("2020-10-31 00:00:00"), Timestamp.valueOf("2020-12-25 00:00:00"))
    assert(renderOne(s, r) == "2020-10-31T00:00:00Z,2020-12-25T00:00:00Z")
  }

  test("doubles render without scientific notation") {
    val s = StructType(Seq(StructField("a", DoubleType), StructField("b", DoubleType),
      StructField("c", DoubleType)))
    assert(renderOne(s, Row(0.01, 0.01, -0.00033)) == "0.01,0.01,-0.00033")
  }

  test("doubles render as BigDecimal plain strings of Double.toString") {
    // pins today's bytes, which are not always the shortest form
    val s = StructType(Seq(StructField("a", DoubleType)))
    val cases = Seq(1.0e-4 -> "0.00010", 1.0e7 -> "10000000",
      9999999.0 -> "9999999.0", -0.0 -> "0.0", -3.3e-4 -> "-0.00033",
      Double.NaN -> "NaN")
    for ((d, want) <- cases) assert(renderOne(s, Row(d)) == want, s"for $d")
  }

  test("cell containing the delimiter is quote-wrapped") {
    val (s, r) = strings2("bl,ah", "bleep")
    assert(renderOne(s, r) == "\"bl,ah\",bleep")
  }

  test("embedded quote is backslash-escaped without wrapping") {
    val (s, r) = strings2("bl\"ah", "bleep")
    assert(renderOne(s, r) == "bl\\\"ah,bleep")
  }

  test("delimiter plus quote: escaped then wrapped") {
    val (s, r) = strings2("bl\"a,h", "bleep")
    assert(renderOne(s, r) == "\"bl\\\"a,h\",bleep")
  }

  test("nil cells render empty") {
    val (s, _) = strings2("", "")
    assert(renderOne(s, Row(null, null)) == ",")
  }

  test("delimitedBytes emits header plus rendered rows with trailing newline") {
    val s = StructType(Seq(StructField("bar", StringType), StructField("baz", StringType)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row("bl,ah", "b\"p")), s)
    assert(DelimitedWriter.delimitedBytes(df) == "bar,baz\n\"bl,ah\",b\\\"p\n")
  }

  test("delimitedBytes keeps a single all-empty-cells row") {
    val s = StructType(Seq(StructField("a", StringType)))
    val df = spark.createDataFrame(java.util.Arrays.asList(Row(null)), s)
    assert(DelimitedWriter.delimitedBytes(df) == "a\n\n")
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), s)
    assert(DelimitedWriter.delimitedBytes(empty) == "a\n")
  }

  test("writeJson emits JSONL and jsonArrayString the array form") {
    val s = StructType(Seq(StructField("bar", StringType), StructField("n", DoubleType)))
    val df = spark.createDataFrame(java.util.Arrays.asList(Row("x", 1.5)), s)
    assert(DelimitedWriter.jsonArrayString(df) == """[{"bar":"x","n":1.5}]""")
    val dir = tempDir("graft_json").toString + "/out"
    DelimitedWriter.writeJson(df.coalesce(1), dir)
    val part = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json")).head
    val content = new String(java.nio.file.Files.readAllBytes(part.toPath), "UTF-8")
    assert(content == """{"bar":"x","n":1.5}""" + "\n")
  }

  test("writeDelimited writes rendered lines via the text sink") {
    val s = StructType(Seq(StructField("bar", StringType), StructField("baz", StringType)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row("bl,ah", "b\"p")), s).coalesce(1)
    val dir = tempDir("graft_csv").toString + "/out"
    DelimitedWriter.writeDelimited(df, dir)
    val part = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-")).head
    val content = new String(java.nio.file.Files.readAllBytes(part.toPath), "UTF-8")
    assert(content == "\"bl,ah\",b\\\"p\n")
  }
}
