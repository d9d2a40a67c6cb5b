package graft.detect

import graft.SparkSuite
import graft.decode.Decoder
import graft.schema.AllocRegistry

/** Contract tests for detection/prospect/resolution and the error
  * taxonomy (A3-A5/A17,
  * reference/Sources/Handlers/TransformHandler.swift:57-108,
  * reference/Sources/Helpers/FINporterError.swift:22-63; base-contract
  * case at reference/Tests/Core/FINporterTests.swift:25-29).
  */
class ProspectorSpec extends SparkSuite {

  private def fake(fid: String, schemas: Seq[String],
      hit: Boolean = true): Importer = new Importer {
    override def id: String = fid
    override def sourceFormats: Seq[AllocFormat] = Seq(AllocFormat.CSV)
    override def outputSchemas: Seq[String] = schemas
    override def detect(prefix: String): Map[String, Seq[AllocFormat]] =
      if (hit) schemas.map(_ -> Seq(AllocFormat.CSV: AllocFormat)).toMap else Map.empty
  }

  test("default registry detects the transaction fixture by header") {
    val p = Prospector.default
    val prefix = p.sniffPrefix(spark, "/root/repo/fixtures/mtransaction.csv")
    val (imp, schema) = p.resolve(prefix)
    assert(imp.id == "alloc_transaction")
    assert(schema == "transaction")
  }

  test("prospect over the asset fixture finds exactly the asset importer") {
    val p = Prospector.default
    val prefix = p.sniffPrefix(spark, "/root/repo/fixtures/masset.csv")
    val hits = p.prospect(prefix)
    assert(hits.keySet.map(_.id) == Set("alloc_asset"))
    assert(hits.values.head == Map("asset" -> Seq(AllocFormat.CSV)))
  }

  // ---- the driver-side sniff against Spark's text source ----

  private def textSourceHead(path: String): String =
    spark.read.text(path).limit(8).collect().map(_.getString(0)).mkString("\n")

  private def write(path: java.nio.file.Path, body: String): String = {
    java.nio.file.Files.writeString(path, body)
    path.toString
  }

  private val header = AllocRegistry.transaction.fields.map(_.name).mkString(",")
  private val rows = (1 to 12).map(i => s"buy,2021-03-${"%02d".format(i)},ACC-$i,BND,,$i,85.62,,")

  test("sniffPrefix gives the text source's first 8 lines") {
    val dir = tempDir("graft_sniff")
    val gz = dir.resolve("txn.csv.gz")
    val gzOut = new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(gz))
    try gzOut.write((header +: rows).mkString("", "\n", "\n").getBytes("UTF-8"))
    finally gzOut.close()
    val fixtures = Option(new java.io.File("fixtures").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".csv")).map(_.getPath).sorted
    assert(fixtures.size >= 2)
    val inputs = fixtures ++ Seq(
      write(dir.resolve("crlf.csv"), (header +: rows).mkString("", "\r\n", "\r\n")),
      write(dir.resolve("blank.csv"), ("" +: "  " +: "" +: header +: rows).mkString("\n")),
      gz.toString,
      write(dir.resolve("empty.csv"), ""))
    val p = Prospector.default
    for (in <- inputs) assert(p.sniffPrefix(spark, in) == textSourceHead(in), in)
    assert(p.sniffPrefix(spark, gz.toString) == (header +: rows.take(7)).mkString("\n"))
    assert(p.sniffPrefix(spark, dir.resolve("empty.csv").toString) == "")
  }

  test("sniffPrefix of a directory reads its first file in path order, as readRaw does") {
    val dir = tempDir("graft_sniff_dir")
    // b.csv is the larger file, so the text source's size-ordered packing
    // reads it first; readRaw and the sniff read a.csv first
    write(dir.resolve("a.csv"), (header +: rows.take(2)).mkString("", "\n", "\n"))
    write(dir.resolve("b.csv"), (header +: rows.drop(2)).mkString("", "\n", "\n"))
    write(dir.resolve("_SUCCESS"), "")
    val (prefix, jobs) = jobsDuring(Prospector.default.sniffPrefix(spark, dir.toString))
    assert(prefix == (header +: rows.take(2)).mkString("\n"))
    assert(jobs.isEmpty)
    val spec = AllocRegistry.transaction
    assert(Decoder.readRaw(spark, dir.toString, spec).head().getString(2) == "ACC-1")
  }

  test("unrecognized prefix raises sourceFormatNotRecognized") {
    val e = intercept[FinError] {
      new Prospector(Seq(fake("a", Seq("account"), hit = false))).resolve("junk")
    }
    assert(e == FinError.SourceFormatNotRecognized)
    assert(e.message == "Source format not recognized.")
  }

  test("two matching importers raise multipleImportersMatch") {
    val e = intercept[FinError] {
      new Prospector(Seq(fake("a", Seq("account")), fake("b", Seq("asset"))))
        .resolve("header")
    }
    assert(e.message ==
      "Multiple importers match. Need to disambiguate. Importers: [a, b]")
  }

  test("explicit unknown importer id raises importerNotRecognized") {
    val e = intercept[FinError] {
      new Prospector(Seq(fake("a", Seq("account")))).resolve("x", importerId = Some("zzz"))
    }
    assert(e.message == "Importer not recognized. zzz")
  }

  test("explicit schema must be supported by the resolved importer") {
    val e = intercept[FinError] {
      new Prospector(Seq(fake("a", Seq("account"))))
        .resolve("h", outputSchema = Some("transaction"))
    }
    assert(e.message == "Supported target schema: '[account]'.")
  }

  test("ambiguous output schemas raise multipleOutputSchemasMatch") {
    val e = intercept[FinError] {
      new Prospector(Seq(fake("a", Seq("account", "asset")))).resolve("h")
    }
    assert(e.message ==
      "Multiple output schemas match. Need to disambiguate. Schemas: [account, asset]")
  }

  test("explicit importer id with explicit supported schema resolves") {
    val p = new Prospector(Seq(fake("multi", Seq("account", "asset"), hit = false)))
    val (imp, schema) = p.resolve("anything", importerId = Some("multi"),
      outputSchema = Some("asset"))
    assert(imp.id == "multi" && schema == "asset")
  }

  test("error taxonomy carries the reference messages") {
    assert(FinError.NotImplemented.message == "Not implemented.")
    assert(FinError.DecodingKeyError("k", "MAsset", "boom").message ==
      "Failure to decode 'k' in MAsset. boom")
    assert(FinError.EncodingError("bad").message == "Failure to encode. bad")
  }
}
