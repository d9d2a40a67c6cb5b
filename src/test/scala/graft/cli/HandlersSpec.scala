package graft.cli

import graft.SparkSuite
import graft.decode.Decoder
import graft.detect.{AllocFormat, FinError, Prospector}
import graft.io.DelimitedWriter
import graft.schema.AllocRegistry

/** End-to-end pipeline contract over the committed fixtures (EP1/EP2). */
class HandlersSpec extends SparkSuite {

  private val txnCsv = "/root/repo/fixtures/mtransaction.csv"

  test("handleDetect reports schema and format lines") {
    assert(Handlers.handleDetect(spark, txnCsv) == Seq("transaction: CSV"))
    assert(Handlers.handleDetect(spark, "/root/repo/fixtures/masset.csv")
      == Seq("asset: CSV"))
  }

  test("handleTransform runs sniff->resolve->decode->export end to end") {
    val r = Handlers.handleTransform(spark, txnCsv)
    assert(r.importerId == "alloc_transaction")
    assert(r.schema == "transaction")
    assert(r.rejects.count() == 4)
    val lines = r.output.split("\n", -1).toSeq
    assert(lines.head ==
      "txnAction,txnTransactedAt,txnAccountID,txnSecurityID,txnLotID," +
        "txnShareCount,txnSharePrice,realizedGainShort,realizedGainLong")
    assert(lines.count(_.nonEmpty) == 13) // header + 12 good rows
    // quoted embedded-delimiter cell survives round trip re-wrapped
    assert(r.output.contains("\"VTI,X\""))
    // timestamps exported as ISO8601 UTC (13:00 New York -> 18:00Z)
    assert(r.output.contains("2021-03-01T18:00:00Z"))
  }

  test("handleTransform JSON export emits an array of objects") {
    val r = Handlers.handleTransform(spark, txnCsv,
      exportFormat = AllocFormat.JSON)
    assert(r.output.startsWith("[{") && r.output.endsWith("}]"))
    assert(r.output.contains("\"txnAction\":\"buy\""))
  }

  test("TSV sources detect and transform end to end") {
    val tsv = tempDir("graft_txn").resolve("txn.tsv")
    val header = "txnAction\ttxnTransactedAt\ttxnAccountID\ttxnSecurityID" +
      "\ttxnLotID\ttxnShareCount\ttxnSharePrice\trealizedGainShort\trealizedGainLong"
    java.nio.file.Files.writeString(tsv, header +
      "\nbuy\t2021-03-01\tACC-1\tBND\t\t100\t85.62\t\t" +
      "\nsell\t2021-03-02\tACC-1\tBND\t\t-100\t86.00\t\t1.38\n")
    assert(Handlers.handleDetect(spark, tsv.toString) == Seq("transaction: TSV"))
    val r = Handlers.handleTransform(spark, tsv.toString)
    assert(r.good.count() == 2 && r.rejects.count() == 0)
    assert(r.output.contains("buy,2021-03-01T18:00:00Z,ACC-1,BND,,100.0,85.62,,"))
  }

  // ---- job census: sniff on the driver, decode in the first export's job ----

  // relative to the project root, the forked test JVM's working directory
  private val txnFixture = "fixtures/mtransaction.csv"

  private def assertJobs(expected: Int)(body: => Unit): Unit = {
    val (_, jobs) = jobsDuring(body)
    assert(jobs.size == expected, s"jobs started: ${jobs.mkString(", ")}")
  }

  test("handleDetect starts no Spark job") {
    assertJobs(0) { assert(Handlers.handleDetect(spark, txnFixture) == Seq("transaction: CSV")) }
  }

  test("handleTransform starts one Spark job: its export's") {
    assertJobs(1) { Handlers.handleTransform(spark, txnFixture).release() }
  }

  test("sniff, decode, a CSV export and two JSONL exports start three Spark jobs") {
    val out = tempDir("graft_job_census")
    assertJobs(3) {
      val p = Prospector.default
      val prefix = p.sniffPrefix(spark, txnFixture)
      val (_, schema) = p.resolve(prefix)
      val spec = AllocRegistry.entities(schema)
      val decoded = Decoder.decode(Decoder.readRaw(spark, txnFixture, spec), spec)
      DelimitedWriter.writeDelimited(decoded.good, s"$out/csv")
      DelimitedWriter.writeJson(decoded.good, s"$out/jsonl")
      DelimitedWriter.writeJson(decoded.rejects, s"$out/rejects")
      decoded.release()
    }
  }

  test("handleTransform surfaces resolution errors") {
    val e = intercept[FinError] {
      Handlers.handleTransform(spark, txnCsv, importerId = Some("nope"))
    }
    assert(e.message == "Importer not recognized. nope")
  }
}
