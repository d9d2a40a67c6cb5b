package graft.decode

import java.nio.file.{Files, Path}

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.io.DelimitedWriter
import graft.schema.{AllocRegistry, MAccount, MAllocation, MSecurity, MStrategy, MTransaction}

/** Decode + reject-routing contract over the committed fixture
  * (FIXTURES.md §A5): 12 decodable rows, 4 poisoned rows, first-failing-
  * field reasons, and a typed Dataset[MTransaction] materialization.
  */
class DecoderSpec extends SparkSuite {

  private val spec = AllocRegistry.transaction
  private lazy val result = Decoder.decode(
    Decoder.readRaw(spark, "/root/repo/fixtures/mtransaction.csv", spec), spec)

  test("good rows decode with typed columns") {
    assert(result.good.count() == 12)
    val schema = result.good.schema
    assert(schema("txnShareCount").dataType.typeName == "double")
    assert(schema("txnTransactedAt").dataType.typeName == "timestamp")
  }

  test("rejects carry first-failing-field reasons") {
    val reasons = result.rejects.select("reason").collect().map(_.getString(0)).sorted
    assert(reasons.toSeq == Seq("bad_date:txnTransactedAt",
      "bad_double:txnShareCount", "missing:txnAccountID", "missing:txnAction"))
  }

  test("decode splits losslessly: good + rejects = raw") {
    val raw = Decoder.readRaw(spark, "/root/repo/fixtures/mtransaction.csv", spec)
    assert(result.good.count() + result.rejects.count() == raw.count())
  }

  test("good rows materialize as Dataset[MTransaction]") {
    import spark.implicits._
    val ds = result.good
      .withColumn("txnTransactedAt_ms", unix_millis(col("txnTransactedAt")))
      .drop("txnTransactedAt")
      .as[MTransaction]
    val rows = ds.collect()
    assert(rows.length == 12)
    assert(rows.forall(_.txnAccountID.nonEmpty))
    assert(rows.exists(_.txnSecurityID.contains("VTI,X"))) // quoted cell survived
  }

  test("optional typed fields decode to null without rejecting (holding)") {
    val holdingSpec = AllocRegistry.holding
    val tmp = tempDir("graft_holding").resolve("holding.csv")
    java.nio.file.Files.writeString(tmp,
      "holdingAccountID,holdingSecurityID,holdingLotID,shareCount,shareBasis,acquiredAt\n" +
        "ACC-1,BND,,100,85.0,2020-06-30\n" + // full row
        "ACC-1,SPY,L1,25,,\n" +              // optional double + date empty -> nulls
        ",SPY,L1,25,,\n")                    // missing key -> reject
    val res = Decoder.decode(
      Decoder.readRaw(spark, tmp.toString, holdingSpec), holdingSpec)
    assert(res.good.count() == 2)
    assert(res.rejects.select("reason").collect().map(_.getString(0)).toSeq
      == Seq("missing:holdingAccountID"))
    val noDate = res.good.where(col("holdingSecurityID") === "SPY").collect().head
    assert(noDate.isNullAt(noDate.fieldIndex("acquiredAt")))
    assert(noDate.isNullAt(noDate.fieldIndex("shareBasis")))
  }

  test("invalid defTimeOfDay raises a typed decoding error") {
    val raw = Decoder.readRaw(spark, "/root/repo/fixtures/mtransaction.csv", spec)
    val e = intercept[graft.detect.FinError] {
      Decoder.decode(raw, spec, defTimeOfDay = "1pm")
    }
    assert(e.message.contains("invalid defTimeOfDay '1pm'"))
  }

  test("account fixture decodes: boolean casts + Dataset[MAccount]") {
    import spark.implicits._
    val spec2 = AllocRegistry.account
    val res = Decoder.decode(
      Decoder.readRaw(spark, "/root/repo/fixtures/maccount.csv", spec2), spec2)
    assert(res.good.count() == 3)
    assert(res.rejects.select("reason").collect().map(_.getString(0)).sorted.toSeq
      == Seq("bad_boolean:isTaxable", "missing:accountID"))
    val rows = res.good.as[MAccount].collect().sortBy(_.accountID)
    assert(rows.map(_.isTaxable).toSeq == Seq(Some(true), Some(false), Some(true)))
    assert(rows(1).canTrade.isEmpty) // empty optional boolean -> None, not reject
    assert(rows(2).title.contains("Roth, IRA")) // quoted cell survived
  }

  test("allocation fixture decodes: percentage casts + Dataset[MAllocation]") {
    import spark.implicits._
    val spec2 = AllocRegistry.allocation
    val res = Decoder.decode(
      Decoder.readRaw(spark, "/root/repo/fixtures/mallocation.csv", spec2), spec2)
    assert(res.good.count() == 3)
    assert(res.rejects.select("reason").collect().map(_.getString(0)).sorted.toSeq
      == Seq("bad_double:targetPct", "missing:allocationAssetID"))
    val rows = res.good.as[MAllocation].collect()
    assert(rows.flatMap(_.targetPct).sorted.toSeq == Seq(0.4, 0.6))
    assert(rows.count(_.targetPct.isEmpty) == 1) // empty optional pct -> None
  }

  test("security fixture decodes: price/date casts + Dataset[MSecurity]") {
    import spark.implicits._
    val spec2 = AllocRegistry.security
    val res = Decoder.decode(
      Decoder.readRaw(spark, "/root/repo/fixtures/msecurity.csv", spec2), spec2)
    assert(res.good.count() == 3)
    assert(res.rejects.select("reason").collect().map(_.getString(0)).sorted.toSeq
      == Seq("bad_date:updatedAt", "bad_double:sharePrice", "missing:securityID"))
    val rows = res.good
      .withColumn("updatedAt_ms", unix_millis(col("updatedAt")))
      .drop("updatedAt")
      .as[MSecurity].collect().sortBy(_.securityID)
    // 2021-03-01 13:00 America/New_York == 2021-03-01T18:00:00Z
    assert(rows.head.updatedAt_ms
      .contains(java.time.Instant.parse("2021-03-01T18:00:00Z").toEpochMilli))
    assert(rows.find(_.securityID == "VTI").exists(r =>
      r.assetID.isEmpty && r.updatedAt_ms.isEmpty))
  }

  test("strategy fixture decodes: Dataset[MStrategy] + key reject") {
    import spark.implicits._
    val spec2 = AllocRegistry.strategy
    val res = Decoder.decode(
      Decoder.readRaw(spark, "/root/repo/fixtures/mstrategy.csv", spec2), spec2)
    assert(res.good.count() == 2)
    assert(res.rejects.select("reason").collect().map(_.getString(0)).toSeq
      == Seq("missing:strategyID"))
    val rows = res.good.as[MStrategy].collect().sortBy(_.strategyID)
    assert(rows.map(_.title).toSeq == Seq(Some("60/40"), Some("All, Weather")))
  }

  test("timestamp enrichment applies default time-of-day in the zone") {
    // 2021-03-01 13:00 America/New_York == 2021-03-01T18:00:00Z
    val ms = result.good
      .where(col("txnAccountID") === "ACC-1" && col("txnAction") === "buy")
      .select(unix_millis(col("txnTransactedAt"))).collect().head.getLong(0)
    assert(ms == java.time.Instant.parse("2021-03-01T18:00:00Z").toEpochMilli)
  }

  // ---- the ordered split read against Spark's CSV file source ----

  private val header = spec.fields.map(_.name).mkString(",")
  private val txnRows = Seq(
    "buy,2021-03-01,ACC-1,BND,,100,85.62,,",
    "sell,2021-03-02,ACC-1,\"VTI,X\",L1,-10,201.5,1.25,",
    "buy,2021-13-45,ACC-2,SPY,,5,400,,",
    ",2021-03-04,ACC-2,SPY,,5,401,,")

  private def write(path: Path, body: String): String = {
    Files.writeString(path, body)
    path.toString
  }

  private def tmpCsv(body: String): String =
    write(tempDir("graft_decode").resolve("input.csv"), body)

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Oracle: Spark's CSV file source with its own header handling, rows
    * put in file order (path, then split start — rows within one split
    * already are).
    */
  private def fileSourceRows(path: String): Seq[Row] = {
    val n = spec.fields.size
    spark.read.option("header", "true").option("mode", "PERMISSIVE")
      .schema(spec.rawSchema).csv(path)
      .select(col("*"), col("_metadata.file_path"), col("_metadata.file_block_start"))
      .collect().toSeq
      .sortBy(r => (r.getString(n), r.getLong(n + 1)))
      .map(r => Row.fromSeq(r.toSeq.take(n)))
  }

  /** Same rows in the same order as the file source, at the default split
    * size and with a split every 7 bytes (splits then start mid-line, at
    * line starts and between CR and LF).
    */
  private def assertReadsLikeFileSource(path: String): Seq[Row] = {
    val expected = fileSourceRows(path)
    assert(Decoder.readRaw(spark, path, spec).collect().toSeq == expected)
    withConf("spark.sql.files.maxPartitionBytes", "7") {
      assert(Decoder.readRaw(spark, path, spec).collect().toSeq == expected)
    }
    expected
  }

  test("readRaw equals the file-source read on a multi-split 4 MB input") {
    val sb = new StringBuilder(header).append('\n')
    var i = 0
    while (sb.length < (4 << 20) + 4096) {
      sb.append(txnRows(i % txnRows.size).replace("ACC-", s"ACC-$i-")).append('\n')
      i += 1
    }
    val path = tmpCsv(sb.toString)
    val expected = fileSourceRows(path)
    assert(expected.size == i)
    withConf("spark.sql.files.maxPartitionBytes", (1 << 20).toString) {
      val raw = Decoder.readRaw(spark, path, spec)
      assert(raw.rdd.getNumPartitions >= 4)
      assert(raw.collect().toSeq == expected)
    }
  }

  test("readRaw on a two-file directory drops each file's header once") {
    val dir = tempDir("graft_decode_dir")
    write(dir.resolve("a.csv"), (header +: txnRows.take(2)).mkString("", "\n", "\n"))
    write(dir.resolve("b.csv"), (header +: txnRows.drop(2)).mkString("", "\n", "\n"))
    write(dir.resolve("_SUCCESS"), "")
    val rows = assertReadsLikeFileSource(dir.toString)
    assert(rows.size == txnRows.size)
    assert(rows.map(_.getString(2)) == Seq("ACC-1", "ACC-1", "ACC-2", "ACC-2"))
  }

  test("a data line equal to the header is kept and rejected as bad_date") {
    val path = tmpCsv(Seq(header, txnRows(0), header, txnRows(1)).mkString("", "\n", "\n"))
    assert(assertReadsLikeFileSource(path).size == 3)
    withConf("spark.sql.files.maxPartitionBytes", "7") {
      val res = Decoder.decode(Decoder.readRaw(spark, path, spec), spec)
      assert(res.good.count() == 2)
      assert(res.rejects.select("reason").collect().map(_.getString(0)).toSeq
        == Seq("bad_date:txnTransactedAt"))
      res.release()
    }
  }

  test("readRaw handles CRLF line endings like the file source") {
    val path = tmpCsv((header +: txnRows).mkString("", "\r\n", "\r\n"))
    assert(assertReadsLikeFileSource(path).size == txnRows.size)
  }

  test("readRaw skips blank lines like the file source") {
    val path = tmpCsv(Seq("", header, txnRows(0), "", "   ", txnRows(1), txnRows(2), "", "")
      .mkString("\n"))
    assert(assertReadsLikeFileSource(path).size == 3)
  }

  test("readRaw of an empty file is empty, and so is its decode") {
    val path = tmpCsv("")
    assert(assertReadsLikeFileSource(path).isEmpty)
    val res = Decoder.decode(Decoder.readRaw(spark, path, spec), spec)
    assert(res.good.count() == 0 && res.rejects.count() == 0)
    res.release()
  }

  // ---- one parse per decode call ----

  // relative to the project root, the forked test JVM's working directory
  private val txnFixture = "fixtures/mtransaction.csv"

  /** The checkpointed RDD of the one leaf both frames read; fails on a
    * file-source relation or a second leaf.
    */
  private def leafOf(res: Decoder.DecodeResult): org.apache.spark.rdd.RDD[_] = {
    val leaves = Seq(res.good, res.rejects).map { df =>
      val plan = df.queryExecution.optimizedPlan
      assert(plan.collect { case r: LogicalRelation => r }.isEmpty, plan.toString)
      val rdds = plan.collect { case l: LogicalRDD => l.rdd }
      assert(rdds.size == 1, plan.toString)
      rdds.head
    }
    assert(leaves.map(_.id).distinct.size == 1)
    leaves.head
  }

  test("decode starts no job; after the first sink both frames read one checkpointed leaf") {
    withScans(txnFixture) { scans =>
      val (res, jobs) =
        jobsDuring(Decoder.decode(Decoder.readRaw(spark, txnFixture, spec), spec))
      assert(jobs.isEmpty, jobs.toString)
      assert(scans.scans.isEmpty)
      assert(!leafOf(res).isCheckpointed)
      DelimitedWriter.writeDelimited(res.good, tempDir("graft_decode_leaf").resolve("csv").toString)
      assert(leafOf(res).isCheckpointed)
      res.release()
    }
  }

  /** Input bytes of the completed stages that scan `path` (its read RDD
    * is named after it); cached leaf reads are reported under other RDDs.
    */
  private final class InputScans(path: String) extends SparkListener {
    @volatile var scans: Vector[Long] = Vector.empty
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (e.stageInfo.rddInfos.exists(_.name == path)) synchronized {
        scans :+= e.stageInfo.taskMetrics.inputMetrics.bytesRead
      }
  }

  /** Decodes `path`, writes the CSV, JSONL and reject sinks, frees the
    * leaf, and returns the number of input scans `scans` has seen; `first`
    * runs on the result before the sinks.
    */
  private def decodeAndSink(path: String, scans: InputScans)(
      first: Decoder.DecodeResult => Unit = _ => ()): Int = {
    val out = tempDir("graft_decode_once").toString
    val res = Decoder.decode(Decoder.readRaw(spark, path, spec), spec)
    first(res)
    DelimitedWriter.writeDelimited(res.good, s"$out/csv")
    DelimitedWriter.writeJson(res.good, s"$out/jsonl")
    DelimitedWriter.writeJson(res.rejects, s"$out/rejects")
    res.release()
    jobsDuring(()) // every stage before the fence has been reported
    scans.scans.size
  }

  private def withScans[T](path: String)(body: InputScans => T): T = {
    val scans = new InputScans(path)
    spark.sparkContext.addSparkListener(scans)
    try body(scans) finally spark.sparkContext.removeSparkListener(scans)
  }

  test("the three sinks read the input once; a second decode and its sinks read it again") {
    val fileBytes = Files.size(java.nio.file.Paths.get(txnFixture))
    withScans(txnFixture) { scans =>
      assert(decodeAndSink(txnFixture, scans)() == 1)
      assert(scans.scans.head >= fileBytes)
      assert(decodeAndSink(txnFixture, scans)() == 2)
      assert(scans.scans(1) >= fileBytes)
    }
  }

  test("a take as the first action still fills the whole leaf for the sinks") {
    withScans(txnFixture) { scans =>
      var leaf: org.apache.spark.rdd.RDD[_] = null
      decodeAndSink(txnFixture, scans) { res =>
        assert(res.good.take(1).length == 1)
        leaf = leafOf(res)
        assert(leaf.isCheckpointed)
      }
      assert(leaf.getNumPartitions > 1)
      // the take and doCheckpoint's job for the partitions it skipped
      // read every byte range once; the three sinks read none
      assert(scans.scans.sum >= Files.size(java.nio.file.Paths.get(txnFixture)))
      assert(scans.scans.size <= leaf.getNumPartitions)
    }
  }

  test("with reliable artifacts the leaf is eager and the sinks still read the input once") {
    withConf(graft.Artifacts.ReliableArtifactsConf, "true") {
      withScans(txnFixture) { scans =>
        val total = decodeAndSink(txnFixture, scans) { _ =>
          jobsDuring(())
          assert(scans.scans.size == 1) // the checkpoint's own job, in decode
        }
        assert(total == 1)
      }
    }
  }

  test("good and rejects keep their names, types and nullability for every entity") {
    val path = tmpCsv("")
    for (spec <- AllocRegistry.entities.values) {
      val raw = Decoder.readRaw(spark, path, spec)
      // the frames as plain projections of the tagged raw rows, no leaf
      val tagged = raw.withColumn("__reason", Decoder.reasonCol(spec))
      val good = tagged.where(col("__reason").isNull)
        .select(Decoder.decodedCols(spec, "13:00", "America/New_York"): _*)
      val rejects = tagged.where(col("__reason").isNotNull)
        .select(spec.fields.map(f => col(f.name)) :+ col("__reason").as("reason"): _*)
      val res = Decoder.decode(raw, spec)
      assert(res.good.schema == good.schema, spec.entity)
      assert(res.rejects.schema == rejects.schema, spec.entity)
      assert(res.good.columns.toSeq == spec.fields.map(_.name))
      res.release()
    }
  }
}
