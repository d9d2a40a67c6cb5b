package graft

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.TimestampType

/** The `Tables` schema contract: one schema inference per table per
  * session, re-inferred when the table's files or the parquet reader
  * confs change.
  */
class TablesSpec extends SparkSuite {

  /** A parquet file whose `ts` is TIMESTAMP(NANOS), the encoding the
    * events table's reader dispatch is written for.
    */
  private def writeNanosEvents(path: String, nanos: Seq[Long]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 user_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (t, i) =>
      writer.write(groups.newGroup().append("user_id", i.toLong).append("ts", t))
    } finally writer.close()
  }

  private def freshDir(): String = tempDir("graft_tables").toString

  test("a second read of an unchanged table starts no job and is a fresh relation") {
    val d = freshDir()
    spark.range(10).toDF("id").write.parquet(s"$d/t.parquet")
    val (first, inferJobs) = jobsDuring(Tables.table(spark, d, "t"))
    assert(inferJobs.nonEmpty, "the first read should infer the schema")
    val (second, jobs) = jobsDuring(Tables.table(spark, d, "t"))
    assert(jobs.isEmpty, s"the second read started jobs: $jobs")
    assert(second.schema == first.schema)
    assert(first.join(second, first("id") === second("id")).count() == 10)
  }

  test("a table rewritten in place with an extra column is re-inferred") {
    val d = freshDir()
    spark.range(5).toDF("id").write.parquet(s"$d/t.parquet")
    assert(Tables.table(spark, d, "t").columns.toSeq == Seq("id"))
    spark.range(5).selectExpr("id", "id * 2 AS twice")
      .write.mode("overwrite").parquet(s"$d/t.parquet")
    val t = Tables.table(spark, d, "t")
    assert(t.columns.toSeq == Seq("id", "twice"))
    assert(t.where("twice = 8").count() == 1)
  }

  test("events reads ts as a timestamp after nanosAsLong is set: the conf is part of the key") {
    val d = freshDir()
    writeNanosEvents(s"$d/events.parquet", Seq(1700000000123456789L, 1700000001999999999L))
    val conf = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(conf)
    intercept[AnalysisException](Tables.table(spark, d, "events"))
    val ev = Tables.events(spark, d)
    assert(spark.conf.get(conf) == "true")
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.orderBy("user_id").selectExpr("unix_micros(ts)").collect().map(_.getLong(0))
      .toSeq == Seq(1700000000123456L, 1700000001999999L))
    // the schema inferred under nanosAsLong=true must not serve a read without it
    spark.conf.set(conf, "false")
    intercept[AnalysisException](Tables.table(spark, d, "events"))
    val (again, jobs) = jobsDuring(Tables.events(spark, d))
    assert(jobs.isEmpty, s"a repeat events read started jobs: $jobs")
    assert(again.schema == ev.schema)
  }
}
