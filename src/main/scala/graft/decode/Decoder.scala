package graft.decode

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapreduce.{InputSplit, Job, JobContext, MRJobConfig, TaskAttemptID}
import org.apache.hadoop.mapreduce.lib.input.{FileInputFormat, FileSplit, TextInputFormat}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.rdd.NewHadoopRDD
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.Artifacts
import graft.schema.{EntitySpec, FieldKind, FieldSpec}

/** Typed decode with reject routing — the reference's core semantic
  * (`FINporter.decode`, reference/Sources/Core/FINporter.swift:39-49, driven
  * at reference/Sources/Handlers/TransformHandler.swift:118-124): raw
  * string rows become typed rows, and rows that fail any field decode are
  * routed to a reject channel instead of failing the batch.
  *
  * Spark-first shape: each input is parsed ONCE per [[decode]] call.
  *  - [[readRaw]] cuts the input into ordered byte-range splits, as many
  *    as its size and the cores call for; partition i holds range i, so
  *    row order is file order.
  *  - [[decode]] tags every raw row with `__reason` (a coalesce of
  *    per-field checks in declared field order, so the first failing field
  *    wins, mirroring the reference's first-error-per-row behavior), types
  *    it once, and declares that frame one lazy checkpointed leaf
  *    ([[graft.Artifacts.leafDf]] with `eager = false`). It starts no job:
  *    the first sink's job parses, tags, types and stores the leaf, and
  *    the later sinks read its blocks. `good` and `rejects` are column
  *    selections of the leaf, so the CSV, JSONL and reject sinks all read
  *    the one parse and none of them casts again. (With
  *    [[graft.Artifacts.ReliableArtifactsConf]] on, the leaf's files are
  *    written in the call, as that arm is always eager.)
  *  - The leaf belongs to its call: it is never registered in
  *    [[graft.Artifacts]] or keyed by path, and a second call on the same
  *    path reads and parses the input again at its first sink. The caller
  *    frees it with [[DecodeResult.release]] once done with both frames;
  *    Spark's ContextCleaner frees the blocks of a leaf whose frames were
  *    dropped without it.
  * Nothing is collected and nothing is thrown for bad rows.
  * Date-only sources are enriched with a default time-of-day and zone into
  * UTC timestamps (defTimeOfDay/timeZone decode params,
  * reference/Sources/Core/FINporter.swift:45-47).
  *
  * The same [[EntitySpec]] also generates the DuckDB oracle SQL (see
  * [[Decoder.oracleReasonSql]] and
  * [[Decoder.oracleDecodedSql]]) so engine and oracle share one source of truth.
  */
object Decoder {

  /** Typed good rows and raw rejects (+ `reason`), both selections of one
    * checkpointed leaf; `release` drops that leaf's blocks or files (the
    * frames are unusable afterwards).
    */
  final case class DecodeResult(good: DataFrame, rejects: DataFrame,
      release: () => Unit)

  /** PERMISSIVE all-string CSV/TSV read under the entity's raw schema
    * (A2: reference tokenizes via SwiftCSV, Package.swift:28), over
    * size-aware ordered splits.
    *
    * `path` is a file, a directory of files or a glob; files are read in
    * path order. The input is cut into
    * `max(defaultParallelism, ceil(bytes / spark.sql.files.maxPartitionBytes))`
    * byte ranges ([[OrderedTextInputFormat]]) and read with Hadoop's
    * `LineRecordReader`, the line reader of Spark's CSV file source. As in
    * the file source, the header (the first non-blank line) is dropped
    * only in a split that starts at byte 0 of its file, so a data line
    * that repeats the header text elsewhere is kept. The lines are then
    * parsed by Spark's CSV parser with the same separator and PERMISSIVE
    * mode, header-less.
    */
  def readRaw(spark: SparkSession, path: String, spec: EntitySpec,
      delimiter: String = ","): DataFrame = {
    val sc = spark.sparkContext
    val job = OrderedTextInputFormat.job(spark, path)
    val lines = new NewHadoopRDD(sc, classOf[OrderedTextInputFormat],
        classOf[LongWritable], classOf[Text], job.getConfiguration)
      .setName(path)
      .mapPartitionsWithInputSplit { (split, records) =>
        val text = records.map { case (_, t) => OrderedTextInputFormat.string(t) }
        if (split.asInstanceOf[FileSplit].getStart != 0) text
        else {
          val body = text.dropWhile(_.trim.isEmpty)
          if (body.hasNext) body.next()
          body
        }
      }
    spark.read
      .option("sep", delimiter)
      .option("mode", "PERMISSIVE")
      .schema(spec.rawSchema)
      .csv(spark.createDataset(lines)(Encoders.STRING))
  }

  private def splitTod(defTimeOfDay: String): (Int, Int) =
    defTimeOfDay.split(":", -1) match {
      case Array(h, m) if h.nonEmpty && m.nonEmpty &&
          h.length <= 2 && m.length <= 2 &&
          h.forall(_.isDigit) && m.forall(_.isDigit) &&
          h.toInt <= 23 && m.toInt <= 59 =>
        (h.toInt, m.toInt)
      case _ => throw graft.detect.FinError.DecodingError(
        s"invalid defTimeOfDay '$defTimeOfDay' (expected HH:mm)")
    }

  /** First-failing-field reject reason, null for clean rows. */
  def reasonCol(spec: EntitySpec): Column = {
    val checks: Seq[Column] = spec.fields.flatMap { f =>
      val raw = col(f.name)
      val missing =
        if (f.required) Some(when(raw.isNull, lit(s"missing:${f.name}")))
        else None
      val bad = f.kind match {
        case FieldKind.Str => None
        case k =>
          val (castSql, label) = k match {
            case FieldKind.Dbl => (s"try_cast(${f.name} AS double)", "bad_double")
            case FieldKind.Bool => (s"try_cast(${f.name} AS boolean)", "bad_boolean")
            case FieldKind.DateCol => (s"try_cast(${f.name} AS date)", "bad_date")
            case FieldKind.Str => throw new IllegalStateException
          }
          Some(when(raw.isNotNull && expr(castSql).isNull, lit(s"$label:${f.name}")))
      }
      missing.toSeq ++ bad.toSeq
    }
    coalesce(checks :+ lit(null).cast("string"): _*)
  }

  /** Decoded (typed) projection of a raw row; DateCol fields become UTC
    * TimestampType via defTimeOfDay + zone enrichment.
    */
  def decodedCols(spec: EntitySpec, defTimeOfDay: String, zone: String): Seq[Column] = {
    val (h, m) = splitTod(defTimeOfDay)
    spec.fields.map { f =>
      (f.kind match {
        case FieldKind.Str => col(f.name)
        case FieldKind.Dbl => expr(s"try_cast(${f.name} AS double)")
        case FieldKind.Bool => expr(s"try_cast(${f.name} AS boolean)")
        case FieldKind.DateCol =>
          to_utc_timestamp(
            expr(s"try_cast(${f.name} AS date)").cast("timestamp") +
              expr(s"INTERVAL $h HOURS $m MINUTES"),
            zone)
      }).as(f.name)
    }
  }

  /** Split a raw DataFrame into (typed good rows, raw rejects + reason)
    * over one leaf holding `__reason`, the typed columns, and for each
    * typed field its raw string on reject rows only (`__raw_<name>`;
    * string fields are their own raw form). No job starts here: the first
    * action on either frame parses, types and stores the leaf, and later
    * ones read its blocks. The leaf carries no size estimate, so a join
    * that must broadcast a decoded side says so with a hint.
    */
  def decode(raw: DataFrame, spec: EntitySpec,
      defTimeOfDay: String = "13:00",
      zone: String = "America/New_York"): DecodeResult = {
    val reason = col("__reason")
    val typedFields = spec.fields.filter(_.kind != FieldKind.Str)
    def rawOf(f: FieldSpec) = s"__raw_${f.name}"
    val (leaf, release) = Artifacts.leafDf(
      raw.withColumn("__reason", reasonCol(spec)).select(
        (reason +: decodedCols(spec, defTimeOfDay, zone)) ++
          typedFields.map(f => when(reason.isNotNull, col(f.name)).as(rawOf(f))): _*),
      eager = false)
    val good = leaf.where(reason.isNull).select(spec.fields.map(f => col(f.name)): _*)
    val rejects = leaf.where(reason.isNotNull).select(spec.fields.map { f =>
      if (f.kind == FieldKind.Str) col(f.name) else col(rawOf(f)).as(f.name)
    } :+ reason.as("reason"): _*)
    DecodeResult(good, rejects, release)
  }

  // ---- DuckDB oracle generation (same spec, same semantics) ----

  def oracleReasonSql(spec: EntitySpec): String = {
    val checks: Seq[String] = spec.fields.flatMap { f =>
      val missing =
        if (f.required) Some(s"CASE WHEN ${f.name} IS NULL THEN 'missing:${f.name}' END")
        else None
      val bad = f.kind match {
        case FieldKind.Str => None
        case FieldKind.Dbl => Some(
          s"CASE WHEN ${f.name} IS NOT NULL AND try_cast(${f.name} AS DOUBLE) IS NULL THEN 'bad_double:${f.name}' END")
        case FieldKind.Bool => Some(
          s"CASE WHEN ${f.name} IS NOT NULL AND try_cast(${f.name} AS BOOLEAN) IS NULL THEN 'bad_boolean:${f.name}' END")
        case FieldKind.DateCol => Some(
          s"CASE WHEN ${f.name} IS NOT NULL AND try_cast(${f.name} AS DATE) IS NULL THEN 'bad_date:${f.name}' END")
      }
      missing.toSeq ++ bad.toSeq
    }
    checks.mkString("coalesce(", ",\n    ", ")")
  }

  /** DuckDB decoded projection; DateCol emitted as `<name>_ms` epoch millis
    * (the representation the registered queries use for oracle stability).
    */
  def oracleDecodedSql(spec: EntitySpec, defTimeOfDay: String, zone: String): Seq[String] = {
    val (h, m) = splitTod(defTimeOfDay)
    spec.fields.map { f =>
      f.kind match {
        case FieldKind.Str => f.name
        case FieldKind.Dbl => s"try_cast(${f.name} AS DOUBLE) AS ${f.name}"
        case FieldKind.Bool => s"try_cast(${f.name} AS BOOLEAN) AS ${f.name}"
        case FieldKind.DateCol =>
          s"epoch_ms((CAST(try_cast(${f.name} AS DATE) AS TIMESTAMP) " +
            s"+ INTERVAL $h HOURS + INTERVAL $m MINUTES) AT TIME ZONE '$zone') " +
            s"AS ${f.name}_ms"
      }
    }
  }

  def oracleRawCsv(spec: EntitySpec, csvPath: String): String =
    s"read_csv('$csvPath', header=true, all_varchar=true, " +
      s"columns={${spec.fields.map(f => s"'${f.name}': 'VARCHAR'").mkString(", ")}})"
}

/** `TextInputFormat` whose splits follow data size and keep file order:
  * files sorted by path, empty files skipped, and the input cut into
  * `max(mapreduce.job.maps, ceil(bytes / split.maxsize))` near-equal byte
  * ranges, each file into `ceil(len / (bytes / ranges))` of them. A file
  * whose codec cannot split stays one range. Records come from the
  * inherited `LineRecordReader`.
  */
class OrderedTextInputFormat extends TextInputFormat {

  private def ceilDiv(a: Long, b: Long): Long = if (a == 0) 0 else (a - 1) / b + 1

  /** The input's files in read order: sorted by path, empty ones skipped. */
  def orderedFiles(job: JobContext): Seq[FileStatus] =
    listStatus(job).asScala.toSeq
      .filter(f => f.isFile && f.getLen > 0).sortBy(_.getPath.toString)

  override def getSplits(job: JobContext): java.util.List[InputSplit] = {
    val files = orderedFiles(job)
    val bytes = files.map(_.getLen).sum
    val ranges = math.max(
      job.getConfiguration.getInt(MRJobConfig.NUM_MAPS, 1).toLong,
      ceilDiv(bytes, FileInputFormat.getMaxSplitSize(job)))
    val target = math.max(1L, ceilDiv(bytes, ranges))
    files.flatMap { f =>
      val len = f.getLen
      val pieces = if (isSplitable(job, f.getPath)) ceilDiv(len, target) else 1L
      (0L until pieces).map { i =>
        val start = len * i / pieces
        new FileSplit(f.getPath, start, len * (i + 1) / pieces - start,
          Array.empty[String]): InputSplit
      }
    }.asJava
  }
}

object OrderedTextInputFormat {

  /** A job reading `path` (a file, a directory of files or a glob) on the
    * session's Hadoop conf, split for the session's cores and
    * `spark.sql.files.maxPartitionBytes`.
    */
  def job(spark: SparkSession, path: String): Job = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    FileInputFormat.setInputPaths(job, new Path(path))
    FileInputFormat.setMaxInputSplitSize(job,
      spark.sessionState.conf.filesMaxPartitionBytes)
    job.getConfiguration.setInt(MRJobConfig.NUM_MAPS,
      spark.sparkContext.defaultParallelism)
    job
  }

  /** One line record as a string (Hadoop reuses the `Text`). */
  def string(t: Text): String = new String(t.getBytes, 0, t.getLength, UTF_8)

  /** The first `n` lines of the first non-empty file of `path` in read
    * order, read on the calling thread by the same `LineRecordReader` as
    * [[Decoder.readRaw]] (codecs, CR, LF and CRLF alike), with blank lines
    * kept. Starts no Spark job; an input with no bytes gives no lines.
    */
  def headLines(spark: SparkSession, path: String, n: Int): Seq[String] = {
    val j = job(spark, path)
    val format = new OrderedTextInputFormat
    format.orderedFiles(j).headOption.fold(Seq.empty[String]) { f =>
      val split = new FileSplit(f.getPath, 0, f.getLen, Array.empty[String])
      val ctx = new TaskAttemptContextImpl(j.getConfiguration, new TaskAttemptID())
      val reader = format.createRecordReader(split, ctx)
      try {
        reader.initialize(split, ctx)
        Iterator.continually(reader.nextKeyValue()).takeWhile(identity).take(n)
          .map(_ => string(reader.getCurrentValue)).toList
      } finally reader.close()
    }
  }
}
