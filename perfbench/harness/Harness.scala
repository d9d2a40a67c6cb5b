package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.{Artifacts, GraftQuery}
import graft.cli.Handlers
import graft.decode.Decoder
import graft.detect.Prospector
import graft.io.DelimitedWriter
import graft.schema.AllocRegistry

/** The benchmark's JVM side. Runs one workload as a closed loop with one
  * client (each operation starts after the previous one ends), through the
  * program's public entry points only, and writes:
  *
  *  - `report.json`: set-up time, every timed operation's wall time, the
  *    untimed correctness records, peak RSS;
  *  - `trace.jsonl` (traced runs only): spans around each call into a
  *    layer plus the Spark listener records they are joined with.
  *
  * Metrics are derived from these files by `perfbench/run.py`.
  *
  * Usage: perfbench.Harness <workload> <seed> <seconds> <trace 0|1>
  *        <dataDir> <workDir> [etlManifest]
  */
object Harness {

  /** Query lists per workload; perfbench/README.md says why each was
    * chosen.
    */
  val QueryMix: Seq[String] = Seq("q01", "q03", "q07", "q08", "q16", "q20", "q36")
  val AnnArtifacts: Seq[String] = Seq("q52", "q106", "q107")
  /** Serve passes per cycle: a serve costs ~0.1-0.2 s, so one pass gives
    * too few samples for a steady median.
    */
  val ServePasses = 2
  val StreamingTwins: Seq[String] = Seq("q401")

  /** Untimed passes after the verification pass: right after one cold
    * pass the short driver-bound queries and the stream still speed up by
    * 20-30 % from one pass to the next, at a rate that differs from run
    * to run.
    */
  val WarmPasses: Map[String, Int] =
    Map("query_mix" -> 1, "streaming_twins" -> 1).withDefaultValue(0)

  /** Timed passes per run, at least: enough samples for a steady median.
    * Three `ann_artifacts` cycles put the cold-pass median inside one
    * query's three samples; with two it was the mean of two samples whose
    * cost depends on the query's place in the pass.
    */
  val MinPasses: Map[String, Int] =
    Map("query_mix" -> 3, "ann_artifacts" -> 3).withDefaultValue(2)

  /** Registering module of every query, for `operators.<Module>.wall_ms`. */
  lazy val moduleOf: Map[String, String] = {
    import graft.operators._
    Seq[(String, Seq[GraftQuery])](
      "Relational" -> Relational.queries, "Temporal" -> Temporal.queries,
      "Enrichment" -> Enrichment.queries, "TextAnalysis" -> TextAnalysis.queries,
      "Similarity" -> Similarity.queries, "EtlDecode" -> EtlDecode.queries,
      "Export" -> Export.queries, "Extraction" -> Extraction.queries,
      "Portfolio" -> Portfolio.queries, "Media" -> Media.queries,
      "Pipeline" -> Pipeline.queries, "CorpusStats" -> CorpusStats.queries,
      "Scale" -> Scale.queries,
      "StreamingQueries" -> graft.streaming.StreamingQueries.queries)
      .flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
  }

  def resolve(ids: Seq[String]): Seq[GraftQuery] = ids.map { id =>
    graft.SparkEntry.all.find(_.name.startsWith(id + "_"))
      .getOrElse(throw new IllegalArgumentException(s"no registered query $id"))
  }

  /** Seeded order of one pass: the same (seed, pass) gives the same order. */
  def permuted[T](xs: Seq[T], seed: Long, pass: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(xs)

  /** Order of timed pass `pass`: each odd pass reverses the pass before
    * it, so every run measures both relative orders of any two operations
    * (which of q106/q107 builds the shared PQ index, for one) and its
    * median does not depend on the seed's order.
    */
  def timedOrder[T](xs: Seq[T], seed: Long, pass: Int): Seq[T] =
    if (pass % 2 == 0) permuted(xs, seed, pass) else permuted(xs, seed, pass - 1).reverse

  final case class TimedOp(pass: Int, phase: String, name: String,
      wallS: Double, rows: Long)
  final case class Check(name: String, rows: Long, hash: String, ok: Boolean,
      detail: String)

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val Array(workload, seedS, secondsS, traceS, dataDir, workDir) = args.take(6)
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val manifest = args.lift(6)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(spark)
    val run = new Runner(tracer)
    import run.{checks, op, ops}
    var setupS = 0.0
    val tracedWalls = ArrayBuffer[Double]()
    val untracedWalls = ArrayBuffer[Double]()

    /** Run a registered query: construct (`fn(spark, dir)`, which includes
      * eager artifact builds and streaming runs), then the timed action,
      * which collects the rows. Every result is hashed and checked after
      * its operation's clock has stopped.
      */
    def runQuery(q: GraftQuery, pass: Int, phase: String): Unit = {
      val module = moduleOf.getOrElse(q.name, "unknown")
      val before = Artifacts.registered(spark)
      op(pass, phase, q.name, module) {
        val df = tracer.span("operators.construct", Map("module" -> module)) {
          q.fn(spark, dataDir)
        }
        val rows = tracer.span("action") { df.collect() }
        tracer.annotate("artifacts.builds", Artifacts.registered(spark) - before)
        (rows, rows.length.toLong)
      }.foreach { rows =>
        checks += Check(q.name, rows.length.toLong, Canon.table(rows), ok = true, "")
      }
    }

    def release(): Unit = tracer.span("artifacts.release") { Artifacts.release(spark) }

    /** Closed-loop timed passes for about `seconds`: at least `minPasses`,
      * and another only while it is expected to end within `seconds`.
      * Returns each pass's wall time. A traced run traces only its odd
      * passes (untraced, traced, untraced, ...), so it reports its own
      * tracing overhead against the passes on either side, and it times
      * exactly `minPasses` passes: its per-layer sums then cover the same
      * number of traced passes however fast a pass runs.
      */
    def timedPasses(minPasses: Int)(pass: Int => Unit): Seq[Double] = {
      val start = System.nanoTime()
      val walls = ArrayBuffer[Double]()
      var p = 0
      while (p < minPasses ||
          (!traced && (System.nanoTime() - start) / 1e9 + walls.last <= seconds)) {
        if (traced) tracer.enable(p % 2 == 1)
        val t0 = System.nanoTime()
        pass(p)
        val w = (System.nanoTime() - t0) / 1e9
        walls += w
        if (traced) (if (p % 2 == 1) tracedWalls else untracedWalls) += w
        p += 1
      }
      walls.toSeq
    }

    // a traced run needs an untraced pass on either side of a traced one
    val minPasses = math.max(MinPasses(workload), if (traced) 3 else 1)
    val warmPasses = WarmPasses(workload)
    var passWalls: Seq[Double] = Nil
    workload match {
      case "query_mix" | "streaming_twins" =>
        val qs = resolve(if (workload == "query_mix") QueryMix else StreamingTwins)
        // warm-up = the verification pass (every query once, rows collected
        // and checked: JIT, codegen and parquet footers warm), then the
        // workload's warm passes
        qs.foreach(q => runQuery(q, 0, "verify"))
        for (w <- 1 to warmPasses) permuted(qs, seed, -w).foreach(q => runQuery(q, -w, "warm"))
        release()
        setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
        passWalls = timedPasses(minPasses) { p =>
          timedOrder(qs, seed, p).foreach(q => runQuery(q, p, "timed"))
        }

      case "ann_artifacts" =>
        val qs = resolve(AnnArtifacts)
        qs.foreach(q => runQuery(q, 0, "verify"))
        release()
        setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
        // one cycle = cold pass from a released registry (builds every
        // artifact) + warm serve pass over the same queries
        passWalls = timedPasses(minPasses) { p =>
          val t0 = System.nanoTime()
          timedOrder(qs, seed, p).foreach(q => runQuery(q, p, "cold"))
          val cold = (System.nanoTime() - t0) / 1e9
          tracer.counter("artifacts.entries", Artifacts.registered(spark))
          tracer.counter("artifacts.storage_bytes", tracer.storageBytes())
          for (sp <- 1 to ServePasses)
            permuted(qs, seed, 10 * p + sp).foreach(q => runQuery(q, p, "serve"))
          release()
          ops += TimedOp(p, "cycle", "cold_pass", cold, -1L)
        }

      case "etl_transform" =>
        val etl = new Etl(spark, run, seed, manifest.getOrElse(
          throw new IllegalArgumentException("etl_transform needs a manifest")),
          workDir)
        // warm-up = one verified pass of the same operations, then warm passes
        etl.pass(0, "verify")
        for (w <- 1 to warmPasses) etl.pass(-w, "warm")
        setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
        passWalls = timedPasses(minPasses) { p => etl.pass(p, "timed") }

      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    run.failed += checks.count(!_.ok)
    run.errors ++= checks.filterNot(_.ok).map(c => s"${c.name}: ${c.detail}")

    val peakRssMb = Canon.vmHwmMb()
    if (traced) tracer.finish(s"$workDir/trace.jsonl")
    try spark.stop() catch { case _: Throwable => () }

    val sb = new StringBuilder
    def q(s: String): String = Canon.jsonString(s)
    sb ++= "{"
    sb ++= s""""workload":${q(workload)},"seed":$seed,"traced":$traced,"""
    sb ++= s""""setup_s":$setupS,"peak_rss_mb":$peakRssMb,"""
    sb ++= s""""attempted":${run.attempted},"failed":${run.failed},"""
    sb ++= s""""pass_walls":${passWalls.mkString("[", ",", "]")},"""
    if (traced)
      sb ++= s""""untraced_passes":${untracedWalls.mkString("[", ",", "]")},""" +
        s""""traced_passes":${tracedWalls.mkString("[", ",", "]")},"""
    sb ++= ops.map { o =>
      s"""{"pass":${o.pass},"phase":${q(o.phase)},"name":${q(o.name)},"wall_s":${o.wallS},"rows":${o.rows}}"""
    }.mkString(""""ops":[""", ",", "],")
    sb ++= checks.map { c =>
      s"""{"name":${q(c.name)},"rows":${c.rows},"hash":${q(c.hash)},"ok":${c.ok},"detail":${q(c.detail)}}"""
    }.mkString(""""checks":[""", ",", "],")
    sb ++= run.errors.map(q).mkString(""""errors":[""", ",", "]")
    sb ++= "}\n"
    Files.write(Paths.get(s"$workDir/report.json"),
      sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

/** Runs operations: each one timed, traced as a root span when tracing is
  * on, and a throw counted as a failure (never rethrown, so the loop goes
  * on).
  */
final class Runner(val tracer: Tracer) {
  import Harness.{Check, TimedOp}
  val ops = ArrayBuffer[TimedOp]()
  val checks = ArrayBuffer[Check]()
  val errors = ArrayBuffer[String]()
  var attempted = 0
  var failed = 0

  def op[T](pass: Int, phase: String, name: String, module: String)(
      body: => (T, Long)): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val res =
      try Some(tracer.span("op", Map("name" -> name, "module" -> module,
        "pass" -> pass.toString, "phase" -> phase), root = true)(body))
      catch { case e: Throwable =>
        failed += 1
        errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        None
      }
    val wall = (System.nanoTime() - t0) / 1e9
    ops += TimedOp(pass, phase, name, wall, res.map(_._2).getOrElse(-1L))
    res.map(_._1)
  }
}

/** The paper's pipeline on the generated brokerage exports: detect →
  * resolve → decode with rejects → CSV export, JSONL export and a reject
  * sink, plus `handleTransform`'s driver-side export on a small file.
  */
final class Etl(spark: SparkSession, run: Runner, seed: Long,
    manifestPath: String, workDir: String) {
  import Harness.Check
  import run.{checks, op, tracer}

  private val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new File(manifestPath))

  private final case class Input(kind: String, path: String, rows: Long,
      good: Long, rejects: Map[String, Long], detect: Seq[String])

  private val inputs: Seq[Input] = manifest.get("files").elements().asScala.map { f =>
    Input(f.get("kind").asText, f.get("path").asText, f.get("rows").asLong,
      f.get("good").asLong,
      f.get("rejects").fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap,
      f.get("detect").elements().asScala.map(_.asText).toSeq)
  }.toSeq
  private val big = inputs.filter(_.kind != "small")
  private val small = inputs.find(_.kind == "small").get

  private def lines(dir: String): Long = {
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    files.iterator.map { f =>
      val b = Files.readAllBytes(f.toPath)
      b.count(_ == '\n'.toByte).toLong
    }.sum
  }

  private def rejectHistogram(dir: String): Map[String, Long] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.endsWith(".json"))
      .flatMap(f => Files.readAllLines(f.toPath).asScala)
      .filter(_.nonEmpty)
      .map(l => mapper.readTree(l).get("reason").asText)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
  }

  def pass(p: Int, phase: String): Unit =
    Harness.timedOrder(big :+ small, seed, p).foreach { in =>
      if (in.kind == "small") handleTransform(p, phase, in) else transform(p, phase, in)
    }

  /** One transform call: detect → sniff → resolve → decode → CSV export,
    * JSONL export and reject sink, then the untimed output checks.
    */
  private def transform(p: Int, phase: String, in: Input): Unit = {
    val out = s"$workDir/etl_out/${in.kind}"
    val detected = op(p, phase, s"transform:${in.kind}", "etl") {
      val report = tracer.span("cli.detect") { Handlers.handleDetect(spark, in.path) }
      val prospector = Prospector.default
      val prefix = tracer.span("detect.sniff") { prospector.sniffPrefix(spark, in.path) }
      val (importer, schema) = tracer.span("detect.resolve") { prospector.resolve(prefix) }
      val spec = AllocRegistry.entities(schema)
      val delimiter = importer.detect(prefix).get(schema)
        .flatMap(_.headOption).flatMap(_.delimiter).getOrElse(",")
      val decoded = tracer.span("decode.plan") {
        Decoder.decode(Decoder.readRaw(spark, in.path, spec, delimiter), spec)
      }
      tracer.span("io.csv_write") { DelimitedWriter.writeDelimited(decoded.good, s"$out/csv") }
      tracer.span("io.json_write") { DelimitedWriter.writeJson(decoded.good, s"$out/jsonl") }
      tracer.span("decode.reject_sink") {
        DelimitedWriter.writeJson(decoded.rejects, s"$out/rejects")
      }
      (report, in.rows)
    }
    // untimed: detection names the file's schema and format, both exports
    // hold exactly the good rows, and the reject histogram is the planted one
    val csvLines = lines(s"$out/csv")
    val jsonLines = lines(s"$out/jsonl")
    val hist = rejectHistogram(s"$out/rejects")
    val ok = detected.contains(in.detect) && csvLines == in.good &&
      jsonLines == in.good && hist == in.rejects
    tracer.counter("decode.rows_in", in.rows)
    tracer.counter("decode.rows_good", csvLines)
    tracer.counter("decode.rows_rejected", hist.values.sum)
    tracer.counter("decode.input_file_bytes", new File(in.path).length)
    tracer.counter("io.bytes_written",
      Seq("csv", "jsonl", "rejects").map(d => Canon.dirBytes(s"$out/$d")).sum)
    checks += Check(s"transform:${in.kind}", csvLines, "", ok,
      s"detect=${detected.map(_.mkString(";"))} csv=$csvLines jsonl=$jsonLines " +
        s"good=${in.good} rejects=$hist planted=${in.rejects}")
  }

  /** `handleTransform` with its driver-side export, on the small file. */
  private def handleTransform(p: Int, phase: String, in: Input): Unit = {
    val r = op(p, phase, "handle_transform:small", "cli") {
      (tracer.span("cli.transform") { Handlers.handleTransform(spark, in.path) }, in.rows)
    }
    val exported = r.map(_.output.count(_ == '\n') - 1L).getOrElse(-1L)
    checks += Check("handle_transform:small", exported, "",
      exported == in.good && r.exists(_.schema == "transaction"),
      s"exported=$exported good=${in.good}")
  }
}

/** Order-insensitive content hash of a result, plus small JSON helpers. */
object Canon {
  import scala.util.hashing.MurmurHash3

  /** Doubles to 9 significant digits: partition-order float sums differ
    * only far below that, so the hash is stable run to run.
    */
  def value(v: Any): String = v match {
    case null => "~"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else "%.9g".formatLocal(java.util.Locale.ROOT, if (d == 0.0) 0.0 else d)
    case f: Float => value(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => value(b.bigDecimal)
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "=" + value(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case v: org.apache.spark.ml.linalg.Vector => value(v.toArray.toSeq)
    case t: java.sql.Timestamp => t.toInstant.toString
    case x => x.toString
  }

  def rowHash(r: Row): Long = {
    val s = value(r)
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) |
      (MurmurHash3.stringHash(s, 0xbe5c) & 0xffffffffL)
  }

  def table(rows: Array[Row]): String = f"${rows.iterator.map(rowHash).sum}%016x"

  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def dirBytes(dir: String): Long =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.isFile).map(_.length).sum

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
}
