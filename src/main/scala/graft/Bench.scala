package graft

/** Bench stdout emission, factored out of [[Bench.main]] so the
  * line-budget discipline is unit-testable (BenchEmitSpec) — the same
  * spirit as OutputTypeSpec for the r11 DECIMAL hash bombs: the failure
  * class behind BENCH_r05/r06/r12 `"parsed": null` (a metric line longer
  * than the driver's ~2000-char stdout tail window) must be caught by
  * `sbt test`, not discovered in the round artifact.
  *
  * Contract: [[finalLine]] ALWAYS returns a single valid JSON line of at
  * most [[Budget]] characters containing `"metric":"total"`, the exact
  * suite total, the sf label, and as many per-query timings as fit —
  * degrading precision, then key length, then (last resort) dropping the
  * FASTEST queries first with an explicit `"omitted":N` count. The full
  * undegraded map is written to a sidecar file by [[Bench.main]], so
  * nothing is lost — the stdout line is the machine-readable gate, the
  * file is the human/tooling record.
  */
object BenchEmit {

  /** Max chars for the final stdout line. The driver captures only the
    * last ~2000 chars of stdout and sbt appends a "[success] ..." line
    * after ours, so stay under with headroom.
    */
  val Budget = 1900

  /** Locale-pinned fixed-point format, trailing zeros stripped. A
    * comma-decimal default locale (de_DE) would emit "0,46" and the
    * driver's JSON parse would fail.
    */
  def fmt(v: Double, decimals: Int): String = {
    val s = s"%.${decimals}f".formatLocal(java.util.Locale.ROOT, v)
    if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
    else s
  }

  // keyMode 0 = full names, 1 = "qNN", 2 = bare number "NN" (ids stay
  // recoverable: every query id is unique by number)
  private def key(k: String, keyMode: Int): String = keyMode match {
    case 0 => k
    case 1 => k.takeWhile(_ != '_')
    case _ => k.takeWhile(_ != '_').dropWhile(!_.isDigit)
  }

  private def render(results: Seq[(String, Double)], retried: Seq[String],
      sfLabel: String, total: Double, decimals: Int, keyMode: Int,
      omitted: Int): String = {
    val qs = results.map { case (k, v) =>
      "\"" + key(k, keyMode) + "\":" + fmt(v, decimals)
    }.mkString("{", ",", "}")
    val re =
      if (retried.isEmpty) ""
      else retried.sorted.map(k => "\"" + key(k, keyMode) + "\"")
        .mkString(",\"retried\":[", ",", "]")
    val om = if (omitted == 0) "" else s""","omitted":$omitted"""
    s"""{"metric":"total","value":${fmt(total, decimals max 1)},"unit":"sec","queries":$qs$re$om,"sf":"$sfLabel"}"""
  }

  /** The guaranteed-fit final line (see object doc for the contract). */
  def finalLine(results: Seq[(String, Double)], retried: Seq[String],
      sfLabel: String): String = {
    val total = results.map(_._2).filter(_ >= 0).sum
    // Degradation ladder: centi→deci seconds with full names, then qNN
    // short keys, then bare-number keys, then whole seconds — a coarser
    // or abbreviated line beats a precise truncated one the driver can't
    // parse.
    val ladder = Iterator((2, 0), (1, 0), (2, 1), (1, 1), (1, 2), (0, 2))
      .map { case (d, m) => render(results, retried, sfLabel, total, d, m, 0) }
      .find(_.length <= Budget)
    ladder.getOrElse {
      // Last resort (280+ queries): keep the SLOWEST queries — the ones a
      // regression hunt needs — and drop the fast tail with an explicit
      // omitted count. Binary-search the largest slowest-first prefix
      // that fits; n=0 always fits (the envelope alone is ~100 chars).
      val bySlowest = results.sortBy { case (k, v) => (-v, k) }
      def line(n: Int): String =
        render(bySlowest.take(n).sortBy(_._1), retried, sfLabel, total, 1, 2,
          results.size - n)
      var lo = 0
      var hi = results.size
      while (lo < hi) { // invariant: line(lo) fits
        val mid = (lo + hi + 1) / 2
        if (line(mid).length <= Budget) lo = mid else hi = mid - 1
      }
      line(lo)
    }
  }

  /** Full-precision sidecar JSON (full names, millisecond precision) —
    * written to a file next to the repo, never printed to stdout.
    */
  def fullJson(results: Seq[(String, Double)], retried: Seq[String],
      sfLabel: String): String = {
    val total = results.map(_._2).filter(_ >= 0).sum
    render(results, retried, sfLabel, total, 3, 0, 0)
  }

  /** [[fullJson]] plus the crowding sidecar (VERDICT r16 item 7): a
    * separate top-level `"sidecar"` object maps each query to the JVM
    * GC time it paid (`gc_ms`, delta across the query's run) and the
    * executor storage memory held when it FINISHED (`storage_bytes` —
    * cached/checkpointed blocks + broadcasts still alive). Read:
    * a query whose suite time ≫ fresh-JVM time with large `gc_ms`
    * and/or rising `storage_bytes` was crowded by suite-level JVM
    * state, not slow by plan — the divergence is measured in the
    * record instead of re-litigated each round. Kept OUT of the
    * `"queries"` map so every existing consumer (bench_local.py, the
    * driver's parse) reads the file unchanged.
    */
  def fullJsonWithSidecar(results: Seq[(String, Double)],
      sidecar: Seq[(String, (Long, Long))], retried: Seq[String],
      sfLabel: String): String = {
    val base = fullJson(results, retried, sfLabel)
    val side = sidecar.map { case (k, (gcMs, bytes)) =>
      "\"" + k + "\":{\"gc_ms\":" + gcMs + ",\"storage_bytes\":" + bytes + "}"
    }.mkString("{", ",", "}")
    base.patch(base.lastIndexOf('}'), s""","sidecar":$side}""", 1)
  }
}

/** Benchmark main (driver contract): runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints per-query seconds, ending with ONE
  * compact JSON line guaranteed to fit the driver's stdout tail window
  * (see [[BenchEmit]]).
  *
  * A warmup pass at sf0.001 runs first (untimed) so JIT + codegen +
  * parquet-footer caching don't land in the first timed query — the timed
  * numbers then reflect steady-state plan execution, which is what the
  * 100 TB design point cares about.
  *
  * Timing action is a `noop`-format write, not count(): count() lets
  * Catalyst prune unreferenced projections and eliminate final sorts, so
  * projection-heavy queries would be timed as bare scans. The noop sink
  * evaluates every output row/column and discards it.
  *
  * A query that throws is reported as -1 seconds (sentinel) so the driver
  * can tell failures from fast runs.
  *
  * Optional args are query names: `graft.Bench q08_running_sum q46_...`
  * times only those (same warmup protocol) — used to bench a subset in a
  * fresh JVM, isolating one query's cost from suite-level JVM crowding
  * (code cache, JIT pressure from 280 queries' generated classes).
  */
object Bench {
  /** Shard width when fork mode is on and no explicit size is given:
    * wide enough to amortize JVM + session startup across a shard, far
    * enough below the ~300-query code-cache crowding knee that no shard
    * reproduces it.
    */
  private val DefaultForkSize = 40

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val unknown = args.toSet -- SparkEntry.queries.keySet
    if (unknown.nonEmpty) {
      System.err.println(
        s"[bench] unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}\n" +
          s"[bench] known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(1)
    }
    // Fork-per-shard is the DEFAULT for full-suite runs (args empty):
    // the committed and driver-graded records are then crowd-free by
    // construction (VERDICT r17 item 2). SPARK_GRAFT_BENCH_FORK=N sets
    // the shard width, 0 forces the single-JVM inline path; subset runs
    // (explicit query args — bench_local.py's fresh-JVM rows) stay
    // inline, which is the measurement they exist to provide. An
    // unparsable value is an ERROR, not a silent default: "off" falling
    // through to fork mode would hand the caller the opposite
    // measurement semantics of what they asked for.
    val forkSize = sys.env.get("SPARK_GRAFT_BENCH_FORK") match {
      case Some(s) => scala.util.Try(s.toInt).toOption match {
        case Some(n) if n > 0 => Some(n)
        case Some(_) => None // explicit 0: inline
        case None =>
          System.err.println(
            s"[bench] SPARK_GRAFT_BENCH_FORK must be an integer (0 = inline), got '$s'")
          sys.exit(1)
      }
      case None => if (args.isEmpty) Some(DefaultForkSize) else None
    }
    if (forkSize.isDefined) forkMain(forkSize.get, args, sfDir)
    else inlineMain(args, sfDir)
  }

  private def inlineMain(args: Array[String], sfDir: String): Unit = {
    val names =
      if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq.sorted
    val (results, sidecar, retried) = measureInline(names, sfDir)
    emit(results, sidecar, retried, sfDir)
  }

  /** Write the full record file + print the one-line stdout contract —
    * shared by the inline path and forkMain's merge.
    */
  private def emit(results: Seq[(String, Double)],
      sidecar: Seq[(String, (Long, Long))], retried: Seq[String],
      sfDir: String): Unit = {
    val sfLabel = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "bench_full.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
        (BenchEmit.fullJsonWithSidecar(results, sidecar, retried, sfLabel) + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $fullPath: ${e.getMessage}")
    }
    println(BenchEmit.finalLine(results, retried, sfLabel))
  }

  /** The single-JVM measurement loop (warmup at sf0.001, noop-sink
    * timing, one retry, crowding sidecar) over `names`, in THIS process.
    * The session is stopped before returning so the caller's stdout
    * line can't be polluted by shutdown logging.
    */
  private def measureInline(names: Seq[String], sfDir: String)
      : (Seq[(String, Double)], Seq[(String, (Long, Long))], Seq[String]) = {
    val selected = names.map(n => n -> SparkEntry.queries(n))
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    def evaluate(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) {
      selected.foreach { case (_, fn) =>
        try evaluate(fn(spark, warmDir)) catch { case _: Throwable => () }
      }
      // The warmup pass exists for JIT + codegen + parquet-footer
      // caching, but it also builds EVERY session artifact keyed to
      // warmDir (trained indexes, minhash signatures, postings,
      // broadcast blocklists, written-index temp dirs) — none of which
      // the timed pass can reuse (artifacts are keyed by (session,
      // dir)). Left in place they sit as dead executor storage and
      // broadcast handles under the whole timed suite — measured as
      // part of the r14 suite-crowding overhead. Release them; the JIT warmup
      // survives, the codegen one only within Spark's 100-class LRU cache.
      try Artifacts.release(spark) catch { case _: Throwable => () }
    }
    // retried query names surface in the JSON (usually empty): a retried
    // time ran against JVM state warmed by the failed attempt, so
    // downstream comparisons can discount it rather than read it as a
    // first-attempt number
    val retried = scala.collection.mutable.ArrayBuffer[String]()
    // crowding sidecar (VERDICT r16 item 7): GC-time delta across each
    // query + executor storage bytes at its end, into the full-record
    // file only (a separate "sidecar" object; the stdout line and the
    // "queries" map are unchanged for existing consumers)
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
    }
    def storageBytes(): Long =
      try spark.sparkContext.statusTracker.getExecutorInfos
        .map(e => e.usedOnHeapStorageMemory() + e.usedOffHeapStorageMemory())
        .sum
      catch { case _: Throwable => -1L }
    val sidecar = scala.collection.mutable.ArrayBuffer[(String, (Long, Long))]()
    val results = selected.map { case (name, fn) =>
      // one retry: a crowded-host transient (broadcast timeout, executor
      // hiccup) must not poison the round's record with a -1
      // gc delta is sampled INSIDE the attempt so a retried query's
      // sidecar covers only the attempt its seconds cover (a failed
      // first attempt's GC would otherwise be billed to the 2 s retry
      // and read as a false crowding signal)
      def attempt(): Option[(Double, Long)] = {
        val t0 = System.nanoTime()
        val gc0 = gcMillis()
        try { evaluate(fn(spark, sfDir));
          Some(((System.nanoTime() - t0) / 1e9, gcMillis() - gc0)) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          None }
      }
      val res = attempt().orElse {
        retried += name
        // drop session artifacts the failed attempt may have built, so
        // the retry pays the same artifact costs a clean attempt would
        try Artifacts.release(spark) catch { case _: Throwable => () }
        attempt()
      }
      sidecar += name -> (res.map(_._2).getOrElse(-1L), storageBytes())
      name -> res.map(_._1).getOrElse(-1.0)
    }
    // stop BEFORE the caller prints: shutdown log lines on stdout would
    // otherwise land after the JSON and eat the driver's tail window
    try spark.stop() catch { case _: Throwable => () }
    (results, sidecar.toSeq, retried.toSeq)
  }

  /** Fork-per-shard protocol (VERDICT r17 item 2): run the query list in
    * groups of `groupSize`, ONE FRESH CHILD JVM per group, and merge the
    * per-group records into the single stdout line + full-record file
    * the inline path emits — so the committed suite records are
    * crowd-free BY CONSTRUCTION, not adjudicated after the fact. The
    * crowding the sidecar measures (r14-r17: code-cache/JIT/storage
    * pressure from hundreds of queries' generated classes in one JVM —
    * 12 r17 queries billed 561.8 s ran in 36.7 s fresh) cannot
    * accumulate past a shard boundary. Children inherit this JVM's
    * flags (+ the Spark add-opens set if absent), run the same
    * sf0.001 warmup over their own shard, and carry the sidecar
    * through. Failure ladder: a shard whose child dies whole is re-run
    * query-by-query (one crashing query costs one -1, not a shard of
    * phantom failures); if children cannot be SPAWNED at all the run
    * degrades to the single-JVM inline path (a crowded record beats
    * none). Default-on for full-suite runs, SPARK_GRAFT_BENCH_FORK
    * overrides the width (0 = force inline); children run with the
    * knob pinned to 0.
    */
  private def forkMain(groupSize: Int, args: Array[String], sfDir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val names =
      (if (args.isEmpty) SparkEntry.queries.keySet else args.toSet).toSeq.sorted
    val groups = names.grouped(groupSize).toSeq
    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val inherited = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-Xrunjdwp"))
    val jvmArgs =
      if (inherited.exists(_.startsWith("--add-opens"))) inherited
      else inherited ++ Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
        "java.io", "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
        .map(m => s"--add-opens=java.base/$m=ALL-UNNAMED")
    val ownCp = System.getProperty("java.class.path", "")
    val cp =
      if (ownCp.contains("scala-2.13")) ownCp
      else "target/scala-2.13/classes" + java.io.File.pathSeparator +
        "/opt/spark/jars/*" // parent launched via a launcher jar (sbt run)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val results = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val sidecar = scala.collection.mutable.ArrayBuffer[(String, (Long, Long))]()
    val retried = scala.collection.mutable.ArrayBuffer[String]()

    /** One child JVM over `g`; None ONLY when the child could not be
      * spawned at all (no java / no exec permission — fork mode is then
      * unusable and the caller degrades to inline). A child that runs
      * but dies or writes an unreadable record yields an all-(-1) map
      * and the caller isolates the shard query-by-query.
      */
    def runShard(g: Seq[String], tag: String)
        : Option[(Map[String, Double],
          Seq[(String, (Long, Long))], Seq[String])] = {
      val tmp = java.nio.file.Files.createTempFile("graft_bench_shard", ".json")
      val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench") ++ g).asJava
      val pb = new ProcessBuilder(cmd)
      // children must take the inline path regardless of the default
      pb.environment().put("SPARK_GRAFT_BENCH_FORK", "0")
      pb.environment().put("SPARK_GRAFT_BENCH_FULL", tmp.toString)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      // child stdout (its own final line) is redundant with its full
      // file and would corrupt the parent's one-line contract
      pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val proc =
        try pb.start()
        catch { case e: java.io.IOException =>
          System.err.println(s"[bench] cannot spawn shard JVMs (${e.getMessage})")
          try java.nio.file.Files.deleteIfExists(tmp) catch { case _: Throwable => () }
          return None
        }
      val code = proc.waitFor()
      val parsed =
        try {
          val root = mapper.readTree(tmp.toFile)
          val qs = root.get("queries")
          val sc = g.flatMap { q =>
            Option(root.get("sidecar")).flatMap(s => Option(s.get(q)))
              .map(n => q -> (n.get("gc_ms").asLong, n.get("storage_bytes").asLong))
          }
          val re = Option(root.get("retried")).toSeq
            .flatMap(_.elements().asScala.map(_.asText))
          val secs = g.iterator.map(q => q ->
            Option(qs.get(q)).map(_.asDouble).getOrElse(-1.0)).toMap
          (secs, sc, re)
        } catch { case e: Throwable =>
          System.err.println(
            s"[bench] shard $tag (exit $code) record unreadable: ${e.getMessage}")
          (g.iterator.map(_ -> -1.0).toMap,
            Seq.empty[(String, (Long, Long))], Seq.empty[String])
        } finally {
          try java.nio.file.Files.deleteIfExists(tmp) catch { case _: Throwable => () }
        }
      Some(parsed)
    }

    var i = 0
    while (i < groups.size) {
      val g = groups(i)
      runShard(g, s"${i + 1}/${groups.size}") match {
        case None =>
          // children cannot be spawned (no java binary / fd or memory
          // pressure): keep every shard already measured crowd-free and
          // run only the REMAINDER inline in this process — completed
          // work is never discarded and the suite never re-runs whole
          // in one crowded JVM
          val remaining = groups.drop(i).flatten
          System.err.println(s"[bench] degrading to inline for the " +
            s"${remaining.size} remaining queries")
          val (r2, s2, re2) = measureInline(remaining, sfDir)
          results ++= r2
          sidecar ++= s2
          retried ++= re2
          i = groups.size
        case Some((secs, sc, re)) =>
          val (finalSecs, finalSc, finalRe) =
            if (g.size > 1 && secs.values.forall(_ < 0)) {
              // the whole shard died (one query likely crashed the
              // child): isolate query-by-query so one bad query costs
              // one -1, not a shard of phantom failures
              System.err.println(
                s"[bench] shard ${i + 1} died whole; isolating its " +
                  s"${g.size} queries")
              val per = g.map(q => q -> runShard(Seq(q), s"isolate:$q"))
              (per.map { case (q, r) =>
                q -> r.map(_._1.getOrElse(q, -1.0)).getOrElse(-1.0) }.toMap,
                per.flatMap(_._2.map(_._2).getOrElse(Nil)),
                per.flatMap(_._2.map(_._3).getOrElse(Nil)))
            } else (secs, sc, re)
          sidecar ++= finalSc
          retried ++= finalRe
          g.foreach(q => results += q -> finalSecs(q))
          System.err.println(s"[bench] shard ${i + 1}/${groups.size} done: " +
            g.map(q => f"$q=${finalSecs(q)}%.1f").mkString(", "))
      }
      i += 1
    }
    emit(results.toSeq, sidecar.toSeq, retried.toSeq, sfDir)
  }
}
