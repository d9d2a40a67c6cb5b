package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftQuery

/** Oracle-gated streaming queries (q47-q49) — the correctness gate for the
  * Structured Streaming surface (SURVEY §2 Table B "Streaming").
  *
  * The append-mode problem: a watermarked streaming aggregation only emits
  * a window once the watermark passes its end, so over a finite file
  * stream the raw streaming result is a strict PREFIX of the batch answer
  * (the last windows stay open) and can never hash-match a batch oracle.
  *
  * The gate closes that gap with a FLUSH SENTINEL: the staged stream input
  * is the original events table plus one synthetic event 30 days past the
  * max real timestamp (user_id = -1, event_type = '__flush'). After the
  * AvailableNow run drains, the final watermark sits 10 minutes behind the
  * sentinel — far past every real window's end — so append mode emits
  * EXACTLY the batch answer over the real events. The sentinel's own
  * window/session never closes (the watermark never passes it), so it is
  * never emitted and needs no filtering. The streaming result is then
  * hash-compared by the driver against the SAME DuckDB oracle SQL as its
  * batch twin — a full rows+schema+hash equivalence gate, not a smoke
  * check.
  *
  * At scale this is exactly how a production replay/backfill closes its
  * books: a terminal punctuation event (or watermark heartbeat) flushes
  * the final windows; nothing here is test-only plumbing.
  */
object StreamingQueries {

  private val FlushDelayNanos = 30L * 24 * 3600 * 1000000000L
  private val memorySinkId = new java.util.concurrent.atomic.AtomicInteger()

  /** Stage `dir`/events.parquet (file or directory) plus the flush
    * sentinel into a stream-source directory ([[stagedWithSentinel]]).
    * The sentinel is deterministic: the max-ts row shifted 30 days
    * forward with neutral key/value columns.
    */
  def stagedWithFlush(spark: SparkSession, dir: String): String = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = new java.io.File(s"$dir/events.parquet")
    // the reader generation decides the sentinel's physical ts type (raw
    // nano longs vs TIMESTAMP_NTZ µs — see Tables.normalizeEventTs), so
    // the staging key includes it: a staging dir written by one reader
    // generation must never be replayed under the other's schema
    val raw = spark.read.parquet(src.getPath)
    val tsIsLong =
      raw.schema("ts").dataType == org.apache.spark.sql.types.LongType
    stagedWithSentinel(src, s"graft_events_flush_${if (tsIsLong) "ns" else "ntz"}") {
      // sentinel row: max-ts row pushed 30 days out; plain long addition
      // on raw nanos, a day-interval shift on TIMESTAMP_NTZ
      raw.orderBy(col("ts").desc).limit(1)
        .withColumn("ts",
          if (tsIsLong) col("ts") + lit(FlushDelayNanos)
          else col("ts") + expr("INTERVAL 30 DAYS"))
        .withColumn("event_id", lit(-1L))
        .withColumn("user_id", lit(-1L))
        .withColumn("event_type", lit("__flush"))
        .withColumn("value", lit(0.0))
    }
  }

  /** Stage the parquet `src` (file or directory) plus the one-row
    * `sentinel` into a stream-source directory under java.io.tmpdir:
    * symlinks to the source's part files beside `sentinel.parquet`.
    * Idempotent per source CONTENT, marked complete by a `_STAGED` file,
    * so repeated runs (warmup + timed, Verify + Bench) reuse one staging.
    *
    * The key digests the part-file IDENTITY (name, size, mtime, footer
    * bytes), not just the source path: a source directory REWRITTEN in
    * place (GenScale regenerating a replica dir) gets new part-file
    * names, and a path-keyed staging dir would keep serving symlinks to
    * the deleted old parts — the stream then reads ONLY the sentinel and
    * every flush-gated twin silently computes over zero events (how the
    * r15 sf1 q336 '/ by zero' was found), or over a sentinel computed
    * from the old content. The footer tail-hash closes the residual
    * (name, size, mtime) hole: a same-name same-size rewrite inside one
    * mtime tick (coarse-mtime filesystems) still changes the parquet
    * footer (row-group stats / offsets live there), so content change →
    * new key → fresh staging.
    */
  private def stagedWithSentinel(src: java.io.File, prefix: String)(
      sentinel: => DataFrame): String = {
    val files =
      if (src.isFile) Seq(src)
      else src.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .toSeq.sortBy(_.getName)
    def md5(bytes: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map("%02x".format(_)).mkString
    def footerHash(f: java.io.File): String = {
      val in = new java.io.RandomAccessFile(f, "r")
      try {
        val tail = math.min(f.length, 4096L).toInt
        in.seek(f.length - tail)
        val buf = new Array[Byte](tail)
        in.readFully(buf)
        md5(buf)
      } finally in.close()
    }
    val identity = (src.getAbsolutePath +:
      files.map(f =>
        s"${f.getName}:${f.length}:${f.lastModified}:${footerHash(f)}"))
      .mkString("|")
    val staged = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"${prefix}_${md5(identity.getBytes("UTF-8"))}")
    val marker = new java.io.File(staged, "_STAGED")
    if (!marker.exists()) {
      // a fresh key means prior content-keyed stagings under this prefix
      // are abandoned garbage; sweep AGED siblings (marker older than
      // 24 h) so rewrite-heavy hosts don't accumulate them indefinitely.
      // The age bound keeps a concurrently-running session's freshly
      // staged sibling (a DIFFERENT corpus dir, e.g. Verify at another
      // sf) untouched — best-effort, failures ignored.
      val cutoff = System.currentTimeMillis - 24L * 3600 * 1000
      Option(staged.getParentFile.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f != staged
          && f.getName.startsWith(s"${prefix}_"))
        .filter { f =>
          val m = new java.io.File(f, "_STAGED")
          m.exists() && m.lastModified < cutoff
        }
        .foreach { f =>
          try org.apache.commons.io.FileUtils.deleteDirectory(f)
          catch { case _: java.io.IOException => () }
        }
      staged.mkdirs()
      files.zipWithIndex.foreach { case (f, i) =>
        val link = new java.io.File(staged, s"orig_$i.parquet")
        if (!java.nio.file.Files.exists(link.toPath,
            java.nio.file.LinkOption.NOFOLLOW_LINKS))
          java.nio.file.Files.createSymbolicLink(
            link.toPath, f.toPath.toAbsolutePath)
      }
      val build = new java.io.File(staged, "_sentinel_build")
      sentinel.coalesce(1).write.mode("overwrite").parquet(build.getPath)
      val part = build.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(staged, "sentinel.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      build.listFiles().foreach(_.delete())
      build.delete()
      marker.createNewFile()
    }
    staged.getPath
  }

  /** File-source stream over the staged dir with the same ns→µs timestamp
    * semantics as the batch reads ([[graft.Tables.events]]).
    */
  private def readStaged(spark: SparkSession, dir: String, stagedDir: String): DataFrame =
    graft.Tables.normalizeEventTs(spark.readStream
      .schema(graft.Tables.schemaOf(spark, s"$dir/events.parquet")).parquet(stagedDir))

  /** Drain a flush-gated streaming transform and return the emitted table. */
  private def runGated(spark: SparkSession, dir: String)(
      build: DataFrame => DataFrame): DataFrame = {
    val staged = stagedWithFlush(spark, dir)
    val events = readStaged(spark, dir, staged)
    EventStreams.runToMemory(spark, build(events),
      s"stream_gate_${memorySinkId.incrementAndGet()}")
  }

  /** q47: streaming tumbling-window counts ≡ batch q18 on closed windows.
    * Oracle is the batch formulation — the flush sentinel guarantees every
    * real window is closed and emitted.
    */
  private val q47 = GraftQuery(
    "q47_stream_tumbling",
    """SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS window_start_ms,
      |  event_type, count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start_ms, event_type""".stripMargin) { (s, d) =>
    runGated(s, d)(EventStreams.tumblingCounts(_))
      .orderBy("window_start_ms", "event_type")
  }

  /** q48: streaming session windows ≡ batch q20 on closed sessions. */
  private val q48 = GraftQuery(
    "q48_stream_session",
    """WITH flagged AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTES
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), numbered AS (
      |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged)
      |SELECT user_id, epoch_ms(min(ts)) AS session_start_ms,
      |  count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM numbered
      |GROUP BY user_id, sid
      |ORDER BY user_id, session_start_ms""".stripMargin) { (s, d) =>
    runGated(s, d)(EventStreams.sessionCounts(_))
      .orderBy("user_id", "session_start_ms")
  }

  /** q74: streaming sliding windows ≡ batch q19 — the last unclosed
    * batch/stream twin (q47 tumbling, q48 session). The flush sentinel
    * closes every real window; its own 4 overlapping windows all end
    * after the final watermark (earliest end = its 15-min bucket + 15min
    * > sentinel − 10min), so none is ever emitted — the q47 invariant,
    * per-slide.
    */
  private val q74 = GraftQuery(
    "q74_stream_sliding",
    """SELECT epoch_ms(time_bucket(INTERVAL 15 MINUTES, ts)
      |         - o.i * INTERVAL 15 MINUTES) AS window_start_ms,
      |  count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM events, (VALUES (0), (1), (2), (3)) o(i)
      |GROUP BY 1
      |ORDER BY window_start_ms""".stripMargin) { (s, d) =>
    runGated(s, d)(EventStreams.slidingCounts(_))
      .orderBy("window_start_ms")
  }

  /** q75: custom-state milestones (`flatMapGroupsWithState`) ≡ the batch
    * closed form — every (user, milestone) pair for each full `stepCents`
    * of cumulative value. Integer-cents state makes the emitted set
    * independent of row order and micro-batch boundaries (see
    * [[EventStreams.valueMilestones]]), and the high-water mark makes it
    * exactly-once — so the stream output equals the batch formula
    * regardless of how the replay batches. No sentinel: state uses
    * NoTimeout, emission happens in the crossing batch.
    */
  private val q75 = GraftQuery(
    "q75_state_milestones",
    """WITH per_user AS (
      |  SELECT user_id,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1)
      |SELECT user_id,
      |  CAST(unnest(range(1, cents // 100000 + 1)) AS BIGINT) AS milestone
      |FROM per_user
      |ORDER BY user_id, milestone""".stripMargin) { (s, d) =>
    val streamed = EventStreams.runToMemory(s,
      EventStreams.valueMilestones(EventStreams.readEvents(s, d))
        .toDF("user_id", "milestone"),
      s"stream_gate_${memorySinkId.incrementAndGet()}")
    streamed.orderBy("user_id", "milestone")
  }

  /** q148: streaming conversion funnel ≡ batch q126 — the state-machine
    * fold as watermark-finalized custom state
    * ([[EventStreams.funnelSteps]]): per-user progress emits exactly
    * once, when the watermark proves no future event can change it; the
    * flush sentinel closes every real user's horizon at replay end. The
    * per-step distribution is then a batch aggregate over the emitted
    * (user, steps_reached) rows, gated on q126's oracle verbatim —
    * stream == batch == DuckDB for an operator whose output is NOT
    * monotone in its input, which is exactly why it needs the timeout
    * mechanism rather than q75's order-independence argument.
    */
  private val q148 = GraftQuery(
    "q148_stream_funnel", graft.operators.Temporal.funnelOracleSql) { (s, d) =>
    val streamed = runGated(s, d)(
      EventStreams.funnelSteps(_).toDF("user_id", "steps_reached"))
    streamed.groupBy("steps_reached")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("steps_reached")
  }

  /** q149: streaming retention cohorts ≡ batch q127 — per-user
    * (cohort, offset) pairs finalized by watermark timeout
    * ([[EventStreams.retentionRows]]); the per-pair user count is then a
    * plain `count(*)` because each user emits each pair exactly once —
    * the batch `count(DISTINCT)` without distinct-count state. Gated on
    * q127's oracle verbatim.
    */
  private val q149 = GraftQuery(
    "q149_stream_retention", graft.operators.Temporal.retentionOracleSql) { (s, d) =>
    val streamed = runGated(s, d)(
      EventStreams.retentionRows(_).toDF("cohort", "day_offset"))
    streamed.groupBy("cohort", "day_offset")
      .agg(count(lit(1)).as("n_users"))
      .select(date_from_unix_date(col("cohort")).as("cohort_day"),
        col("day_offset"), col("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** q49: streaming watermarked dedup emits exactly one row per
    * (user_id, event_type) key — the key universe must equal the batch
    * distinct. No sentinel needed: dedup is a stateful filter, rows emit
    * in the batch they arrive. The emitted row's (event_id, ts) is
    * processing-order-dependent within a micro-batch, so the gate checks
    * the deterministic projection: the key set itself.
    */
  private val q49 = GraftQuery(
    "q49_stream_dedup_keys",
    """SELECT user_id, event_type FROM events
      |GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
    val streamed = EventStreams.runToMemory(s,
      EventStreams.dedupedEvents(EventStreams.readEvents(s, d)),
      s"stream_gate_${memorySinkId.incrementAndGet()}")
    streamed.select("user_id", "event_type")
      .orderBy("user_id", "event_type")
  }

  /** q55: stream-stream interval join (click attribution) ≡ the batch
    * interval join. Inner matches emit in the arrival batch, so no flush
    * sentinel is needed — the watermark + two-sided time bound exist to
    * keep join state evictable on an unbounded stream.
    */
  private val q55 = GraftQuery(
    "q55_stream_interval_join",
    """SELECT v.user_id AS user_id, v.event_id AS view_id, c.event_id AS click_id,
      |  epoch_ms(v.ts) AS view_ts_ms, epoch_ms(c.ts) AS click_ts_ms
      |FROM events v JOIN events c ON v.user_id = c.user_id
      | AND v.event_type = 'view' AND c.event_type = 'click'
      | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 6 HOURS
      |ORDER BY user_id, view_id, click_id""".stripMargin) { (s, d) =>
    // gate runs with a watermark covering the dataset's span: join state
    // is then never evicted mid-replay, so equality with the batch oracle
    // holds even if the file source splits the replay into multiple
    // micro-batches (with the production 10-minute delay, a view's state
    // could be dropped between batches before a later in-window click).
    val streamed = EventStreams.runToMemory(s,
      EventStreams.attributedClicks(EventStreams.readEvents(s, d),
        watermark = "30 days"),
      s"stream_gate_${memorySinkId.incrementAndGet()}")
    streamed.orderBy("user_id", "view_id", "click_id")
  }

  /** q73: stream-stream LEFT OUTER interval join ≡ the batch left-outer
    * interval join — the state-EVICTION emission semantics the inner gate
    * (q55) never exercises: a view with no click in its 6-hour window is
    * emitted with a NULL click side exactly when the watermark proves no
    * future click can match it.
    *
    * Gate mechanics: the flush sentinel pushes the final watermark ~30
    * days past every real view, so every unmatched view's state is
    * retired and its null row emitted in the run's no-data batch. The
    * sentinel must be KEPT through both branches' type filters
    * (`flushType` — see [[EventStreams.attributedClicks]]: the pushed
    * filters otherwise starve both watermark operators of it, pinning
    * the global watermark to max-real-ts − delay and stranding the last
    * 6 hours of unmatched views, which is exactly how this gate failed
    * first). Unlike q55 this keeps the production 10-minute watermark —
    * a 30-day delay would leave the watermark BEHIND the real views at
    * end-of-stream and the null rows would never flush. The q55
    * mid-replay-eviction hazard doesn't bite for the same reason as q60:
    * the staged replay drains in one AvailableNow batch, so the
    * watermark only advances after every real event is already in join
    * state.
    */
  private val q73 = GraftQuery(
    "q73_stream_outer_join",
    """SELECT v.user_id AS user_id, v.event_id AS view_id, c.event_id AS click_id,
      |  epoch_ms(v.ts) AS view_ts_ms, epoch_ms(c.ts) AS click_ts_ms
      |FROM (SELECT * FROM events WHERE event_type = 'view') v
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON v.user_id = c.user_id AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 6 HOURS
      |ORDER BY user_id, view_id, click_id""".stripMargin) { (s, d) =>
    runGated(s, d)(
      EventStreams.attributedClicks(_, joinType = "leftOuter",
        flushType = Some("__flush")))
      .orderBy("user_id", "view_id", "click_id")
  }

  /** q60: stream-static broadcast enrichment ≡ the batch join+agg. The
    * static side is the customer dimension (the fixture embeds the
    * user→customer key as user_id + 1 = c_custkey); the flush sentinel
    * closes the final tumbling windows as in q47.
    *
    * Unlike q55, the gate keeps the production 10-minute watermark: a
    * WIDE watermark here would leave the final real windows open forever
    * (final wm = sentinel ts − watermark = max real ts when the delays
    * match, which never passes the last window's end). The sentinel
    * design instead relies on the staged replay draining in one
    * AvailableNow batch (a handful of files, far under
    * maxFilesPerTrigger), so the watermark only advances after every
    * real event is already in state — the q55 mid-replay-eviction hazard
    * cannot arise for a windowed aggregation gated this way.
    */
  private val q60 = GraftQuery(
    "q60_stream_static_enrich",
    """SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, e.ts)) AS window_start_ms,
      |  c.c_mktsegment AS mktsegment, count(*) AS n,
      |  round(sum(e.value), 2) AS sum_value
      |FROM events e JOIN customer c ON e.user_id + 1 = c.c_custkey
      |WHERE e.event_type = 'purchase'
      |GROUP BY 1, 2
      |ORDER BY window_start_ms, mktsegment""".stripMargin) { (s, d) =>
    runGated(s, d)(
      EventStreams.segmentRevenue(_, graft.Tables.customer(s, d)))
      .orderBy("window_start_ms", "mktsegment")
  }

  /** Denylist membership floor for q80 — users with more total events than
    * this are treated as the offline-flagged bot/abuse cohort.
    */
  private val DenyThreshold = 80L

  /** q80: ingestion-time decontamination — the streaming twin of q77's
    * bloom-pruned anti-join. An offline job computes a denylist (here:
    * users above [[DenyThreshold]] total events, the bot-volume
    * heuristic); the replayed stream drops every denylisted user's events
    * BEFORE the windowed aggregation sees them.
    *
    * The scale mechanics: the bloom literal rides into the streaming plan
    * and filters map-side, so rows that definitely aren't denylisted
    * (the overwhelming majority at 100 TB/day) never touch join state;
    * only might-contain candidates take the stream-static LEFT ANTI join
    * against the denylist table, which confirms exactly (no false
    * negatives → no good row lost, no denied row kept). The union of the
    * two branches re-converges before the tumbling aggregation, so the
    * emitted windows are exactly the batch answer over clean events —
    * which is precisely what the oracle asserts via the flush gate.
    */
  private val q80 = GraftQuery(
    "q80_stream_bloom_filter",
    s"""WITH deny AS (
       |  SELECT user_id FROM events GROUP BY 1 HAVING count(*) > $DenyThreshold)
       |SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS window_start_ms,
       |  event_type, count(*) AS n, round(sum(value), 2) AS sum_value
       |FROM events
       |WHERE user_id IS NOT NULL AND user_id NOT IN (SELECT user_id FROM deny)
       |GROUP BY 1, 2
       |ORDER BY window_start_ms, event_type""".stripMargin) { (s, d) =>
    // registry leaf: the stream-static join re-executes the static
    // side every micro-batch — unmaterialized, each batch would
    // re-aggregate the events table to rebuild a 9-row denylist (plus the
    // count + bloom-build passes before the stream starts). Released via
    // Artifacts.release(session).
    val deny = graft.Artifacts.checkpointedDf(s, s"q80_denylist:$d") {
      graft.Tables.events(s, d)
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .where(col("n") > DenyThreshold)
        .select("user_id")
    }
    // memoized broadcast handle (see q77): one filter per (session, dir),
    // destroyed by Artifacts.release — repeated runs don't leak broadcasts.
    // Handle resolution is process-local by design: this stream runs
    // gated in-session and never restarts from a checkpoint (a recovered
    // plan would fail loudly at analysis, not bind a stale filter).
    val handle = graft.functions.BloomFilterFunctions
      .cachedHandle(s, s"q80_bloom:$d") {
        deny.stat.bloomFilter("user_id", math.max(deny.count(), 1L), 0.03)
      }
    runGated(s, d) { ev =>
      // broadcast-handle probe (see q77): the streaming plan carries an
      // int, not the serialized filter
      val mc = graft.functions.BloomFilterFunctions
        .probeHandle(handle, col("user_id"))
      // NULL user_id rows evaluate the probe to NULL and drop in BOTH
      // branches — the oracle pins the same "unattributable row is
      // dropped" semantics with an explicit IS NOT NULL (bare NOT IN
      // would diverge when the denylist is empty: SQL keeps, this drops)
      val clean = ev.where(!mc)
      val cand = ev.where(mc).join(deny, Seq("user_id"), "left_anti")
      EventStreams.tumblingCounts(clean.unionByName(cand))
    }.orderBy("window_start_ms", "event_type")
  }

  /** q98: streaming chunk ingest — corpus ingestion as a STREAM: newly
    * arriving document files are content-defined-chunked (q96's map-only
    * transform applied unchanged to the streaming frame) and every chunk
    * whose fingerprint is already known-duplicated (q97's offline
    * manifest, the static side) is dropped at ingest. Emits the kept
    * (doc_id, chunk_id, chunk_fp) rows in append mode.
    *
    * Unlike the watermarked gates above, this needs NO flush sentinel:
    * the whole pipeline is stateless (map + stream-static LEFT ANTI), so
    * append mode emits every row as its file is processed — the streaming
    * result IS the batch answer over the same files, which is what the
    * oracle asserts. At 100 TB/day this is the ingest-side twin of q97:
    * the dup-fp manifest is a small static table (duplicated fps only)
    * broadcast under the anti-join, chunking is per-row arithmetic, and
    * throughput scales with file arrival, never corpus size.
    */
  private val q98 = GraftQuery(
    "q98_stream_chunk_ingest",
    s"""WITH ${graft.operators.Pipeline.cdcOracleCtes},
       |dups AS (
       |  SELECT chunk_fp FROM allchunks GROUP BY 1 HAVING count(*) >= 2)
       |SELECT a.doc_id, a.chunk_id, a.chunk_fp
       |FROM allchunks a LEFT JOIN dups d ON a.chunk_fp = d.chunk_fp
       |WHERE d.chunk_fp IS NULL
       |ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
    val dupFps = graft.operators.Pipeline
      .cdcChunks(graft.Tables.documents(s, d))
      .groupBy("chunk_fp").agg(count(lit(1)).as("n"))
      .where(col("n") >= 2).select("chunk_fp")
    val chunks = graft.operators.Pipeline
      .cdcChunks(EventStreams.readDocuments(s, d))
      .select("doc_id", "chunk_id", "chunk_fp")
    val kept = chunks.join(dupFps, Seq("chunk_fp"), "left_anti")
    EventStreams.runToMemory(s, kept,
        s"stream_gate_${memorySinkId.incrementAndGet()}")
      .select("doc_id", "chunk_id", "chunk_fp")
      .orderBy("doc_id", "chunk_id")
  }

  /** q109: STREAMING index maintenance — q94's frozen-codebook
    * assign+encode run as a q98-style stateless ingest stream: newly
    * arriving embedding files (the 8-9 LCG shard buckets) become
    * appendable index rows (vec_id, coarse_cell, m, pq_code) in append
    * mode. The transform is LITERALLY q94's
    * ([[graft.operators.Similarity.frozenAssignEncode]] — the collected
    * frozen codebooks ride the streaming plan as literals, the argmins
    * are per-row `array_min` folds), so there is no state store, no
    * watermark, no shuffle: a living 100 TB/day index ingests at file-
    * arrival rate, and the oracle gate pins stream == batch == the
    * DuckDB retraining of the same frozen recipe.
    */
  private val q109 = GraftQuery(
    "q109_stream_index_append",
    graft.operators.Similarity.indexAppendOracle) { (s, d) =>
    val nw = EventStreams.readEmbeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .where(graft.operators.Similarity.shardBucket(col("vec_id")) >= 8)
    EventStreams.runToMemory(s,
        graft.operators.Similarity.frozenAssignEncode(s, d, nw),
        s"stream_gate_${memorySinkId.incrementAndGet()}")
      .orderBy("vec_id", "m")
  }

  /** q363: STREAMING IMI index maintenance — q362's frozen-half-codebook
    * product-cell routing run as a q109-style stateless ingest stream:
    * newly arriving embedding files (the 8-9 LCG shard buckets) become
    * appendable IMI routing rows (vec_id, cell_a, cell_b) in append
    * mode. The transform is LITERALLY q362's
    * ([[graft.operators.Similarity.frozenImiRoute]] — both half
    * codebooks ride the streaming plan as literals, the argmins are
    * per-row `array_min` folds), so there is no state store, no
    * watermark, no shuffle — and the per-row routing cost is
    * 2·k' ~ 2·n^(1/4) distance folds, the router economy that keeps a
    * living IMI index ingesting at file-arrival rate past the flat
    * router's ceiling. The gate pins stream == q362's batch == DuckDB.
    */
  private val q363 = GraftQuery(
    "q363_stream_imi_route",
    graft.operators.Similarity.imiRouteAppendOracle) { (s, d) =>
    val nw = EventStreams.readEmbeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .where(graft.operators.Similarity.shardBucket(col("vec_id")) >= 8)
    EventStreams.runToMemory(s,
        graft.operators.Similarity.frozenImiRoute(s, d, nw),
        s"stream_gate_${memorySinkId.incrementAndGet()}")
      .orderBy("vec_id")
  }

  /** q371: STREAMING GRAPH ATTACH — the ingest-rate half of q370's
    * graph-index maintenance: newly arriving embedding files (the 8-9
    * LCG shard buckets) get provisional kNN-graph edges ONLINE by
    * [[graft.operators.Similarity.graphAttachPlan]] — hashed entries
    * (stateless), the frozen base graph's ring via stream-static
    * equi-joins, exact-cosine scoring, and ONE complete-mode per-query
    * top-K aggregation (q111's serving shape). q370's multi-hop beam is
    * the batch insert this tier approximates at one hop; the gate pins
    * stream == DuckDB's independent one-hop recompute, so the online
    * path can never drift from the frozen artifact it attaches to.
    */
  private val q371 = GraftQuery(
    "q371_stream_graph_attach",
    graft.operators.Similarity.graphAttachOracle) { (s, d) =>
    val nw = EventStreams.readEmbeddings(s, d)
      .where(graft.operators.Similarity.shardBucket(col("vec_id")) >= 8)
      .select(col("vec_id"), col("embedding"))
    val sunk = EventStreams.runToMemory(s,
      graft.operators.Similarity.graphAttachPlan(s, d, nw),
      s"stream_gate_${memorySinkId.incrementAndGet()}",
      outputMode = "complete")
    sunk.select(col("qid").as("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.neighbor_id").as("neighbor_id"),
        round(col("col.cos"), 6).as("cos_sim"))
      .orderBy("vec_id", "rank")
  }

  /** q388: STREAMING DELETE-MASKED GRAPH SERVE — q377's tombstone rule
    * at ingest rate: the query stream is served from the frozen
    * full-corpus kNN graph (hashed entries + one-hop ring via
    * stream-static equi-joins,
    * [[graft.operators.Similarity.graphMaskedServePlan]]) with the
    * deletion-request list applied as stream-static ANTI-joins on both
    * sides BEFORE the one stateful top-3 aggregation — a deletion
    * takes effect on the very next micro-batch, no index rewrite, no
    * state for the mask (it rides the static side). Gated on an
    * independent DuckDB recompute of masked one-hop serving.
    */
  private val q388 = GraftQuery(
    "q388_stream_graph_masked_serve",
    graft.operators.Similarity.graphMaskedServeOracle) { (s, d) =>
    val qs = EventStreams.readEmbeddings(s, d)
      .where(col("vec_id") < graft.operators.Similarity.QueryBatch)
      .select(col("vec_id"), col("embedding"))
    val sunk = EventStreams.runToMemory(s,
      graft.operators.Similarity.graphMaskedServePlan(s, d, qs),
      s"stream_gate_${memorySinkId.incrementAndGet()}",
      outputMode = "complete")
    sunk.select(col("qid").as("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.neighbor_id").as("neighbor_id"),
        round(col("col.cos"), 6).as("cos_sim"))
      .orderBy("vec_id", "rank")
  }

  /** q394: STREAMING TARGET REBALANCE — q391's trade list recomputed as
    * orders ARRIVE: the one stateful operator is the per-account pivot
    * (5 conditional cents sums, complete mode — an account's holdings
    * are exactly its running totals), and the Hamilton apportionment
    * runs ROW-LOCALLY over the fixed 5-class vector in the read-back
    * (floors, remainders, a 5×5 comparison rank, remainder
    * distribution — no window, no second shuffle, which is what makes
    * the rebalance STREAMABLE: the per-account state is 5 BIGINTs no
    * matter how many orders arrive). Gated on q391's oracle verbatim —
    * stream == batch == DuckDB on the same ledger.
    */
  private val q394 = GraftQuery(
    "q394_stream_rebalance",
    graft.operators.Portfolio.rebalanceOracle) { (s, d) =>
    val classes = graft.operators.Portfolio.TargetPpm
    val orders = EventStreams.readOrders(s, d)
      .where(col("o_custkey") < 100)
    val pivotAggs = classes.zipWithIndex.map { case ((c, _), i) =>
      sum(when(col("o_orderpriority") === c,
        expr("CAST(round(o_totalprice * 100) AS BIGINT)")).otherwise(0L))
        .as(s"c$i")
    }
    val sunk = EventStreams.runToMemory(s,
      orders.groupBy("o_custkey").agg(pivotAggs.head, pivotAggs.tail: _*),
      s"stream_gate_${memorySinkId.incrementAndGet()}",
      outputMode = "complete")
    val n = classes.size
    val withTot = sunk.withColumn("t",
      (0 until n).map(i => col(s"c$i")).reduce(_ + _))
    val withHam = classes.zipWithIndex.foldLeft(withTot) {
      case (acc, ((_, w), i)) => acc
        .withColumn(s"fl$i", expr(s"(t * ${w}L) div 1000000"))
        .withColumn(s"fr$i", expr(s"(t * ${w}L) % 1000000"))
    }
    val withRem = withHam.withColumn("rem",
      col("t") - (0 until n).map(i => col(s"fl$i")).reduce(_ + _))
    // rank of class i among the 5 fractional remainders, ties broken by
    // ascending class name — TargetPpm is listed in ascending-name
    // order, so index order IS the tie-break
    val ranked = classes.indices.foldLeft(withRem) { case (acc, i) =>
      acc.withColumn(s"rk$i", lit(1L) + classes.indices.filter(_ != i)
        .map { j =>
          val beats =
            if (j < i) col(s"fr$j") >= col(s"fr$i")
            else col(s"fr$j") > col(s"fr$i")
          when(beats, 1L).otherwise(0L)
        }.reduce(_ + _))
    }
    val rows = ranked.select(col("o_custkey"),
      posexplode(array(classes.zipWithIndex.map { case ((c, _), i) =>
        struct(lit(c).as("asset_class"), col(s"c$i").as("cur_cents"),
          (col(s"fl$i") + when(col(s"rk$i") <= col("rem"), 1L)
            .otherwise(0L)).as("target_cents"))
      }: _*)))
    rows.select(col("o_custkey"), col("col.asset_class").as("asset_class"),
        col("col.cur_cents").as("cur_cents"),
        col("col.target_cents").as("target_cents"))
      .withColumn("delta_cents", col("target_cents") - col("cur_cents"))
      .withColumn("side",
        when(col("delta_cents") > 0, "BUY")
          .when(col("delta_cents") < 0, "SELL").otherwise("HOLD"))
      .orderBy("o_custkey", "asset_class")
  }

  /** q400: STREAMING FIFO COST-BASIS P&L — q393's lot accounting at
    * ingest rate, the capstone of the reference-ecosystem arc (the
    * reference EXISTS to ingest transaction ledgers; this is the ledger
    * analytics those imports feed, computed as the fills arrive). The
    * arriving lineitem stream joins the static bounded account roster
    * (stream-static equi-join — no state), and the ONE stateful operator
    * is [[graft.streaming.EventStreams.ledgerPnlRows]]: per (cust, part)
    * the open-lot books + 4 BIGINT totals in `flatMapGroupsWithState`,
    * state bounded by the OPEN POSITION, never the trade history (the
    * interval kernel's residual — see the kernel scaladoc for the
    * matching-equivalence and ordering-contract arguments). The
    * read-back takes each key's latest snapshot (max monotone nTrades),
    * marks the open books against the shared static mark table
    * ([[graft.operators.Temporal.lotMark]] — ul = olu·mark − Σqty·up,
    * us = Σqty·up − osu·mark, per-lot detail already folded into the
    * two sums), and aggregates per account. Gated on q393's oracle
    * VERBATIM — stream == batch == DuckDB on the same ledger, q394's
    * discipline on q391.
    */
  /** The streamed trade ledger both lot-accounting twins fold: arriving
    * lineitem lines ⋈ the static bounded account roster (stream-static
    * equi-join, no state), projected to the (cust, part, dd, ok, ln,
    * side, qty, <price>) row — ONE definition of the stream-side ledger
    * mirroring `Temporal.lotLedger`'s bounds and grains, so the roster
    * cut, side mapping, and FIFO key can never desynchronize between
    * the twins (review r17 finding 4). `priceCol` is the one column the
    * twins disagree on: q400 folds the 10⁻⁴-cent unit price, q401 the
    * line cents (its loss rule cross-multiplies originals).
    */
  private def ledgerTradeStream(s: SparkSession, d: String,
      priceCol: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Dataset[(Long, Long, Long, Long, Long, Long, Long, Long)] = {
    import s.implicits._
    val roster = graft.Tables.orders(s, d).where(col("o_custkey") < 100)
      .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
    EventStreams.readLineitem(s, d)
      .join(roster, "l_orderkey")
      .select(col("o_custkey").cast("long").as("cust"),
        col("l_partkey").cast("long").as("part"),
        expr("unix_date(CAST(l_shipdate AS DATE))").cast("long").as("dd"),
        col("l_orderkey").cast("long").as("ok"),
        col("l_linenumber").cast("long").as("ln"),
        when(col("l_returnflag").isin("A", "N"), 1L).otherwise(0L)
          .as("side"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("qty"),
        priceCol.cast("long").as("price"))
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
  }

  private val q400 = GraftQuery(
    "q400_stream_fifo_pnl",
    graft.operators.Temporal.fifoCostBasisOracle) { (s, d) =>
    val trades = ledgerTradeStream(s, d,
      expr("(CAST(round(l_extendedprice * 100) AS BIGINT) * 10000)" +
        " div CAST(round(l_quantity) AS BIGINT)"))
    val sunk = EventStreams.runToMemory(s,
      EventStreams.ledgerPnlRows(trades).toDF("cust", "part", "n_trades",
        "proceeds", "cost", "realized", "olu", "olc", "osu", "osp"),
      s"stream_gate_${memorySinkId.incrementAndGet()}",
      outputMode = "update")
    val wSnap = org.apache.spark.sql.expressions.Window
      .partitionBy("cust", "part").orderBy(col("n_trades").desc)
    val latest = sunk.withColumn("r", row_number().over(wSnap))
      .where(col("r") === 1)
    latest
      // r18: marks bounded to the snapshot's parts — the inner join
      // dropped the rest anyway; see [[graft.operators.Temporal.lotMark]]
      .join(graft.operators.Temporal.lotMark(s, d,
        Some(latest.select(col("part")))), "part")
      .groupBy("cust")
      .agg(sum(col("proceeds")).as("proceeds_e4"),
        sum(col("cost")).as("cost_e4"),
        sum(col("realized")).as("realized_e4"),
        sum(col("olu")).as("open_long_units"),
        sum(col("olu") * col("mark_up") - col("olc")).as("unreal_long_e4"),
        sum(col("osu")).as("open_short_units"),
        sum(col("osp") - col("osu") * col("mark_up")).as("unreal_short_e4"),
        sum(col("realized") + (col("olu") * col("mark_up") - col("olc"))
          + (col("osp") - col("osu") * col("mark_up"))).as("total_pnl_e4"),
        sum((col("olu") - col("osu")) * col("mark_up")).as("net_mark_e4"))
      .select(col("cust").as("o_custkey"), col("proceeds_e4"),
        col("cost_e4"), col("realized_e4"), col("open_long_units"),
        col("unreal_long_e4"), col("open_short_units"),
        col("unreal_short_e4"), col("total_pnl_e4"), col("net_mark_e4"))
      .orderBy("o_custkey")
  }

  /** q401: STREAMING WASH-SALE DETECTION — q392's tax rule at ingest
    * rate, closing the lot-accounting family's streaming side beside
    * q400 (B9 complete: every ledger-analytics query now has a twin).
    * Same stream shape as q400 — lineitem stream ⋈ static roster, one
    * stateful operator — but the state carries the rule's ±30-day
    * REPLACEMENT WINDOW: [[graft.streaming.EventStreams.washSaleRows]]
    * retains the open books plus exactly one wash-window of buys and
    * the not-yet-final sales (a sale finalizes once its demand interval
    * is covered AND the feed passes d + 30 — the window, not history,
    * bounds state; see the kernel scaladoc). The read-back takes each
    * key's latest snapshot, aggregates per account, and keeps q392's
    * output contract: accounts with at least one matched sale, n_sales
    * counting ALL their sells. Gated on q392's oracle VERBATIM.
    */
  private val q401 = GraftQuery(
    "q401_stream_wash_sale",
    graft.operators.Temporal.washSaleOracle) { (s, d) =>
    val trades = ledgerTradeStream(s, d,
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
    val sunk = EventStreams.runToMemory(s,
      EventStreams.washSaleRows(trades).toDF("cust", "part", "n_trades",
        "n_sales", "n_matched", "n_loss", "n_washed", "matched", "loss",
        "washed_loss"),
      s"stream_gate_${memorySinkId.incrementAndGet()}",
      outputMode = "update")
    val wSnap = org.apache.spark.sql.expressions.Window
      .partitionBy("cust", "part").orderBy(col("n_trades").desc)
    val latest = sunk.withColumn("r", row_number().over(wSnap))
      .where(col("r") === 1)
    latest.groupBy("cust")
      .agg(sum(col("n_sales")).as("n_sales"),
        sum(col("n_matched")).as("n_matched_sales"),
        sum(col("n_loss")).as("n_loss_sales"),
        sum(col("n_washed")).as("n_washed_sales"),
        sum(col("matched")).as("matched_units"),
        sum(col("loss")).as("loss_units"),
        sum(col("washed_loss")).as("washed_loss_units"))
      .where(col("n_matched_sales") > 0)
      .select(col("cust").as("o_custkey"), col("n_sales"),
        col("n_matched_sales"), col("n_loss_sales"), col("n_washed_sales"),
        col("matched_units"), col("loss_units"), col("washed_loss_units"))
      .orderBy("o_custkey")
  }

  /** q397: STREAMING MERKLE LEAVES — q396's anti-entropy manifest
    * maintained at ingest rate: arriving document files update the
    * per-shard commutative digest sums
    * ([[graft.operators.Pipeline.merkleStreamPlan]], complete mode —
    * ONE DECIMAL of state per shard no matter the arrival order, which
    * is exactly why the digest algebra was chosen), and the read-back
    * reduces mod 2⁶¹−1 and folds the hash tree. Gated on a DuckDB
    * from-scratch recompute of the full tree — the stream's
    * incrementally-held manifest can never drift from what a cold
    * rebuild would publish.
    */
  private val q397 = GraftQuery(
    "q397_stream_merkle",
    graft.operators.Pipeline.merkleStreamOracle) { (s, d) =>
    val docs = EventStreams.readDocuments(s, d)
    val sunk = EventStreams.runToMemory(s,
      graft.operators.Pipeline.merkleStreamPlan(docs),
      s"stream_gate_${memorySinkId.incrementAndGet()}",
      outputMode = "complete")
    graft.operators.Pipeline.merkleStreamReadback(s, sunk)
  }

  /** q111: ONLINE ANN serving — the query stream answered against the
    * static quantized index artifact
    * ([[graft.operators.Similarity.streamServePlan]]): arriving query
    * vectors are encoded and probe-routed map-side against literal
    * centroids, candidates come from one stream-static equi-join on the
    * stored (code, nq) columns, and the ONLY stateful operator is the
    * final per-query top-3 ranking aggregation (complete mode — a
    * serving tier's answer set is exactly the current best-k per query).
    * The read-back explodes the 3-slot arrays into ranked rows; the gate
    * pins stream == q105's cold-batch == DuckDB, so the online path can
    * never drift from the offline index it serves.
    */
  private val q111 = GraftQuery(
    "q111_stream_ann_serve",
    graft.operators.Similarity.boundedQuantServeOracle) { (s, d) =>
    val qs = EventStreams.readEmbeddings(s, d)
      .where(col("vec_id") < graft.operators.Similarity.QueryBatch)
      .select(col("vec_id"), col("embedding"))
    val sunk = EventStreams.runToMemory(s,
      graft.operators.Similarity.streamServePlan(s, d, qs),
      s"stream_gate_${memorySinkId.incrementAndGet()}",
      outputMode = "complete")
    sunk.select(col("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), col("col.neighbor_id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        round(col("col.qcos"), 6).as("qcos_sim"))
      .orderBy("vec_id", "rank")
  }

  /** q121: ONLINE serving at the DELETE snapshot — q111's query stream
    * answered against the manifest-resolved live set (snapshot v3:
    * segments minus the delete file), so the online tier serves exactly
    * what the versioned store says is live. Both masks are stream-static
    * broadcast anti-joins (the q98 ingest shape): a tombstoned id
    * neither answers queries nor arrives AS a query, and candidates are
    * masked pre-rank so every live query still gets its full top-3. The
    * gate pins stream == q110's masked batch == q120's snapshot read ==
    * DuckDB — four independent paths to one answer set, which is the
    * consistency contract an online serving tier owes its offline store.
    */
  private val q121 = GraftQuery(
    "q121_stream_snapshot_serve",
    graft.operators.Similarity.tombstoneServeOracle) { (s, d) =>
    val Sim = graft.operators.Similarity
    val base = Sim.versionedIndex(s, d)
    val (idx, tomb) = Sim.manifestResolve(s, base, version = 3)
    val tombIds = tomb.get.select("vec_id")
    val live = idx.join(broadcast(tombIds), Seq("vec_id"), "left_anti")
    val qs = EventStreams.readEmbeddings(s, d)
      .where(col("vec_id") < Sim.QueryBatch)
      .join(broadcast(tombIds), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("embedding"))
    val sunk = EventStreams.runToMemory(s,
      Sim.streamServePlan(s, d, qs, Some(live)),
      s"stream_gate_${memorySinkId.incrementAndGet()}",
      outputMode = "complete")
    sunk.select(col("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), col("col.neighbor_id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        round(col("col.qcos"), 6).as("qcos_sim"))
      .orderBy("vec_id", "rank")
  }

  /** q163: STREAMING count-min maintenance — q139's mergeable frequency
    * sketch kept ONLINE over the event stream. The point at scale: the
    * streaming state is the SKETCH ITSELF — d×w integer cells bounded by
    * the grid, not by stream length or key cardinality — because
    * count-min cells merge by addition, which is exactly what a
    * streaming grouped count does per micro-batch. No watermark is
    * needed (nothing expires; the sketch only grows), so the query runs
    * Complete-mode and every drain emits the full 256-cell artifact.
    * The flush sentinel is excluded by KEY (user_id = −1), not by
    * timing, since an unwatermarked aggregate would otherwise fold it
    * in. Gated cell-for-cell against the batch sketch a DuckDB rebuild
    * computes — the est ≥ exact one-sided guarantee q140 pins therefore
    * holds for the online sketch too.
    */
  private val q163 = GraftQuery(
    "q163_stream_countmin",
    s"""WITH tf AS (
       |  SELECT event_type AS w, CAST(count(*) AS BIGINT) AS f
       |  FROM events GROUP BY 1),
       |hashed AS (
       |  SELECT f, ${graft.operators.CorpusStats.polyHashDuck("w")} AS h FROM tf),
       |seeds(r, a, c) AS (VALUES ${graft.operators.CorpusStats.cmRowsValues}),
       |cells AS (
       |  SELECT s.r,
       |    ((t.h * s.a + s.c) % 2147483648) % ${graft.operators.CorpusStats.CmW} AS cell,
       |    t.f
       |  FROM hashed t CROSS JOIN seeds s)
       |SELECT r, cell, CAST(sum(f) AS BIGINT) AS n
       |FROM cells GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val Cs = graft.operators.CorpusStats
    val seeds = s.createDataFrame(Cs.CmRows).toDF("r", "a", "c")
    val staged = stagedWithFlush(s, d)
    val events = readStaged(s, d, staged).where(col("user_id") >= 0)
    val cells = events
      .select(graft.functions.PolyHash.hash(col("event_type")).as("h"))
      .crossJoin(broadcast(seeds))
      .select(col("r"),
        pmod(pmod(col("h") * col("a") + col("c"), lit(2147483648L)),
          lit(Cs.CmW)).as("cell"))
      .groupBy("r", "cell").agg(count(lit(1)).as("n"))
    EventStreams.runToMemory(s, cells,
        s"stream_gate_${memorySinkId.incrementAndGet()}",
        outputMode = "complete")
      .orderBy("r", "cell")
  }

  /** q173: streaming last-touch attribution ≡ batch q172 — per-user
    * timelines finalized by watermark timeout
    * ([[EventStreams.lastTouchRows]]), each purchase emitting its
    * attribution row exactly once. Gated on q172's oracle verbatim
    * (stream == batch window plan == DuckDB).
    */
  private val q173 = GraftQuery(
    "q173_stream_last_touch",
    graft.operators.Temporal.lastTouchOracleSql) { (s, d) =>
    runGated(s, d)(EventStreams.lastTouchRows(_)
        .toDF("event_id", "user_id", "purchase_us", "attr_type",
          "attr_event_id", "gap_us"))
      .orderBy("user_id", "purchase_us", "event_id")
  }

  /** q189: streaming trending-types dashboard — top 3 event types per
    * closed 1-hour window, by count (event_type breaks count ties). The
    * split of labor is the production one: the STREAM maintains the
    * per-(window, type) counts (q47's watermarked tumbling aggregate —
    * the only state, bounded by watermark retention), and the RANK runs
    * over the finalized emissions, a (windows × types)-row table that is
    * metadata-sized no matter the event volume — ranking inside the
    * stream would force update-mode retraction semantics for zero
    * benefit, since a window's top-3 is only meaningful once the window
    * closes. The flush sentinel closes every real window (q47's
    * invariant), and its own '__flush' window never closes, so it never
    * enters the ranking. Gate: stream counts + finalized rank ==
    * DuckDB's batch window/rank over the same events.
    */
  private val q189 = GraftQuery(
    "q189_stream_trending",
    """WITH wc AS (
      |  SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS window_start_ms,
      |    event_type, CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT window_start_ms, event_type, n, CAST(rk AS BIGINT) AS rk FROM (
      |  SELECT window_start_ms, event_type, n,
      |    row_number() OVER (PARTITION BY window_start_ms
      |      ORDER BY n DESC, event_type) AS rk
      |  FROM wc) t
      |WHERE rk <= 3 ORDER BY window_start_ms, rk""".stripMargin) { (s, d) =>
    val wc = runGated(s, d)(EventStreams.tumblingCounts(_))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("window_start_ms")
      .orderBy(col("n").desc, col("event_type"))
    wc.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 3)
      .select("window_start_ms", "event_type", "n", "rk")
      .orderBy("window_start_ms", "rk")
  }

  /** q205: streaming interval union ≡ batch q192 — the associative-merge
    * counterpoint to the buffering folds (q148/q149/q173): state per
    * user is the MERGED island set itself (bounded by islands, not
    * events — see [[EventStreams.intervalIslands]]), finalized per user
    * by event-time timeout and gated on q192's oracle verbatim:
    * stream == batch == DuckDB.
    */
  private val q205 = GraftQuery(
    "q205_stream_interval_union",
    """WITH iv AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS s_ms,
      |    epoch_ms(ts) + CAST(round(value * 60000) AS BIGINT) AS e_ms
      |  FROM events),
      |mx AS (
      |  SELECT user_id, s_ms, e_ms,
      |    max(e_ms) OVER (PARTITION BY user_id ORDER BY s_ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max,
      |    event_id
      |  FROM iv),
      |isl AS (
      |  SELECT user_id, s_ms, e_ms,
      |    sum(CASE WHEN prev_max IS NULL OR s_ms > prev_max THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY s_ms, event_id
      |        ROWS UNBOUNDED PRECEDING) AS island
      |  FROM mx)
      |SELECT user_id, CAST(min(s_ms) AS BIGINT) AS start_ms,
      |  CAST(max(e_ms) AS BIGINT) AS end_ms,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM isl GROUP BY user_id, island
      |ORDER BY user_id, start_ms""".stripMargin) { (s, d) =>
    runGated(s, d)(ev => EventStreams.intervalIslands(ev)
        .toDF("user_id", "start_ms", "end_ms", "n_events"))
      .orderBy("user_id", "start_ms")
  }

  /** q217: streaming SCD2 build ≡ batch q191 — the order-sensitive
    * counterpart to q205's associative merge: per-user attribute change
    * intervals require the full (ts, event_id)-ordered history, so the
    * state buffers events (q148's bound) and the dimension rows emit
    * only at watermark finality. Gated on q191's oracle verbatim:
    * stream == batch == DuckDB.
    */
  private val q217 = GraftQuery(
    "q217_stream_scd2",
    """WITH kv AS (
      |  SELECT user_id, ts, event_id,
      |    CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT) AS k
      |  FROM events),
      |ch AS (
      |  SELECT user_id, ts, event_id, k,
      |    lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pk
      |  FROM kv),
      |scd AS (
      |  SELECT user_id, k, epoch_ms(ts) AS valid_from_ms,
      |    lead(epoch_ms(ts))
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_ms
      |  FROM ch WHERE pk IS NULL OR k <> pk)
      |SELECT user_id, k, valid_from_ms, valid_to_ms
      |FROM scd ORDER BY user_id, valid_from_ms""".stripMargin) { (s, d) =>
    runGated(s, d)(ev => EventStreams.scd2Intervals(ev)
        .toDF("user_id", "k", "valid_from_ms", "valid_to_ms"))
      .orderBy("user_id", "valid_from_ms")
  }

  /** q221: streaming histogram-sketch maintenance ≡ batch q199 — the
    * fixed-width value histogram as ONLINE state (q163's Complete-mode
    * discipline applied to the quantile sketch): the stream maintains
    * the ≤1000-bucket count table — bounded state by construction, no
    * watermark needed for an ever-growing monotone sketch — and the
    * percentile read runs as a batch epilogue over the final snapshot,
    * exactly how a serving layer reads a live sketch. Gated on q199's
    * oracle verbatim: stream == batch == DuckDB.
    */
  private val q221 = GraftQuery(
    "q221_stream_histogram",
    """WITH vc AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS c FROM events),
      |sk AS (
      |  SELECT c // 50 AS bucket, CAST(count(*) AS BIGINT) AS cnt
      |  FROM vc GROUP BY 1),
      |cum AS (
      |  SELECT bucket, cnt,
      |    sum(cnt) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum_n,
      |    sum(cnt) OVER () AS n
      |  FROM sk),
      |pcts AS (SELECT * FROM (VALUES (25), (50), (90), (99)) p(pct))
      |SELECT CAST(p.pct AS BIGINT) AS pct,
      |  CAST(min(c.bucket) AS BIGINT) AS bucket,
      |  CAST(min(c.bucket) * 50 AS BIGINT) AS bucket_lo_c
      |FROM pcts p JOIN cum c ON 100 * c.cum_n >= p.pct * c.n
      |GROUP BY p.pct ORDER BY pct""".stripMargin) { (s, d) =>
    import s.implicits._
    val staged = stagedWithFlush(s, d)
    val events = readStaged(s, d, staged).where(col("user_id") >= 0)
    val sk = events
      .select(round(col("value") * 100).cast("long").as("c"))
      .withColumn("bucket", expr("c div 50"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
    val snap = EventStreams.runToMemory(s, sk,
      s"stream_gate_${memorySinkId.incrementAndGet()}",
      outputMode = "complete")
    val w = org.apache.spark.sql.expressions.Window
    val cum = snap
      .withColumn("cum_n", sum(col("cnt"))
        .over(w.orderBy("bucket").rowsBetween(w.unboundedPreceding, 0)))
      .withColumn("n", sum(col("cnt")).over(w.partitionBy()))
    broadcast(Seq(25, 50, 90, 99).toDF("pct"))
      .join(cum, lit(100) * col("cum_n") >= col("pct") * col("n"))
      .groupBy(col("pct").cast("long").as("pct"))
      .agg(min(col("bucket")).as("bucket"),
        (min(col("bucket")) * 50).as("bucket_lo_c"))
      .orderBy("pct")
  }

  /** q244: streaming session-path mining ≡ batch q241 — top 10 3-event
    * paths within 6-hour-gap sessions. The labor split is q189's: the
    * STREAM owns the per-user sessionization and trigram extraction
    * ([[EventStreams.sessionPathRows]] — closed sessions finalized
    * incrementally against the watermark, state bounded by the open
    * tail), and the top-10 rank runs over the finalized emissions, a
    * TYPE³-bounded count table. The flush sentinel closes every real
    * session; its own single-event '__flush' session never finalizes
    * (the watermark never passes it) and a 1-event session emits no
    * trigram anyway. Gated on q241's oracle verbatim: stream == batch ==
    * DuckDB.
    */
  private val q244 = GraftQuery(
    "q244_stream_session_paths",
    graft.operators.Temporal.sessionPathsOracleSql) { (s, d) =>
    val paths = runGated(s, d)(EventStreams.sessionPathRows(_).toDF("path"))
    paths.groupBy("path").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("path"))
      .limit(10)
  }

  /** q250: STREAMING serve against the post-erasure chunk store — the
    * dedup tier's q121 (the vector tier's stream-vs-delete-snapshot
    * gate): arriving documents are CDC-chunked in-stream and each chunk
    * probed against the v4 manifest snapshot (compacted segment minus
    * the erasure tombstones, resolved through
    * [[graft.operators.Pipeline.chunkStoreResolve]]). Stateless
    * stream-static left join — membership probing is the serving path's
    * job; intra-delivery dup_shard splitting needs cross-row state and
    * belongs to the batch commit (q242), so this gate classifies
    * dup_store vs new only and the oracle states exactly that. An
    * erased-then-redelivered span classifying `new` IN-STREAM is the
    * operational point: the erasure verb is visible to the live ingest
    * path, not just tomorrow's batch.
    */
  private val q250 = GraftQuery(
    "q250_stream_erased_serve",
    s"""WITH ${graft.operators.Pipeline.cdcOracleCtes},
       |base AS (
       |  SELECT DISTINCT chunk_fp FROM allchunks WHERE doc_id % 4 <> 0),
       |delta AS (
       |  SELECT DISTINCT chunk_fp FROM allchunks
       |  WHERE doc_id % 4 = 0
       |    AND chunk_fp NOT IN (SELECT chunk_fp FROM base)),
       |tomb AS (
       |  SELECT chunk_fp FROM (
       |    SELECT DISTINCT chunk_fp FROM allchunks WHERE doc_id % 20 = 3
       |    EXCEPT
       |    SELECT DISTINCT chunk_fp FROM allchunks
       |    WHERE doc_id % 4 <> 0 AND doc_id % 20 <> 3)),
       |store AS (
       |  SELECT chunk_fp FROM (
       |    SELECT chunk_fp FROM base UNION SELECT chunk_fp FROM delta)
       |  WHERE chunk_fp NOT IN (SELECT chunk_fp FROM tomb)),
       |arr AS (
       |  SELECT doc_id, chunk_id, chunk_fp FROM allchunks
       |  WHERE doc_id % 4 = 0)
       |SELECT a.doc_id, a.chunk_id, a.chunk_fp,
       |  CASE WHEN s.chunk_fp IS NOT NULL THEN 'dup_store' ELSE 'new' END
       |    AS status
       |FROM arr a LEFT JOIN store s ON a.chunk_fp = s.chunk_fp
       |ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
    val P = graft.operators.Pipeline
    val store = P.chunkStoreResolve(s, P.versionedChunkStore(s, d), 4)
      .withColumn("in_store", lit(true))
    val chunks = P.cdcChunks(
        EventStreams.readDocuments(s, d).where(col("doc_id") % 4 === 0))
      .select("doc_id", "chunk_id", "chunk_fp")
    val out = chunks.join(store, Seq("chunk_fp"), "left")
      .select(col("doc_id"), col("chunk_id"), col("chunk_fp"),
        when(col("in_store"), "dup_store").otherwise("new").as("status"))
    EventStreams.runToMemory(s, out,
        s"stream_gate_${memorySinkId.incrementAndGet()}")
      .orderBy("doc_id", "chunk_id")
  }

  /** q251: STREAMING corpus digest maintenance ≡ batch q248 — the
    * anti-entropy digest as ONLINE state (q163's Complete-mode
    * discipline applied to the consistency primitive): the stream
    * maintains per-source (count, XOR, modular sum) as documents
    * arrive. Every accumulator is commutative-associative, so the
    * digest is arrival-order-independent BY CONSTRUCTION — the property
    * that makes a streaming replica's digest comparable against a batch
    * replica's without any coordination. State is one 3-long row per
    * source (bounded by source cardinality, no watermark needed for a
    * monotone digest). Gated on q248's oracle verbatim: stream == batch
    * == DuckDB.
    */
  private val q251 = GraftQuery(
    "q251_stream_corpus_digest",
    graft.operators.Pipeline.digestOracleSql) { (s, d) =>
    val digest =
      graft.operators.Pipeline.digestOf(EventStreams.readDocuments(s, d))
    EventStreams.runToMemory(s, digest,
        s"stream_gate_${memorySinkId.incrementAndGet()}",
        outputMode = "complete")
      .orderBy("source")
  }

  /** q254: streaming MAD anomaly flags ≡ batch q239 — q189's labor
    * split applied to the robust control chart: the STREAM owns the
    * watermarked 1-day tumbling counts per event type (the only
    * corpus-sized state, bounded by watermark retention; the flush
    * sentinel closes every real day, its own '__flush' day never
    * emits), and the median/MAD epilogue
    * ([[graft.operators.Temporal.madFlags]] — integer-exact doubled
    * scales, rank-crossing medians) runs over the finalized
    * (type, day) emissions, a metadata-sized series forever. Gated on
    * q239's oracle verbatim: stream == batch == DuckDB.
    */
  private val q254 = GraftQuery(
    "q254_stream_mad_anomaly",
    graft.operators.Temporal.madOracleSql) { (s, d) =>
    val dc = runGated(s, d)(ev => ev
      .withWatermark("ts", EventStreams.Watermark)
      .groupBy(col("event_type"), window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"), col("w.start").cast("date").as("day"),
        col("cnt")))
    // the MAD epilogue self-joins its input, and the memory-sink view is
    // not a multi-instance relation (the analyzer cannot dedup its
    // attributes across join sides) — re-root the finalized metadata-
    // sized series under fresh attribute ids first
    graft.operators.Temporal.madFlags(
      s.createDataFrame(dc.rdd, dc.schema))
  }

  /** q256: STREAMING per-document repetition metrics ≡ batch q246 —
    * the per-doc quality signals computed AT INGEST with ZERO state and
    * ZERO shuffle: a document's bigram statistics depend only on its own
    * text, so the streaming form is a pure per-row fold — bigram hashes
    * (the registered `poly_hash` kernel inside a higher-order lambda),
    * sorted so equal hashes are adjacent, then one `aggregate` pass
    * counting the longest run (= the hottest bigram's count) and
    * distinct via `array_distinct`. This is the map-only plan a 100 TB
    * ingest actually wants for per-doc metrics (the batch q246's
    * (doc, hash)-grain aggregate exists for when the grain must be
    * queryable); the gate pins the two formulations equal on q246's
    * oracle verbatim.
    */
  private val q256 = GraftQuery(
    "q256_stream_repetition",
    graft.operators.CorpusStats.repetitionOracleSql) { (s, d) =>
    val out = EventStreams.readDocuments(s, d)
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("ts"))
      .where(size(col("ts")) >= 2)
      .select(col("doc_id"), expr(
        """sort_array(transform(sequence(1, size(ts) - 1),
          |  i -> poly_hash(concat_ws(' ', element_at(ts, i),
          |                 element_at(ts, i + 1)))))""".stripMargin)
        .as("hs"))
      .select(col("doc_id"),
        size(col("hs")).cast("long").as("n_bigrams"),
        expr("CAST(size(array_distinct(hs)) AS BIGINT)").as("n_distinct"),
        expr(
          """aggregate(hs,
            |  named_struct('prev', CAST(NULL AS BIGINT),
            |               'run', 0L, 'best', 0L),
            |  (acc, x) -> named_struct(
            |    'prev', x,
            |    'run', IF(acc.prev IS NOT NULL AND x = acc.prev,
            |              acc.run + 1L, 1L),
            |    'best', GREATEST(acc.best,
            |              IF(acc.prev IS NOT NULL AND x = acc.prev,
            |                 acc.run + 1L, 1L))),
            |  acc -> acc.best)""".stripMargin).as("top_cnt"))
      .withColumn("top_ppm", expr("(top_cnt * 1000000) div n_bigrams"))
      .withColumn("rep_ppm",
        expr("((n_bigrams - n_distinct) * 1000000) div n_bigrams"))
    EventStreams.runToMemory(s, out,
        s"stream_gate_${memorySinkId.incrementAndGet()}")
      .orderBy("doc_id")
  }

  /** q258: STREAMING embedding-dimension drift ≡ batch q245 — the
    * monitoring table maintained ONLINE (q163/q251's Complete-mode
    * discipline): the stream keeps the per-dimension (n, Σqm) pairs for
    * both batches — 64 rows of bounded state no matter the vector
    * volume — and the exact cross-multiplied drift decision is a per-row
    * projection that runs inside the streaming plan unchanged
    * ([[graft.operators.Similarity.dimDriftOf]], shared verbatim with
    * batch). Gated on q245's oracle: stream == batch == DuckDB.
    */
  private val q258 = GraftQuery(
    "q258_stream_dim_drift",
    graft.operators.Similarity.dimDriftOracleSql) { (s, d) =>
    val drift =
      graft.operators.Similarity.dimDriftOf(EventStreams.readEmbeddings(s, d))
    EventStreams.runToMemory(s, drift,
        s"stream_gate_${memorySinkId.incrementAndGet()}",
        outputMode = "complete")
      .orderBy("dim")
  }

  /** q263: streaming FIFO matching ≡ batch q262 — per-user
    * supply/demand/matched/unmatched/age totals maintained online
    * ([[EventStreams.fifoTotalsRows]]: the retained state is the
    * watermark-ordering buffer plus the single non-empty unmatched lot
    * queue — the user's open imbalance, not their history), one final
    * row per user on event-time timeout. This is the exactly-once
    * metered-billing/cost-basis stream; gated on q262's oracle verbatim:
    * stream == batch == DuckDB. The sentinel's group has no qualifying
    * rows and emits nothing; the `user_id >= 0` guard is defensive.
    */
  private val q263 = GraftQuery(
    "q263_stream_fifo_match",
    graft.operators.Temporal.fifoOracleSql) { (s, d) =>
    runGated(s, d)(EventStreams.fifoTotalsRows(_)
        .toDF("user_id", "supply_units", "demand_units", "matched_units",
          "unmatched_demand", "age_unit_seconds"))
      .where(col("user_id") >= 0)
      .orderBy("user_id")
  }

  /** q267: streaming CUSUM changepoint monitor ≡ batch q266 — q254's
    * labor split applied to the changepoint estimator: the stream owns
    * the watermarked 1-day tumbling counts per type (bounded state, the
    * day windows), and the integer-exact CUSUM epilogue — factored to
    * [[graft.operators.Temporal.cusumOf]], shared verbatim with batch —
    * runs on the finalized metadata-sized series. Window starts are
    * midnight UTC, so `unix_micros(start) div 86400000000` IS the batch
    * side's epoch day. The epilogue self-joins its input, so the
    * memory-sink view is re-rooted under fresh attribute ids first
    * (q254's analyzer note). The sentinel's own day window never closes
    * and is never emitted. Gated on q266's oracle verbatim: stream ==
    * batch == DuckDB.
    */
  private val q267 = GraftQuery(
    "q267_stream_cusum",
    graft.operators.Temporal.cusumOracleSql) { (s, d) =>
    val dc = runGated(s, d)(ev => ev
      .withWatermark("ts", EventStreams.Watermark)
      .groupBy(col("event_type"), window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"),
        expr("unix_micros(w.start) div 86400000000").as("day"),
        col("cnt").as("x")))
    graft.operators.Temporal.cusumOf(
      s.createDataFrame(dc.rdd, dc.schema))
  }

  /** q271: streaming position-based attribution ≡ batch q269 — the
    * real-time multi-touch credit feed
    * ([[EventStreams.positionCreditRows]]: purchases finalize the moment
    * the watermark proves their touch set complete; state is the 24h
    * lookback window per user, the attribution system's inherent state).
    * The per-type rollup runs over the emitted credits; gated on q269's
    * oracle verbatim: stream == batch == DuckDB, including the exact
    * credit-conservation invariant (Σ = 10⁶ × purchases-with-touches).
    */
  private val q271 = GraftQuery(
    "q271_stream_attribution",
    graft.operators.Temporal.positionAttributionOracleSql) { (s, d) =>
    val credits = runGated(s, d)(
      EventStreams.positionCreditRows(_).toDF("touch_type", "ppm"))
    credits.groupBy("touch_type")
      .agg(count(lit(1)).as("n_credits"), sum(col("ppm")).as("credit_ppm"))
      .orderBy("touch_type")
  }

  /** q284: STREAMING compaction-plan maintenance ≡ batch q281 — the
    * small-files group manifest built AT INGEST
    * ([[EventStreams.compactionGroupRows]]: per-source state is the
    * watermark-ordering buffer plus one open-group accumulator; a group
    * row emits the moment a later file proves it closed, the open tail
    * emits on event-time timeout with `is_tail = 1`). Event time is the
    * ingest sequence number — the contract that arrival order IS the
    * packing order, which is what an object-store ingest log provides.
    * The staged flush sentinel ([[stagedWithSentinel]]) is one row 3 days
    * of sequence past the last real file under source '__flush' —
    * [[stagedWithFlush]]'s terminal punctuation on the ingest-log axis
    * instead of the event-time axis. Its own group never times out
    * before the query drains and emits nothing (the defensive filter
    * pins it). Gated on q281's oracle verbatim: stream == batch == DuckDB.
    */
  private val q284 = GraftQuery(
    "q284_stream_compaction_plan",
    graft.operators.Pipeline.compactionPlanOracleSql) { (s, d) =>
    val docs = s"$d/documents.parquet"
    val staged = stagedWithSentinel(new java.io.File(docs), "graft_docs_flush") {
      s.read.parquet(docs).orderBy(col("doc_id").desc).limit(1)
        .withColumn("doc_id", col("doc_id") + lit(259200L))
        .withColumn("source", lit("__flush"))
    }
    val schema = graft.Tables.schemaOf(s, docs)
    // +1s so the first file (sequence 0) sits strictly ABOVE the initial
    // watermark — the stateful late-row filter drops rows at/below it
    val files = s.readStream.schema(schema).parquet(staged)
      .select(col("source"), col("doc_id").as("file_id"),
        col("n_chars").as("bytes"),
        timestamp_micros((col("doc_id") + lit(1L)) * lit(1000000L)).as("ts"))
    val groups = EventStreams
      .compactionGroupRows(files, graft.operators.Pipeline.CompactTarget)
      .toDF("source", "grp", "n_files", "group_bytes", "is_tail")
    EventStreams.runToMemory(s, groups,
        s"stream_gate_${memorySinkId.incrementAndGet()}")
      .where(col("source") =!= "__flush")
      .select(col("source"), col("grp"), col("n_files"), col("group_bytes"),
        expr(s"(group_bytes * 1000000) div ${graft.operators.Pipeline.CompactTarget}")
          .as("fill_ppm"),
        col("is_tail"))
      .orderBy("source", "grp")
  }

  /** q290: STREAMING waterfill budget allocation ≡ batch q288 — the
    * q254/q267 labor split applied to mixture budgeting: the ingest
    * stream maintains the per-source capacity rollup ONLINE in Complete
    * mode (bounded state: one row per source regardless of corpus
    * volume, q251's discipline), and the integer-exact waterline
    * election — factored to [[graft.operators.Pipeline.waterfillOf]],
    * shared verbatim with batch — runs on the finalized source-grain
    * table. The epilogue self-joins its input, so the memory-sink view
    * is re-rooted under fresh attribute ids first (q254's analyzer
    * note). Gated on q288's oracle verbatim: stream == batch == DuckDB.
    */
  private val q290 = GraftQuery(
    "q290_stream_waterfill",
    graft.operators.Pipeline.waterfillOracleSql) { (s, d) =>
    val cap = EventStreams.readDocuments(s, d)
      .groupBy("source").agg(sum(col("n_chars")).as("cap"))
    val capT = EventStreams.runToMemory(s, cap,
      s"stream_gate_${memorySinkId.incrementAndGet()}",
      outputMode = "complete")
    graft.operators.Pipeline.waterfillOf(
        s.createDataFrame(capT.rdd, capT.schema))
      .orderBy("source")
  }

  /** q309: STREAMING size-tiered merge policy ≡ batch q303 — LSM
    * maintenance planned AT INGEST (q284's discipline for next-fit,
    * now for STCS): the stream maintains the (source, tier) run
    * count/byte rollup ONLINE in Complete mode — state is one row per
    * (source, size-tier), ≤ sources × ~log(max bytes) regardless of
    * ingest volume, and needs NO watermark or ordering because STCS is
    * commutative by construction (which is exactly why LSM stores can
    * run it at ingest rates where maintaining order is unaffordable).
    * The merge-decision epilogue is
    * [[graft.operators.Pipeline.stcsOf]], shared verbatim with batch.
    * Gated on q303's oracle: stream == batch == DuckDB.
    */
  private val q309 = GraftQuery(
    "q309_stream_size_tiered",
    graft.operators.Pipeline.stcsOracleSql) { (s, d) =>
    val P = graft.operators.Pipeline
    val g = EventStreams.readDocuments(s, d)
      .select(col("source"), col("n_chars").as("bytes"))
      .withColumn("tier", expr(P.log2Tier("bytes", 20)))
      .groupBy("source", "tier")
      .agg(count(lit(1)).as("n_runs"), sum(col("bytes")).as("tier_bytes"))
    val rollup = EventStreams.runToMemory(s, g,
      s"stream_gate_${memorySinkId.incrementAndGet()}",
      outputMode = "complete")
    P.stcsOf(rollup)
  }

  /** q330: STREAMING Neyman allocation ≡ batch q324 — the q290/q309
    * labor split applied to variance-optimal sampling: the ingest stream
    * maintains the per-source moment rollup (n, Σx, Σx²) ONLINE in
    * Complete mode — bounded state, THREE BIGINTs per source regardless
    * of corpus volume, and no watermark because sums are commutative —
    * and the integer-exact Neyman election + variance epilogue
    * ([[graft.operators.Pipeline.neymanOf]], shared verbatim with batch)
    * runs on the finalized source-grain table. This is how a production
    * stats service keeps "where should the next sampling budget go"
    * CURRENT against an ingest firehose without ever re-scanning the
    * corpus. The epilogue self-joins its input, so the memory-sink view
    * is re-rooted under fresh attribute ids first (q254's analyzer
    * note). Gated on q324's oracle verbatim: stream == batch == DuckDB.
    */
  private val q330 = GraftQuery(
    "q330_stream_neyman",
    graft.operators.Pipeline.neymanOracleSql) { (s, d) =>
    val st = EventStreams.readDocuments(s, d)
      .select(col("source"), col("n_chars").cast("long").as("x"))
      .groupBy("source").agg(count(lit(1)).as("nh"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"))
    val stT = EventStreams.runToMemory(s, st,
      s"stream_gate_${memorySinkId.incrementAndGet()}",
      outputMode = "complete")
    graft.operators.Pipeline.neymanOf(
        s.createDataFrame(stT.rdd, stT.schema))
      .orderBy("source")
  }

  /** q300: STREAMING HyperLogLog register maintenance — q141's mergeable
    * distinct-count state kept ONLINE over the document stream, closing
    * the sketch symmetry with q163 (count-min) and q251 (digest): the
    * streaming state IS the register table — one max-rank cell per
    * (source, register), bounded by sources × [[graft.operators
    * .CorpusStats.HllM]], never by stream length or vocabulary size —
    * because HLL registers merge by MAX, which is exactly what a
    * Complete-mode grouped max does per micro-batch. The duplicate
    * words a batch build DISTINCTs away need no dedup state here:
    * max-rank is duplicate-insensitive BY CONSTRUCTION (the property
    * that makes HLL mergeable at all), so the stream plan is entirely
    * stateless until the one bounded aggregate. No watermark (registers
    * only grow; nothing expires). Gated cell-for-cell against the
    * DuckDB register rebuild via the shared
    * [[graft.operators.CorpusStats.hllRegisterOracleSql]] — so q141's
    * estimator, already pinned on this state shape, holds online too.
    */
  private val q300 = GraftQuery(
    "q300_stream_hll_registers",
    graft.operators.CorpusStats.hllRegisterOracleSql) { (s, d) =>
    val Cs = graft.operators.CorpusStats
    val regs = EventStreams.readDocuments(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .select(col("source"), graft.functions.PolyHash.hash(col("w")).as("h"))
      .select(col("source"), pmod(col("h"), lit(Cs.HllM.toLong)).as("reg"),
        expr(Cs.hllRankArith(s"(h div ${Cs.HllM})")).as("rank"))
      .groupBy("source", "reg").agg(max(col("rank")).as("mx"))
    EventStreams.runToMemory(s, regs,
        s"stream_gate_${memorySinkId.incrementAndGet()}",
        outputMode = "complete")
      .select(col("source"), col("reg").cast("long").as("reg"),
        col("mx").cast("long").as("mx"))
      .orderBy("source", "reg")
  }

  /** q336: STREAMING Markov attribution ≡ batch q334 — the q173/q271
    * discipline (per-user timelines finalized by watermark) applied to
    * the removal-effect model: [[EventStreams.journeyTransitions]] emits
    * the exact batch `tr` multiset online (incremental prefix emission —
    * state is a previous-type string plus the disorder buffer, with
    * converted users collapsing to a done flag, never the journey), and
    * the bounded-matrix replay epilogue
    * ([[graft.operators.Temporal.markovOf]], shared verbatim with batch)
    * runs on the finalized transition table. This is how a production
    * attribution service keeps channel credit CURRENT against an event
    * firehose: the corpus-sized, order-sensitive work happens at ingest;
    * the replay only ever sees the ≤(types+2)² matrix. Gated on q334's
    * oracle verbatim: stream == batch == DuckDB.
    */
  private val q336 = GraftQuery(
    "q336_stream_markov",
    graft.operators.Temporal.markovOracleSql) { (s, d) =>
    val tr = runGated(s, d)(ev =>
      EventStreams.journeyTransitions(ev).toDF("src", "dst"))
    graft.operators.Temporal.markovOf(s,
      s.createDataFrame(tr.rdd, tr.schema))
  }

  /** q344: STREAMING time-decay attribution ≡ batch q335 — q173's
    * watermark-finalized-timeline discipline with the 6h-half-life
    * credit fold ([[EventStreams.timeDecayRows]]): every purchase pays
    * its 24h lookback window once its user's timeline is provably
    * final, with the integer weight/floor/remainder arithmetic
    * replicated exactly, so credit CONSERVATION (Σ = 10⁶ per converting
    * purchase) survives the batch→stream move row-for-row. The
    * touch-type rollup runs on the finalized credit table. Gated on
    * q335's oracle verbatim: stream == batch == DuckDB.
    */
  private val q344 = GraftQuery(
    "q344_stream_time_decay",
    graft.operators.Temporal.timeDecayOracleSql) { (s, d) =>
    val credits = runGated(s, d)(ev =>
      EventStreams.timeDecayRows(ev).toDF("touch_type", "ppm"))
    credits.groupBy("touch_type")
      .agg(count(lit(1)).as("n_credits"), sum(col("ppm")).as("credit_ppm"))
      .orderBy("touch_type")
  }

  /** q347: STREAMING KMV bottom-k sketch ≡ batch q346's k-th minimum —
    * the FOURTH online sketch beside count-min q163, digest q251, and
    * HLL q300: state is the [[graft.functions.KmvSketch]] buffer, at
    * most k = 16 longs per source regardless of stream length, kept in
    * Complete mode because bottom-k merges by union-then-take-k (the
    * KMV property — both the estimate AND the uniform vocabulary sample
    * survive merge). Needs NO stream-side dedup: an evicted value is ≥
    * every later buffer max, so duplicates are either still in the
    * buffer (skipped) or irrelevant — the same duplicate-insensitivity
    * argument as q300's max-rank registers. Gated on the k-th minimum
    * and estimate via [[graft.operators.CorpusStats.kmvServeOracleSql]]
    * (the exact-distinct audit columns stay batch-side — they are the
    * one part of q346 that is not bounded-state online work).
    */
  private val q347 = GraftQuery(
    "q347_stream_kmv",
    graft.operators.CorpusStats.kmvServeOracleSql) { (s, d) =>
    val Cs = graft.operators.CorpusStats
    val kmv = udaf(new graft.functions.KmvSketch(Cs.KmvK),
      org.apache.spark.sql.Encoders.scalaLong)
    val st = EventStreams.readDocuments(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .select(col("source"), graft.functions.PolyHash.hash(col("w")).as("h"))
      .groupBy("source").agg(kmv(col("h")).as("bk"))
    EventStreams.runToMemory(s, st,
        s"stream_gate_${memorySinkId.incrementAndGet()}",
        outputMode = "complete")
      .where(size(col("bk")) >= Cs.KmvK)
      .select(col("source"),
        element_at(col("bk"), Cs.KmvK).cast("long").as("hk"))
      .withColumn("kmv_est",
        expr(s"${(Cs.KmvK - 1) * 1000000007L} div hk"))
      .orderBy("source")
  }

  /** q349: STREAMING cluster-label NMI ≡ batch q348 — the index-quality
    * monitor kept CURRENT against the embedding-ingestion stream:
    * arriving vectors are assigned to the FROZEN trained cells map-side
    * ([[graft.operators.Similarity.frozenAssign]], q109's discipline),
    * labels ride a stateless stream-static join, and the ONLY stateful
    * operator is the Complete-mode (cell × label) contingency — state
    * is ≤ k × labels counters regardless of stream length. The
    * marginal/entropy/NMI epilogue
    * ([[graft.operators.Similarity.nmiOf]], shared verbatim with batch)
    * runs on the finalized bounded table. Gated on q348's oracle:
    * stream == batch == DuckDB.
    */
  private val q349 = GraftQuery(
    "q349_stream_cluster_nmi",
    graft.operators.Similarity.nmiOracleSql) { (s, d) =>
    val Sim = graft.operators.Similarity
    val assigned = Sim.frozenAssign(s, d,
      EventStreams.readEmbeddings(s, d).select("vec_id", "embedding"))
    val lab = graft.Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val xy = assigned.join(lab, "vec_id")
      .select(col("cell").cast("long").as("cell"), col("label"))
      .groupBy("cell", "label").agg(count(lit(1)).as("nxy"))
    val fin = EventStreams.runToMemory(s, xy,
      s"stream_gate_${memorySinkId.incrementAndGet()}",
      outputMode = "complete")
    Sim.nmiOf(s, fin.select("cell", "label", "nxy"))
  }

  /** q350: STREAMING Shapley attribution ≡ batch q338 — the last member
    * of the attribution family's batch+stream symmetry (q172/q173 last
    * touch, q335/q344 time decay, q334/q336 Markov, q338/q350 Shapley):
    * [[EventStreams.shapleyMaskRows]] collapses each journey to its
    * (channel-set mask, converted) row ONLINE with incremental
    * watermark-prefix state (one long + flags + the disorder buffer),
    * and the subset-lattice epilogue
    * ([[graft.operators.Temporal.shapleyOf]], shared verbatim) runs on
    * the finalized ≤16-cell game. Gated on q338's oracle: stream ==
    * batch == DuckDB, efficiency axiom included.
    */
  private val q350 = GraftQuery(
    "q350_stream_shapley",
    graft.operators.Temporal.shapleyOracleSql) { (s, d) =>
    val mk = runGated(s, d)(ev =>
      EventStreams.shapleyMaskRows(ev).toDF("mask", "conv"))
    val cells = mk.groupBy("mask").agg(sum(col("conv")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    graft.operators.Temporal.shapleyOf(s, cells)
  }

  val queries: Seq[GraftQuery] =
    Seq(q47, q48, q49, q55, q60, q73, q74, q75, q80, q98, q109, q111, q121,
      q148, q149, q163, q173, q189, q205, q217, q221, q244, q250, q251,
      q254, q256, q258, q263, q267, q271, q284, q290, q300, q309, q330,
      q336, q344, q347, q349, q350, q363, q371, q388, q394, q397, q400,
      q401)
}
