package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming twins of the batch temporal operators (q18-q21,
  * graft.operators.Temporal) over a file-source stream of the `events`
  * table — SURVEY §2 Table B "Streaming".
  *
  * Design: `readStream` on the parquet directory (file sources replay
  * deterministically and scale to object-store listings), a watermark
  * bounds state, and the same window/session/dedup transforms as the
  * batch twins — so batch and streaming results agree on closed windows.
  * All aggregations here are watermark-bounded, so state is evictable and
  * the queries run indefinitely without unbounded memory at scale.
  *
  * `ts` in events.parquet is TIMESTAMP(NANOS); as in [[graft.Tables]],
  * nanos are read as raw longs and floored to micros so the streaming and
  * batch paths share one timestamp semantics.
  */
object EventStreams {

  /** Stage a single parquet FILE as a directory a file-stream source will
    * accept (shared by every table's streaming reader; at scale tables
    * are directories already and this is a no-op). The staging lives in
    * the driver scratch dir (`SparkFiles.getRootDirectory`), which Spark
    * deletes at context stop without following the link.
    *
    * STALENESS CONTRACT (the class behind the r15 flush-gate bug): this
    * staging is keyed on the source PATH only, which is safe if and only
    * if the staged entry is a SYMLINK TO THAT INVARIANT PATH — an
    * in-place rewrite of the file then flows through the link
    * transparently (EventStreamsSpec pins exactly that: regenerate the
    * source in place, the stream sees the new rows). Anything that
    * breaks path-transparency inherits the silent-empty-stream failure:
    * copying the file, resolving the symlink to a versioned target, or
    * keying consumers on the first-read content. If this staging ever
    * needs to materialize content, switch the key to part-file identity
    * + footer hash like [[StreamingQueries.stagedWithSentinel]] does.
    */
  private def stageAsDir(src: java.io.File, prefix: String): String =
    if (!src.isFile) src.getPath
    else {
      // staging dir keyed by a fixed-length digest of the full path:
      // collision-free (unlike a 32-bit hash) and immune to filesystem
      // filename-length limits (unlike embedding the path itself)
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(src.getAbsolutePath.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val staged = new java.io.File(org.apache.spark.SparkFiles.getRootDirectory(),
        s"${prefix}_$digest")
      staged.mkdirs()
      val link = new java.io.File(staged, src.getName)
      // NOFOLLOW existence check so a pre-existing symlink (even one
      // whose target was temporarily missing) is detected as present;
      // its target path is invariant for this staging key, so keeping
      // it is always correct
      if (!java.nio.file.Files.exists(link.toPath,
          java.nio.file.LinkOption.NOFOLLOW_LINKS))
        java.nio.file.Files.createSymbolicLink(
          link.toPath, src.toPath.toAbsolutePath)
      staged.getPath
    }

  /** Streaming read of table `name` with its batch schema
    * ([[graft.Tables.schemaOf]]; file streams require one). File-stream
    * sources must point at a DIRECTORY (FileStreamSource injects a
    * basePath for bare files, then rejects it), so a single-file table,
    * as in the local testdata, is staged behind a symlink directory.
    */
  private def readTable(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.readStream.schema(graft.Tables.schemaOf(spark, path))
      .parquet(stageAsDir(new java.io.File(path), s"graft_$name"))
  }

  /** Streaming read of events, `ts` normalized as in [[graft.Tables.events]]. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.Tables.normalizeEventTs(readTable(spark, dir, "events"))
  }

  /** Streaming read of the documents table — the corpus-INGESTION stream
    * (new shards arriving as files), as opposed to [[readEvents]]'
    * temporal stream: no timestamps, no watermark; consumers are
    * stateless map/anti-join ingest transforms (q98).
    */
  def readDocuments(spark: SparkSession, dir: String): DataFrame =
    readTable(spark, dir, "documents")

  /** Streaming read of the orders table — the trade-LEDGER stream
    * (arriving order files), [[readDocuments]]' finance-side twin: no
    * timestamps beyond the order date, no watermark; consumers are
    * per-account complete-mode aggregations (q394).
    */
  def readOrders(spark: SparkSession, dir: String): DataFrame =
    readTable(spark, dir, "orders")

  /** Streaming read of the lineitem table — the trade-line LEDGER stream
    * ([[readOrders]]' line-grain sibling): arriving fill/return lines for
    * the lot-accounting family (q400); no timestamps beyond the ship
    * date, no watermark — ledger feeds are SEQUENCED at the source (an
    * exchange/custodian feed delivers per-account trades in ledger
    * order), which is the in-order ingest contract [[ledgerPnlRows]]
    * states.
    */
  def readLineitem(spark: SparkSession, dir: String): DataFrame =
    readTable(spark, dir, "lineitem")

  /** Streaming read of the embeddings table — the index-MAINTENANCE
    * stream (newly embedded shards arriving as files); consumers are the
    * stateless frozen-codebook assign+encode (q109), [[readDocuments]]'
    * vector-side twin.
    */
  def readEmbeddings(spark: SparkSession, dir: String): DataFrame =
    readTable(spark, dir, "embeddings")

  /** The watermark delay of every twin here but q55's interval join. */
  private[streaming] val Watermark = "10 minutes"

  /** Tumbling 1-hour windows per event type (streaming q18). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", Watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("n"), col("sum_value"))

  /** Sliding 1-hour/15-minute windows (streaming q19). */
  def slidingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", Watermark)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(unix_millis(col("window.start")).as("window_start_ms"),
        col("n"), col("sum_value"))

  /** Per-user session windows with a 10-minute gap (streaming q20). */
  def sessionCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", Watermark)
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("session_start_ms"),
        col("n"), col("sum_value"))

  /** Stateful keyed dedup bounded by the watermark (streaming q21):
    * first event per (user_id, event_type) with state eviction once the
    * watermark passes — the unbounded-state-safe form of dropDuplicates.
    */
  def dedupedEvents(events: DataFrame): DataFrame =
    events.withWatermark("ts", Watermark)
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select("user_id", "event_type", "event_id", "ts")

  /** Stream-stream interval join: each view joined to the same user's
    * clicks within 6 hours after it (click attribution). The watermark is
    * applied BEFORE the type split so both join branches share the source
    * watermark, and the two-sided time bound lets Spark evict join state
    * once the watermark passes — bounded state on an infinite stream.
    * Inner-join matches emit in the batch both rows arrive in; the
    * watermark only governs eviction.
    *
    * With `joinType = "leftOuter"` the eviction point itself becomes an
    * emission: a view whose state the watermark retires WITHOUT ever
    * matching a click is emitted once with a NULL click side — the
    * "views that never converted" stream, which only exists because
    * state eviction proves no future click can match. Inner joins never
    * touch that code path.
    *
    * `flushType` is the outer-gate analog of [[segmentRevenue]]'s
    * '__flush' filter: a watermark operator only sees rows that survive
    * the filters Catalyst pushes BELOW it, so for a flush sentinel to advance
    * the watermark it must pass BOTH branches' event-type filters (the
    * self-join has two watermark nodes and the global watermark is their
    * min — one stuck side stalls eviction and the final null rows never
    * flush). The sentinel's self-match is killed in the JOIN CONDITION by
    * `view_id =!= click_id` (event ids are globally unique, so real pairs
    * always satisfy it): an inequality across BOTH sides is the one
    * predicate shape neither pushdown nor equivalence-constraint
    * inference can move below a watermark node. The sentinel view itself
    * is never emitted — the watermark never passes its own window, the
    * same invariant every flush-gated query relies on.
    */
  def attributedClicks(events: DataFrame,
      watermark: String = Watermark, joinType: String = "inner",
      flushType: Option[String] = None): DataFrame = {
    val wm = events.withWatermark("ts", watermark)
    def keep(t: String) = flushType
      .map(f => col("event_type").isin(t, f))
      .getOrElse(col("event_type") === t)
    val views = wm.where(keep("view"))
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
    val clicks = wm.where(keep("click"))
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
    val guard = if (flushType.isDefined) col("view_id") =!= col("click_id")
      else lit(true)
    views.join(clicks,
      col("v_user") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 6 hours") && guard, joinType)
      .select(col("v_user").as("user_id"), col("view_id"), col("click_id"),
        unix_millis(col("v_ts")).as("view_ts_ms"),
        unix_millis(col("c_ts")).as("click_ts_ms"))
  }

  /** Stream-static enrichment join: purchase events joined to the static
    * customer dimension (broadcast — it is a dim-table lookup, not stream
    * state), then watermark-bounded tumbling revenue per market segment.
    * The stream-static join is STATELESS per micro-batch: only the
    * downstream aggregation holds state, and the watermark bounds it, so
    * the operator runs indefinitely at scale while the dimension rides
    * along as a broadcast that AQE would re-plan to shuffle if it grew.
    *
    * The event-type filter keeps '__flush' beside purchases so the
    * flush-sentinel row can reach the watermark operator and close the
    * final windows; it dies at the inner join (sentinel user_id = -1
    * matches no customer) before touching state.
    */
  def segmentRevenue(events: DataFrame, customers: DataFrame): DataFrame =
    events.withWatermark("ts", Watermark)
      .where(col("event_type").isin("purchase", "__flush"))
      .join(broadcast(customers.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") + 1 === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(unix_millis(col("window.start")).as("window_start_ms"),
        col("c_mktsegment").as("mktsegment"), col("n"), col("sum_value"))

  /** Per-user value-milestone alerts via `flatMapGroupsWithState` — the
    * zero-or-more-outputs custom-state surface. Emits one row per
    * `stepCents` of cumulative value a user crosses in the batch —
    * between crossings a group emits NOTHING, which `mapGroupsWithState`
    * cannot express. State per user is one running long: bounded and
    * evictable by timeout in production.
    *
    * Accumulation is in INTEGER CENTS (`round(value·100)` — exact for
    * 2-decimal money values, and a binary double can never land exactly
    * on the .5 rounding boundary from one), so the running total — and
    * therefore which milestones fire — is independent of row order,
    * micro-batch boundaries, and float summation error: the property
    * that lets q75 hash-gate this operator against a batch oracle. A
    * double running sum would flake exactly at the floor boundaries the
    * milestones are defined by.
    */
  def valueMilestones(events: DataFrame,
      stepCents: Long = 100000L): org.apache.spark.sql.Dataset[(Long, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      // state = (running total, highest milestone already emitted): the
      // high-water mark makes emission exactly-once per (user, milestone)
      // even if a negative correction drops the total below a previously
      // crossed threshold and a later batch re-crosses it
      .flatMapGroupsWithState[(Long, Long), (Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Long)]) =>
          val (before, emitted) = state.getOption.getOrElse((0L, 0L))
          val after = before + rows.map(_._2).sum
          val lastMilestone = math.max(after / stepCents, emitted)
          state.update((after, lastMilestone))
          ((emitted + 1) to lastMilestone).iterator.map(m => (uid, m))
      }
  }

  /** The one event-time finality rule of the keyed twin folds (the
    * watermark model of Structured Streaming): a key's answer is emitted
    * only once the watermark proves no admissible future row can change
    * it. `rows` carry the event-time column `ts`, watermarked here by
    * [[Watermark]]; each fold supplies only what is its own — the key, a
    * per-row horizon in ms (the latest event time at which a later row
    * could still change the key's answer), the `empty` state, a `close`
    * run once when the key is final, and a per-batch `step` over (key,
    * state, the batch's rows, watermark ms) that may emit a prefix the
    * watermark has already made final.
    *
    * The state is (fold state, max horizon seen). After each batch the
    * key's timeout is `max(horizon + 10 ms, watermark + 1 ms)`: it fires
    * once the watermark passes every horizon the key has seen (the clamp
    * covers a key whose horizon is already behind the watermark — its
    * answer is equally final then), and the timed-out key is closed,
    * emitted and evicted. The flush sentinel (see [[StreamingQueries]])
    * advances the watermark past every real key's horizon at replay end
    * while its own key never times out (the watermark stays one delay
    * behind its event), which is how a drained flush-gated twin such as
    * q148 emits exactly the batch answer.
    */
  private def finalizedByWatermark[K, R, S, O](rows: Dataset[R])(
      key: R => K, horizonMs: R => Long, empty: S)(
      close: (K, S) => Iterator[O])(
      step: (K, S, Seq[R], Long) => (S, Iterator[O]))(
      implicit kEnc: Encoder[K], sEnc: Encoder[(S, Long)], oEnc: Encoder[O])
      : Dataset[O] =
    rows.withWatermark("ts", Watermark)
      .groupByKey(key)
      .flatMapGroupsWithState[(S, Long), O](OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (k: K, batch: Iterator[R], state: GroupState[(S, Long)]) =>
          if (state.hasTimedOut) {
            val (s, _) = state.get
            state.remove()
            close(k, s)
          } else {
            val rs = batch.toSeq
            val (s0, h0) = state.getOption.getOrElse((empty, Long.MinValue))
            val wm = state.getCurrentWatermarkMs()
            val (s, out) = step(k, s0, rs, wm)
            val h = math.max(h0, rs.iterator.map(horizonMs).max)
            state.update((s, h))
            state.setTimeoutTimestamp(math.max(h + 10L, wm + 1L))
            out
          }
      }

  /** One per-user timeline row: (t µs, event_id, event_type). */
  private type Touch = (Long, Long, String)

  /** [[finalizedByWatermark]] over each user's event timeline, the
    * projection seven twins share. A user's horizon is their last event
    * plus `windowUs`, how far past it a later event can still change the
    * answer.
    */
  private def timelineFold[S, O](events: DataFrame, windowUs: Long, empty: S)(
      close: (Long, S) => Iterator[O])(
      step: (S, Seq[Touch], Long) => (S, Iterator[O]))(
      implicit sEnc: Encoder[(S, Long)], oEnc: Encoder[O]): Dataset[O] = {
    val spark = events.sparkSession
    import spark.implicits._
    finalizedByWatermark(events
        .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("t"),
          col("event_id"), col("event_type"))
        .as[(Long, java.sql.Timestamp, Long, Long, String)])(
      _._1, _._3 / 1000L + windowUs / 1000L, empty)(close) {
      (_, s, rs, wm) => step(s, rs.map(r => (r._3, r._4, r._5)), wm)
    }
  }

  /** The q126 funnel as a watermark-finalized streaming fold
    * ([[finalizedByWatermark]]) — the principled streaming funnel: greedy
    * first-match progress is NOT monotone under event-time disorder (an
    * earlier-arriving-later event can both raise and lower the final
    * step), so an append stream may only emit a user's `steps_reached`
    * once it is PROVABLY final. The horizon is `max(event ts) + window`:
    * past it no admissible future event can qualify for any step (every
    * step match requires `ts <= last_match + window`, and the first
    * signup is fixed), so the group folds its buffered history
    * ([[foldFunnel]]), emits, and drops state.
    *
    * State per user is the funnel-RELEVANT event list (four types only)
    * — the same per-user payload bound as the batch collect_list; users
    * whose events are all non-funnel types still hold an empty buffer so
    * they finalize at step 0, exactly like the oracle's DISTINCT-user
    * frame.
    */
  def funnelSteps(events: DataFrame): Dataset[(Long, Int)] = {
    val spark = events.sparkSession
    import spark.implicits._
    timelineFold(events, FunnelWindowUs, Seq.empty[Touch])(
      (uid, buf) => Iterator.single((uid, foldFunnel(buf)))) {
      (buf, rs, _) => (buf ++ rs.filter(r => FunnelTypes(r._3)), Iterator.empty)
    }
  }

  /** The q127 retention cohorts as watermark-finalized custom state
    * ([[finalizedByWatermark]]) on the other non-monotone per-user
    * temporal fold: a user's cohort day is their FIRST-seen day, which
    * late data can only move EARLIER, so emitted (cohort_day,
    * day_offset) rows are provisional until the watermark proves them
    * final. State per user is the active-day set (bounded by days of
    * real activity — far smaller than the event history); at timeout
    * the group emits its (cohort, offset) pairs exactly once. Each
    * user contributes at most one row per pair, so the downstream
    * per-pair `count(*)` IS the batch `count(DISTINCT user_id)` —
    * distinct-count streaming without distinct-count state.
    */
  def retentionRows(events: DataFrame): Dataset[(Int, Int)] = {
    val spark = events.sparkSession
    import spark.implicits._
    finalizedByWatermark(events
        .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("t"))
        .as[(Long, java.sql.Timestamp, Long)])(
      _._1, _._3 / 1000L, Seq.empty[Int]) { (_, days) =>
      val cohort = days.min
      days.sorted.iterator.map(d => (cohort, d - cohort))
    } { (_, days, rs, _) =>
      ((days ++ rs.iterator.map(r => Math.floorDiv(r._3, DayUs).toInt)).distinct,
        Iterator.empty)
    }
  }

  /** q192's interval union as watermark-finalized custom state — each
    * event claims [ts, ts + value minutes-scaled) ms and a user's
    * overlapping claims coalesce into maximal islands. Unlike
    * [[funnelSteps]] (which must buffer the event history because its
    * fold is order-sensitive), interval union is an associative,
    * commutative MERGE — so the state is the merged island set itself:
    * each arriving interval absorbs every island it overlaps-or-touches
    * (min start, max end, summed count) in one pass. State per user is
    * bounded by the user's ISLAND count, not their event count — the
    * 100 TB distinction, since a hot user's thousand overlapping events
    * collapse to one (start, end, n) triple. The incremental merge
    * yields exactly the batch sweep's partition: both compute the
    * connected components of the overlap-or-touch relation (the sweep
    * discovers them in sorted order, the merge discovers them
    * arrival-incrementally; components are order-free). Emission waits
    * for [[finalizedByWatermark]]'s timeout past the user's horizon (the
    * latest island end, in ms) — a future admissible event (ts ≥
    * watermark − delay) could still extend or BRIDGE islands whose end
    * lies ahead of the watermark, so per-user finalization is the
    * earliest sound emission.
    */
  def intervalIslands(events: DataFrame): Dataset[(Long, Long, Long, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    finalizedByWatermark(events
        .select(col("user_id"), col("ts"), unix_millis(col("ts")).as("s_ms"),
          (unix_millis(col("ts"))
            + round(col("value") * 60000).cast("long")).as("e_ms"))
        .as[(Long, java.sql.Timestamp, Long, Long)])(
      _._1, r => math.max(r._3, r._4), Seq.empty[(Long, Long, Long)]) {
      (uid, islands) => islands.sortBy(i => (i._1, i._2)).iterator
        .map(i => (uid, i._1, i._2, i._3))
    } { (_, isl, rs, _) =>
      (rs.foldLeft(isl) { case (acc, (_, _, s, e)) => mergeInterval(acc, s, e) },
        Iterator.empty)
    }
  }

  /** q241's session 3-gram paths as watermark-finalized custom state —
    * the streaming side of the "top user flows" report. Per user the
    * state buffers (t_us, event_id, event_type) rows, and sessions
    * (6-hour inactivity gap, q241's
    * constant) are finalized INCREMENTALLY: on every batch, any session
    * whose last event sits more than the gap behind the watermark is
    * provably complete — no future event can extend it (anything new
    * has ts ≥ watermark > last + gap) and no late event can land inside
    * it (that would be beyond-watermark-late, dropped by contract) — so
    * its 3-grams are emitted and its rows EVICTED. State is therefore
    * bounded by the open session tail, not the user's event history
    * (the q205 bounded-state discipline applied to an order-sensitive
    * fold). Path strings null-propagate exactly like the batch side's
    * `concat` (a NULL event_type yields a NULL path, grouped as such).
    * [[finalizedByWatermark]]'s timeout sweeps users whose stream simply
    * ended.
    */
  def sessionPathRows(events: DataFrame): Dataset[String] = {
    val spark = events.sparkSession
    import spark.implicits._
    timelineFold(events, SessionGapUs, Seq.empty[Touch])(
      (_, buf) => sessionTrigrams(buf).iterator) { (buf0, rs, wmMs) =>
      val buf = (buf0 ++ rs).sortBy(r => (r._1, r._2))
      // split the sorted buffer at the last PROVABLY-final session
      // boundary: every session ending > gap before the watermark
      // is closed — emit and evict it, keep the open tail
      val wmUs = wmMs * 1000L
      // sorted buffer ⇒ a session's end is its last row's t, and
      // session ends increase along the buffer, so the LAST session
      // boundary whose preceding end sits > gap behind the watermark
      // cuts off every closed session at once
      var cut = 0
      var i = 1
      while (i < buf.length) {
        if (buf(i)._1 - buf(i - 1)._1 > SessionGapUs &&
            buf(i - 1)._1 + SessionGapUs < wmUs)
          cut = i
        i += 1
      }
      val (closed, open) = buf.splitAt(cut)
      (open, sessionTrigrams(closed).iterator)
    }
  }

  private val SessionGapUs = 21600000000L

  /** Sessionize an already-sorted (t, event_id, event_type) buffer on the
    * 6-hour gap and emit every intra-session 3-gram path — the exact fold
    * the batch q241 runs as window `lead`s. Null event types propagate to
    * a null path (the batch `concat` contract).
    */
  private[streaming] def sessionTrigrams(
      buf: Seq[(Long, Long, String)]): Seq[String] = {
    if (buf.isEmpty) return Seq.empty
    val out = Seq.newBuilder[String]
    var session = List.empty[String]
    def flush(): Unit = {
      val evs = session.reverse.toArray
      var k = 0
      while (k + 2 < evs.length) {
        out += (if (evs(k) == null || evs(k + 1) == null || evs(k + 2) == null)
          null
        else s"${evs(k)}>${evs(k + 1)}>${evs(k + 2)}")
        k += 1
      }
      session = Nil
    }
    var prevT = buf.head._1
    buf.foreach { case (t, _, et) =>
      if (t - prevT > SessionGapUs) flush()
      session ::= et
      prevT = t
    }
    flush()
    out.result()
  }

  /** q191's SCD2 build as watermark-finalized custom state — per-user
    * attribute change intervals from an out-of-order event stream. The
    * fold is ORDER-SENSITIVE (a change row exists only relative to the
    * previous value in (ts, event_id) order, and late data can insert
    * BETWEEN two buffered events, splitting or erasing a change), so
    * unlike [[intervalIslands]] the state must buffer the (t_us,
    * event_id, k) history — q148's payload bound — and the dimension
    * rows are only emittable once the watermark proves the user's
    * history complete ([[finalizedByWatermark]]). At timeout the group
    * sorts once and runs the IDENTICAL change-detect + interval-close
    * logic as the batch lag/lead passes.
    */
  def scd2Intervals(events: DataFrame)
      : Dataset[(Long, Long, Long, Option[Long])] = {
    val spark = events.sparkSession
    import spark.implicits._
    finalizedByWatermark(events
        .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("t"),
          col("event_id"),
          regexp_extract(col("props"), "(\\d+)", 1).cast("long").as("k"))
        .as[(Long, java.sql.Timestamp, Long, Long, Long)])(
      _._1, _._3 / 1000L, Seq.empty[(Long, Long, Long)]) { (uid, buf) =>
      val hist = buf.sortBy(r => (r._1, r._2))
      // change rows: first, or k differs from the previous event
      val changes = hist.iterator.zipWithIndex.collect {
        case ((t, _, k), i) if i == 0 || hist(i - 1)._3 != k => (t, k)
      }.toSeq
      changes.iterator.zipWithIndex.map { case ((t, k), i) =>
        val to = if (i + 1 < changes.size)
          Some(changes(i + 1)._1 / 1000L) else None
        (uid, k, t / 1000L, to)
      }
    } { (_, buf, rs, _) => (buf ++ rs.map(r => (r._3, r._4, r._5)), Iterator.empty) }
  }

  /** One incremental island-merge step: the arriving interval [s, e]
    * absorbs every island it overlaps-or-touches (min start, max end,
    * summed event count). Pure and order-free — folding any permutation
    * of the same intervals yields the same island set (ScaleSpec pins
    * this against the batch sweep), which is what makes it sound as
    * streaming state under event-time disorder.
    */
  private[streaming] def mergeInterval(islands: Seq[(Long, Long, Long)],
      s: Long, e: Long): Seq[(Long, Long, Long)] = {
    val (over, rest) = islands.partition(i => s <= i._2 && i._1 <= e)
    val merged = ((s, e, 1L) +: over).reduce((a, b) =>
      (math.min(a._1, b._1), math.max(a._2, b._2), a._3 + b._3))
    merged +: rest
  }

  private val DayUs = 86400000000L

  private val FunnelTypes = Set("signup", "view", "click", "purchase")
  private val FunnelOrder = Vector("signup", "view", "click", "purchase")
  private val FunnelWindowUs = 86400000000L

  /** q172's last-touch attribution as watermark-finalized custom state
    * ([[finalizedByWatermark]] on a third non-monotone per-user fold):
    * a purchase's attribution depends on the latest PRECEDING event, so
    * late data can rewrite it until the watermark passes — the group
    * buffers its timeline (every type: any event can be the touch) and
    * at timeout replays it in (t, event_id) order tracking
    * the last non-purchase touch, emitting one attribution row per
    * purchase exactly once. Same 1-day window and -1/'none' misses as
    * the batch window plan; gated on the identical oracle.
    */
  def lastTouchRows(events: DataFrame)
      : Dataset[(Long, Long, Long, String, Long, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    // attribution has no forward window: a group is final as soon as the
    // watermark passes its last buffered event
    timelineFold(events, 0L, Seq.empty[Touch]) { (uid, buf) =>
      var lastT = Long.MinValue
      var lastId = -1L
      var lastType = "none"
      val out = Seq.newBuilder[(Long, Long, Long, String, Long, Long)]
      buf.sorted.foreach { case (t, eid, et) =>
        if (et == "purchase") {
          if (lastT != Long.MinValue && t - lastT <= AttributionWindowUs)
            out += ((eid, uid, t, lastType, lastId, t - lastT))
          else out += ((eid, uid, t, "none", -1L, -1L))
        } else {
          lastT = t; lastId = eid; lastType = et
        }
      }
      out.result().iterator
    } { (buf, rs, _) => (buf ++ rs, Iterator.empty) }
  }

  /** Per-user TIME-DECAY attribution credits for the streaming twin
    * (q344) — [[lastTouchRows]]' buffer-until-timeout discipline with
    * q335's credit fold: at watermark timeout the user's timeline is
    * final, and every purchase pays its 24h touch window by the 6-hour
    * half-life weights (w = 8 >> (Δt div 6h)), floor division, and the
    * remainder-to-most-recent rule — the IDENTICAL integer arithmetic
    * as the batch windows, so conservation (Σ = 10⁶ per converting
    * purchase) holds row-for-row. Emits one (touch_type, ppm) row per
    * credit; the source-grain rollup runs on the finalized table.
    */
  def timeDecayRows(events: DataFrame): Dataset[(String, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    // like lastTouchRows: no forward window past the last event — every
    // purchase's 24h LOOKBACK is complete once the watermark passes the
    // timeline
    timelineFold(events, 0L, Seq.empty[Touch]) { (_, timeline) =>
      val buf = timeline.sortBy(r => (r._1, r._2))
      val out = Seq.newBuilder[(String, Long)]
      val purchases = buf.filter(_._3 == "purchase")
      val touches = buf.filter(_._3 != "purchase")
      purchases.foreach { case (pus, _, _) =>
        // touches in the 24h window, batch order (tus, tid); the
        // lower bound is STRICT, matching q335's batch predicate
        // (Δt = exactly 24h would underflow the weight to 0 and a
        // boundary-only purchase would divide by Σw = 0 below)
        val win = touches
          .filter(r => r._1 < pus && r._1 > pus - AttributionWindowUs)
        val k = win.length
        if (k > 0) {
          val ws = win.map(r => 8L >> ((pus - r._1) / 21600000000L))
          val wSum = ws.sum
          val flrs = ws.map(w => 1000000L * w / wSum)
          val fSum = flrs.sum
          win.zipWithIndex.foreach { case ((_, _, ttype), i) =>
            val ppm = flrs(i) +
              (if (i == k - 1) 1000000L - fSum else 0L)
            out += ((ttype, ppm))
          }
        }
      }
      out.result().iterator
    } { (buf, rs, _) => (buf ++ rs, Iterator.empty) }
  }

  /** Per-user (channel-set mask, converted) rows for the streaming
    * Shapley twin (q350) — [[journeyTransitions]]' incremental
    * watermark-prefix discipline applied to q338's journey collapse:
    * every PRE-first-purchase touch ORs its channel bit into the mask
    * (click 1, error 2, signup 4, view 8) as soon as the watermark makes
    * it final, a finalized purchase freezes the journey, and the user's
    * single (mask, conv) row emits at event-time timeout. State is one
    * long + two flags + the disorder buffer — never the journey. Batch
    * parity pin: a journey whose FIRST event is the purchase has no
    * touches and emits NOTHING (q338's u-frame drops it identically) —
    * unattributable conversions belong to no channel in either engine.
    */
  def shapleyMaskRows(events: DataFrame): Dataset[(Long, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    def bitOf(et: String): Long = et match {
      case "click" => 1L
      case "error" => 2L
      case "signup" => 4L
      case "view" => 8L
      case _ => 0L
    }
    def fold(mask0: Long, saw0: Boolean, done0: Boolean,
        finals: Seq[Touch]): (Long, Boolean, Boolean) = {
      var mask = mask0; var saw = saw0; var done = done0
      finals.foreach { case (_, _, et) =>
        if (!done) {
          if (et == "purchase") done = true
          else { mask |= bitOf(et); saw = true }
        }
      }
      (mask, saw, done)
    }
    // state = (disorder buffer, mask, touches seen, done)
    timelineFold(events, 0L, (Seq.empty[Touch], 0L, false, false)) {
      case (_, (buf, mask0, saw0, done0)) =>
        val (mask, saw, done) =
          fold(mask0, saw0, done0, buf.sortBy(r => (r._1, r._2)))
        if (saw) Iterator((mask, if (done) 1L else 0L))
        else Iterator.empty
    } { case ((buf0, mask0, saw0, done0), rs, wmMs) =>
      if (done0) ((Seq.empty[Touch], mask0, saw0, true), Iterator.empty)
      else {
        val (fin, open) = (buf0 ++ rs).sortBy(r => (r._1, r._2))
          .span(_._1 <= wmMs * 1000L)
        val (m, sw, dn) = fold(mask0, saw0, done0, fin)
        ((if (dn) Seq.empty[Touch] else open, m, sw, dn), Iterator.empty)
      }
    }
  }

  /** Per-user journey transitions for the streaming Markov-attribution
    * twin (q336) — the batch q334 `tr` multiset (START → first event,
    * consecutive pairs in (ts, event_id) order, truncation at the FIRST
    * purchase with its own purchase → END row, last → END for
    * non-converters) emitted ONLINE.
    *
    * Unlike [[lastTouchRows]]' buffer-until-timeout, emission here is
    * INCREMENTAL: each micro-batch sorts (carry ++ new rows) and emits
    * every transition in the prefix the watermark has made final — a row
    * with t ≤ watermark can never gain an earlier-sorting sibling — so
    * state is one previous-event-type string plus only the DISORDER
    * buffer (rows still above the watermark), never the journey. A
    * converted user's state collapses to a `done` flag the moment the
    * purchase is final: everything after is dropped on arrival, which is
    * exactly the batch truncation. [[finalizedByWatermark]]'s timeout
    * drains the remaining buffer and closes the journey with its END
    * row; the sentinel's row never enters a final prefix, so it emits
    * nothing.
    */
  def journeyTransitions(events: DataFrame): Dataset[(String, String)] = {
    val spark = events.sparkSession
    import spark.implicits._
    def advance(prev0: String, done0: Boolean,
        finals: Seq[(Long, Long, String)],
        out: scala.collection.mutable.Builder[(String, String), Seq[(String, String)]])
        : (String, Boolean) = {
      var prev = prev0
      var done = done0
      finals.foreach { case (_, _, et) =>
        if (!done) {
          out += ((prev, et))
          prev = et
          if (et == "purchase") { out += (("purchase", "END")); done = true }
        }
      }
      (prev, done)
    }
    // state = (disorder buffer, prev type — "START" before the first
    // emission, done flag — first purchase finalized)
    timelineFold(events, 0L, (Seq.empty[Touch], "START", false)) {
      case (_, (buf, prev0, done0)) =>
        val out = Seq.newBuilder[(String, String)]
        val (prev, done) =
          advance(prev0, done0, buf.sortBy(r => (r._1, r._2)), out)
        // a timed-out group saw ≥1 row, so prev != "START" unless done
        if (!done && prev != "START") out += ((prev, "END"))
        out.result().iterator
    } { case ((buf0, prev0, done0), rs, wmMs) =>
      if (done0) ((Seq.empty[Touch], prev0, true), Iterator.empty)
      else {
        val out = Seq.newBuilder[(String, String)]
        val (fin, open) = (buf0 ++ rs).sortBy(r => (r._1, r._2))
          .span(_._1 <= wmMs * 1000L)
        val (p, dn) = advance(prev0, done0, fin, out)
        ((if (dn) Seq.empty[Touch] else open, p, dn), out.result().iterator)
      }
    }
  }

  /** The batch q126 `aggregate` fold, verbatim, over a buffered history:
    * sort by (ts, event_id), greedy first-match with a 1-day window in
    * integer µs — bit-identical window decisions to both the batch
    * engine and the DuckDB oracle.
    */
  private def foldFunnel(buf: Seq[(Long, Long, String)]): Int = {
    var step = 0
    var t = 0L
    buf.sorted.foreach { case (ts, _, et) =>
      if (step < 4 && et == FunnelOrder(step) &&
          (step == 0 || ts <= t + FunnelWindowUs)) {
        step += 1; t = ts
      }
    }
    step
  }

  /** Run any of the above to completion over the existing files and
    * return the collected result table (availableNow trigger + memory
    * sink — the batch-parity harness used by the smoke tests). The sink
    * gets a fresh name and its temp view is dropped once the returned
    * DataFrame has resolved it, so the sink's rows live only as long as
    * that DataFrame.
    *
    * `spark.sql.shuffle.partitions` = [[StatePartitions]] is set for the
    * stream and restored afterwards. The stateful partition count is a
    * per-query design parameter, not the session's batch setting: each
    * partition owns a state store that commits a delta file every
    * micro-batch, and the count is frozen into the checkpoint at first
    * start, so production jobs pin it. Results do not depend on it (the
    * oracle gate hashes them).
    *
    * Checkpoint and state files start no process on a session that ran
    * [[graft.GraftSession.install]], as the registered queries do.
    */
  def runToMemory(spark: SparkSession, streamed: DataFrame,
      outputMode: String = "append"): DataFrame = {
    val name = s"graft_stream_sink_${sinkId.incrementAndGet()}"
    val prev = spark.conf.getOption(PartitionsKey)
    spark.conf.set(PartitionsKey, StatePartitions.toString)
    try {
      try streamed.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
      finally prev.fold(spark.conf.unset(PartitionsKey))(spark.conf.set(PartitionsKey, _))
      spark.table(name)
    } finally spark.catalog.dropTempView(name)
  }

  /** q262's FIFO matching maintained ONLINE — per user, `purchase` rows
    * supply integer cent-units and `click` rows consume them FIFO; the
    * state is (a) the watermark-ordering buffer (rows not yet provably
    * in final FIFO order) and (b) the UNMATCHED lot queue — and because
    * FIFO matching always drains one side, at most one of the supply /
    * demand queues is non-empty at any time, so the retained state is
    * exactly the user's open imbalance (the customer's credit balance in
    * the billing reading), not their event history. Rows are folded once
    * their whole SECOND sits behind the watermark (the batch FIFO order
    * key is (sec, event_id); folding whole seconds atomically preserves
    * the event_id tiebreak — a sub-second reorder across the watermark
    * boundary is beyond-late by the watermark contract, same as every
    * twin here). One final totals row per user emits on event-time
    * timeout: supply/demand/matched/unmatched units + matched age in
    * unit-seconds — q262's exact output, so the batch oracle gates the
    * stream verbatim. Non-qualifying rows (other types, value ≤ 0, the
    * '__flush' sentinel) advance event time but carry no units; a user
    * with no qualifying rows emits nothing (the sentinel's own group
    * among them).
    */
  def fifoTotalsRows(events: DataFrame)
      : Dataset[(Long, Long, Long, Long, Long, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    // state: (buffer rows (sec, event_id, isSupply 1/0, units),
    //         unmatched supply lots (units, sec), unmatched demand lots,
    //         totals [nRows, supTot, demTot, matched, age])
    finalizedByWatermark(events
        .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("t"),
          col("event_id"),
          when(col("event_type") === "purchase" && col("value") > 0, 1L)
            .when(col("event_type") === "click" && col("value") > 0, 0L)
            .otherwise(-1L).as("side"),
          coalesce(floor(col("value") * 100 + 0.5).cast("long"), lit(0L))
            .as("units"))
        .as[(Long, java.sql.Timestamp, Long, Long, Long, Long)])(
      _._1, _._3 / 1000L,
      (Seq.empty[(Long, Long, Long, Long)], Seq.empty[(Long, Long)],
        Seq.empty[(Long, Long)], Seq(0L, 0L, 0L, 0L, 0L))) {
      case (uid, (buf, supQ, demQ, tot)) =>
        // everything buffered is behind the watermark now — fold it
        val (_, _, t2) = fifoFold(buf.sortBy(r => (r._1, r._2)),
          supQ, demQ, tot)
        if (t2(0) == 0L) Iterator.empty
        else Iterator((uid, t2(1), t2(2), t2(3), t2(2) - t2(3), t2(4)))
    } { case (_, (buf0, supQ0, demQ0, tot0), rs, wmMs) =>
      val buf = (buf0 ++ rs.filter(_._5 >= 0).map(r =>
        (r._3 / 1000000L, r._4, r._5, r._6)))
        .sortBy(r => (r._1, r._2))
      val (closed, open) = buf.partition(_._1 < wmMs / 1000L)
      val (supQ, demQ, tot) = fifoFold(closed, supQ0, demQ0, tot0)
      ((open, supQ, demQ, tot), Iterator.empty)
    }
  }

  /** Fold FIFO-ordered (sec, event_id, isSupply, units) rows into the
    * lot queues + running totals — the sequential matcher whose
    * set-at-a-time equivalent is batch q262's cumulative-interval
    * overlap join. Totals layout: [nRows, supTot, demTot, matched, age].
    */
  private[streaming] def fifoFold(
      rows: Seq[(Long, Long, Long, Long)],
      supQ0: Seq[(Long, Long)], demQ0: Seq[(Long, Long)], tot0: Seq[Long])
      : (Seq[(Long, Long)], Seq[(Long, Long)], Seq[Long]) = {
    var supQ = scala.collection.immutable.Queue(supQ0: _*)
    var demQ = scala.collection.immutable.Queue(demQ0: _*)
    var nRows = tot0(0); var supTot = tot0(1); var demTot = tot0(2)
    var matched = tot0(3); var age = tot0(4)
    rows.foreach { case (sec, _, side, units) =>
      nRows += 1L
      var u = units
      if (side == 1L) {
        supTot += units
        while (u > 0L && demQ.nonEmpty) {
          val ((du, dsec), rest) = demQ.dequeue
          val m = math.min(u, du)
          matched += m; age += m * (dsec - sec); u -= m
          demQ = if (du - m > 0L) (du - m, dsec) +: rest else rest
        }
        if (u > 0L) supQ = supQ.enqueue((u, sec))
      } else {
        demTot += units
        while (u > 0L && supQ.nonEmpty) {
          val ((su, ssec), rest) = supQ.dequeue
          val m = math.min(u, su)
          matched += m; age += m * (sec - ssec); u -= m
          supQ = if (su - m > 0L) (su - m, ssec) +: rest else rest
        }
        if (u > 0L) demQ = demQ.enqueue((u, sec))
      }
    }
    (supQ, demQ, Seq(nRows, supTot, demTot, matched, age))
  }

  /** q393's FIFO cost-basis P&L maintained ONLINE — the lot-accounting
    * stream that completes the reference-ecosystem arc (detect → decode
    * → ledger analytics at ingest rate). Input is the joined trade-line
    * stream (cust, part, dDays, ok, ln, side buy=1/sell=0, qty, up);
    * per (cust, part) the state is
    *
    *   (open buy lots (qty, up), open sell lots (qty, up),
    *    totals [nTrades, proceeds, cost, realized])
    *
    * and the fold is [[fifoFold]]'s positional matcher carrying PRICES:
    * an arriving line matches the opposite book head-first, each matched
    * parcel realizing ov·(sell_up − buy_up) in exact 10⁻⁴-cent integer
    * arithmetic (q393's parcel rule — positional matching is exactly the
    * batch kernel's cumulative-interval overlap). Because matching
    * always drains one side, AT MOST ONE book is non-empty per key, and
    * a fully consumed lot leaves state immediately — so retained state
    * is the account's OPEN POSITION (the interval kernel's residual: the
    * unmatched cumulative-quantity tail), never its trade history; the
    * four totals are 4 BIGINTs. Open-lot detail must stay in state
    * because a future match realizes against the LOT's price — the
    * cumulative quantities alone say which units match but not at what
    * basis.
    *
    * Ordering contract: rows are folded in (shipdate, orderkey,
    * linenumber) order WITHIN each micro-batch; across batches the feed
    * must be per-key FIFO-sequenced (the custodian-feed contract — the
    * ledger stream carries no event time to watermark on). The contract
    * is ENFORCED, not assumed (ADVICE r17): the state carries the last
    * folded (d, ok, ln) per key, and a later micro-batch delivering a
    * row at or before that frontier fails the stream loudly
    * ([[ledgerOrderCheck]]) rather than silently diverging from the
    * batch oracle — the failure a multi-file directory delivering files
    * out of ledger order would otherwise hide. Emits one
    * per-key snapshot per batch (Update mode): running totals plus the
    * open books' (units, Σ units·up) summaries — everything the
    * read-back needs to mark open positions without re-reading history.
    * nTrades is monotone, so "row with max nTrades per key" is the
    * current snapshot under any sink that retains superseded updates.
    */
  def ledgerPnlRows(
      trades: org.apache.spark.sql.Dataset[(Long, Long, Long, Long, Long, Long, Long, Long)])
      : org.apache.spark.sql.Dataset[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)] = {
    val spark = trades.sparkSession
    import spark.implicits._
    trades
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[(Seq[(Long, Long)], Seq[(Long, Long)], Seq[Long]),
          (Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (key: (Long, Long),
         rows: Iterator[(Long, Long, Long, Long, Long, Long, Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[(Seq[(Long, Long)], Seq[(Long, Long)], Seq[Long])]) =>
          val (buyQ0, sellQ0, tot0all) = state.getOption.getOrElse(
            (Seq.empty[(Long, Long)], Seq.empty[(Long, Long)],
              Seq(0L, 0L, 0L, 0L)))
          // in-order fold within the batch; cross-batch order is the
          // feed's sequencing contract, ENFORCED against the last
          // folded (d, ok, ln) frontier carried in slots 4-6 of the
          // totals vector (absent in a fresh state)
          val rs = rows.toSeq.sortBy(r => (r._3, r._4, r._5))
          ledgerOrderCheck(key, tot0all.drop(4),
            rs.map(r => (r._3, r._4, r._5)))
          val (buyQ, sellQ, tot) = ledgerFold(rs, buyQ0, sellQ0, tot0all.take(4))
          val last = rs.last
          state.update((buyQ, sellQ, tot ++ Seq(last._3, last._4, last._5)))
          Iterator((key._1, key._2, tot(0), tot(1), tot(2), tot(3),
            buyQ.iterator.map(_._1).sum,
            buyQ.iterator.map(l => l._1 * l._2).sum,
            sellQ.iterator.map(_._1).sum,
            sellQ.iterator.map(l => l._1 * l._2).sum))
      }
  }

  /** The ledger twins' ordering/uniqueness guard (ADVICE r17): fail the
    * stream loudly when a micro-batch delivers a row at or before the
    * key's last folded (d, ok, ln) frontier, OR delivers the same
    * (d, ok, ln) twice within one batch — a positional fold applied out
    * of order or over a replayed line silently diverges from the batch
    * oracle, and the one-batch AvailableNow gates cannot catch a
    * multi-file directory listing files out of ledger order.
    * `lastFrontier` is empty for a fresh key (nothing folded yet);
    * `sortedKeys` is the batch's (d, ok, ln) keys in fold order.
    */
  private[streaming] def ledgerOrderCheck(key: (Long, Long),
      lastFrontier: Seq[Long], sortedKeys: Seq[(Long, Long, Long)]): Unit = {
    def fail(row: (Long, Long, Long), prior: (Long, Long, Long)): Nothing =
      throw new IllegalStateException(
        s"ledger stream for key $key violated the per-key FIFO " +
          s"sequencing contract: row (d, ok, ln) = $row arrived after " +
          s"$prior was already folded — rows must reach the fold exactly " +
          "once and in (shipdate, orderkey, linenumber) order across " +
          "micro-batches (sort and dedup the feed, or deliver each key's " +
          "files in ledger order)")
    if (lastFrontier.length == 3) {
      val last = (lastFrontier(0), lastFrontier(1), lastFrontier(2))
      if (Ordering[(Long, Long, Long)].lteq(sortedKeys.head, last))
        fail(sortedKeys.head, last)
    }
    // intra-batch replays: the sort puts duplicates adjacent
    var i = 1
    while (i < sortedKeys.length) {
      if (sortedKeys(i) == sortedKeys(i - 1)) fail(sortedKeys(i), sortedKeys(i - 1))
      i += 1
    }
  }

  /** Fold FIFO-ordered trade lines into the open books + running totals
    * — [[fifoFold]] with prices ((qty, up) lots, realized P&L). Totals
    * layout: [nTrades, proceeds, cost, realized]; every quantity is an
    * exact BIGINT in the ledger's 10⁻⁴-cent price grain. (State wrappers
    * append the ordering frontier AFTER these four — the fold neither
    * reads nor writes it.)
    */
  private[streaming] def ledgerFold(
      rows: Seq[(Long, Long, Long, Long, Long, Long, Long, Long)],
      buyQ0: Seq[(Long, Long)], sellQ0: Seq[(Long, Long)], tot0: Seq[Long])
      : (Seq[(Long, Long)], Seq[(Long, Long)], Seq[Long]) = {
    var buyQ = scala.collection.immutable.Queue(buyQ0: _*)
    var sellQ = scala.collection.immutable.Queue(sellQ0: _*)
    var nTrades = tot0(0); var proceeds = tot0(1)
    var cost = tot0(2); var realized = tot0(3)
    rows.foreach { case (_, _, _, _, _, side, qty, up) =>
      nTrades += 1L
      var u = qty
      if (side == 1L) {
        cost += qty * up
        while (u > 0L && sellQ.nonEmpty) {
          val ((su, sup), rest) = sellQ.dequeue
          val m = math.min(u, su)
          realized += m * (sup - up); u -= m
          sellQ = if (su - m > 0L) (su - m, sup) +: rest else rest
        }
        if (u > 0L) buyQ = buyQ.enqueue((u, up))
      } else {
        proceeds += qty * up
        while (u > 0L && buyQ.nonEmpty) {
          val ((bu, bup), rest) = buyQ.dequeue
          val m = math.min(u, bu)
          realized += m * (up - bup); u -= m
          buyQ = if (bu - m > 0L) (bu - m, bup) +: rest else rest
        }
        if (u > 0L) sellQ = sellQ.enqueue((u, up))
      }
    }
    (buyQ, sellQ, Seq(nTrades, proceeds, cost, realized))
  }

  /** q392's wash-sale detection maintained ONLINE — [[ledgerPnlRows]]'
    * sibling carrying the tax rule's TIME WINDOW, which is what decides
    * the state shape: per (cust, part) the fold retains
    *
    *   (open buy lots (resid, cents, qty_orig)   — the FIFO book,
    *    recent buys (d, cs, qty) within the ±[[graft.operators.Temporal.WashDays]]-day
    *      window                                 — wash candidates for FUTURE sales,
    *    undischarged sales (ok, ln, d, ds, qty, cents, resid,
    *      matched, loss, washed)                 — a sale stays until (a) its
    *      demand interval is fully covered (a later buy may still match it —
    *      the open-short arm) AND (b) the feed has passed d + WashDays, after
    *      which no arriving in-order buy can wash it; then its per-sale counters
    *      fold into the finalized scalars and the row EVICTS,
    *    11 BIGINT scalars)
    *
    * so state is the open position PLUS one wash-window of trades — the
    * rule's inherent lookback, not history (q269's positionCreditRows
    * made the same argument for its 24 h window). Matching is the
    * positional head-first rule ([[ledgerFold]]'s equivalence argument);
    * each parcel's LOSS test is the integer cross-product
    * s.cents·b.qty < b.cents·s.qty on the ORIGINAL line quantities
    * (q392's no-float-decides-money rule), and a sale is WASHED when any
    * buy within ±WashDays has a cumulative-quantity interval NOT
    * overlapping the sale's own (the "very shares sold" exclusion,
    * verbatim). Ordering contract: [[ledgerPnlRows]]'.
    * Emits one per-key snapshot per batch (Update mode): finalized
    * scalars + the retained sales' live counters, so the snapshot always
    * equals what a batch recompute over the rows-so-far would report.
    */
  def washSaleRows(
      trades: org.apache.spark.sql.Dataset[(Long, Long, Long, Long, Long, Long, Long, Long)])
      : org.apache.spark.sql.Dataset[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)] = {
    val spark = trades.sparkSession
    import spark.implicits._
    trades
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[(Seq[Seq[Long]], Seq[Seq[Long]], Seq[Seq[Long]], Seq[Long]),
          (Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (key: (Long, Long),
         rows: Iterator[(Long, Long, Long, Long, Long, Long, Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[(Seq[Seq[Long]], Seq[Seq[Long]], Seq[Seq[Long]], Seq[Long])]) =>
          val st0 = state.getOption.getOrElse(
            (Seq.empty[Seq[Long]], Seq.empty[Seq[Long]], Seq.empty[Seq[Long]],
              Seq.fill(11)(0L)))
          val rs = rows.toSeq.sortBy(r => (r._3, r._4, r._5))
          // scalars 11-13 carry the last folded (d, ok, ln) frontier —
          // [[ledgerOrderCheck]]'s enforcement, same as ledgerPnlRows
          ledgerOrderCheck(key, st0._4.drop(11),
            rs.map(r => (r._3, r._4, r._5)))
          val st = washSaleFold(rs,
            (st0._1, st0._2, st0._3, st0._4.take(11)))
          val last = rs.last
          state.update((st._1, st._2, st._3,
            st._4 ++ Seq(last._3, last._4, last._5)))
          val sc = st._4
          val sales = st._3
          Iterator((key._1, key._2, sc(3), sc(4),
            sc(5) + sales.count(_(7) > 0L),
            sc(6) + sales.count(_(8) > 0L),
            sc(7) + sales.count(s => s(8) > 0L && s(9) == 1L),
            sc(8) + sales.iterator.map(_(7)).sum,
            sc(9) + sales.iterator.map(_(8)).sum,
            sc(10) + sales.iterator.filter(_(9) == 1L).map(_(8)).sum))
      }
  }

  /** Fold FIFO-ordered trade lines into the wash-sale state (see
    * [[washSaleRows]] for the layout). Scalars:
    * [cumBuyUnits, cumSellUnits, maxD, nTrades, nSales,
    *  finMatchedSales, finLossSales, finWashedSales,
    *  finMatchedUnits, finLossUnits, finWashedLossUnits].
    */
  private[streaming] def washSaleFold(
      rows: Seq[(Long, Long, Long, Long, Long, Long, Long, Long)],
      st: (Seq[Seq[Long]], Seq[Seq[Long]], Seq[Seq[Long]], Seq[Long]))
      : (Seq[Seq[Long]], Seq[Seq[Long]], Seq[Seq[Long]], Seq[Long]) = {
    import scala.collection.mutable.ArrayBuffer
    val wash = graft.operators.Temporal.WashDays.toLong
    val openBuys = ArrayBuffer(st._1.map(_.toArray): _*)
    val recentBuys = ArrayBuffer(st._2.map(_.toArray): _*)
    val sales = ArrayBuffer(st._3.map(_.toArray): _*)
    val sc = st._4.toArray
    def overlap(ds: Long, sq: Long, cs: Long, bq: Long): Boolean =
      ds < cs + bq && cs < ds + sq
    rows.foreach { case (_, _, d, ok, ln, side, qty, cents) =>
      sc(3) += 1L
      if (d > sc(2)) sc(2) = d
      if (side == 1L) {
        val cs = sc(0); sc(0) += qty
        // wash check: this buy vs every retained sale in-window whose
        // interval it does NOT overlap (q392's exclusion, verbatim)
        sales.foreach { s =>
          if (math.abs(d - s(2)) <= wash && !overlap(s(3), s(4), cs, qty))
            s(9) = 1L
        }
        // positional matching: cover retained sales' open demand in ds
        // order (the open-short arm — a sale may precede its lot)
        var u = qty
        var i = 0
        while (u > 0L && i < sales.length) {
          val s = sales(i)
          if (s(6) > 0L) {
            val ov = math.min(u, s(6))
            s(6) -= ov; s(7) += ov
            if (s(5) * qty < cents * s(4)) s(8) += ov
            u -= ov
          }
          i += 1
        }
        if (u > 0L) openBuys += Array(u, cents, qty)
        recentBuys += Array(d, cs, qty)
      } else {
        val ds = sc(1); sc(1) += qty
        sc(4) += 1L
        var washed = 0L
        recentBuys.foreach { b =>
          if (math.abs(d - b(0)) <= wash && !overlap(ds, qty, b(1), b(2)))
            washed = 1L
        }
        var u = qty; var matched = 0L; var loss = 0L
        while (u > 0L && openBuys.nonEmpty) {
          val b = openBuys.head
          val ov = math.min(u, b(0))
          b(0) -= ov; matched += ov
          if (cents * b(2) < b(1) * qty) loss += ov
          u -= ov
          if (b(0) == 0L) openBuys.remove(0)
        }
        sales += Array(ok, ln, d, ds, qty, cents, u, matched, loss, washed)
      }
    }
    // evictions: a buy older than one window back can wash no in-order
    // future sale; a fully covered sale past its window is FINAL
    val maxD = sc(2)
    val keptBuys = recentBuys.filter(_(0) >= maxD - wash)
    val (done, kept) = sales.partition(s => s(6) == 0L && s(2) + wash < maxD)
    done.foreach { s =>
      if (s(7) > 0L) sc(5) += 1L
      if (s(8) > 0L) sc(6) += 1L
      if (s(8) > 0L && s(9) == 1L) sc(7) += 1L
      sc(8) += s(7); sc(9) += s(8)
      if (s(9) == 1L) sc(10) += s(8)
    }
    (openBuys.map(_.toSeq).toSeq, keptBuys.map(_.toSeq).toSeq,
      kept.map(_.toSeq).toSeq, sc.toSeq)
  }

  /** q269's position-based attribution maintained ONLINE — the real-time
    * multi-touch credit stream. Per user the state buffers (t_µs,
    * event_id, event_type) rows; a purchase is PROVABLY attributable
    * once the watermark passes it (every touch candidate has tus < pus ≤
    * watermark, and anything arriving later has ts ≥ watermark — so its
    * touch set is complete), at which point its 40/20/40 ppm credits
    * (q269's exact CASE, [[positionCredit]]) are emitted and the
    * purchase row evicted. Touch rows evict once older than watermark −
    * 24h: no unfinalized purchase (all have pus ≥ watermark) can look
    * back past that. State is therefore bounded by the 24h lookback
    * window per user — the attribution system's inherent state, not the
    * user's history. Emits one (touch_type, ppm) row per credit; the
    * caller aggregates to q269's per-type totals, gated on q269's
    * oracle verbatim.
    */
  def positionCreditRows(events: DataFrame): Dataset[(String, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    // timeout fires only after the watermark passed every buffered
    // event, so every buffered purchase is final at close
    timelineFold(events, 0L, Seq.empty[Touch])(
      (_, buf) => creditsFor(buf, Long.MaxValue).iterator) { (buf0, rs, wmMs) =>
      val buf = (buf0 ++ rs).sortBy(r => (r._1, r._2))
      val wmUs = wmMs * 1000L
      val kept = buf.filter { case (t, _, tp) =>
        if (tp == "purchase") t >= wmUs
        else t >= wmUs - AttributionWindowUs
      }
      (kept, creditsFor(buf, wmUs).iterator)
    }
  }

  private val AttributionWindowUs = 86400000000L

  /** Emit q269's (touch_type, ppm) credits for every purchase in `buf`
    * with t < `finalBefore` — buf sorted by (t, event_id), so the touch
    * ranking (tus, tid) matches the batch window order.
    */
  private[streaming] def creditsFor(buf: Seq[(Long, Long, String)],
      finalBefore: Long): Seq[(String, Long)] =
    buf.iterator
      .filter { case (t, _, tp) => tp == "purchase" && t < finalBefore }
      .flatMap { case (pus, _, _) =>
        val touches = buf.filter { case (t, _, tp) =>
          tp != "purchase" && t < pus && t >= pus - AttributionWindowUs
        }
        val k = touches.length
        touches.zipWithIndex.map { case ((_, _, tp), i) =>
          (tp, positionCredit(k, i + 1))
        }
      }.toSeq

  /** q269's exact 40/20/40 ppm CASE (k touches, 1-based position). */
  private[streaming] def positionCredit(k: Int, pos: Int): Long =
    if (k == 1) 1000000L
    else if (k == 2) 500000L
    else if (pos == 1 || pos == k) 400000L
    else 200000L / (k - 2) + (if (pos == 2) 200000L % (k - 2) else 0L)

  /** q281's compaction plan maintained ONLINE — the ingest-side group
    * assigner: as per-record files land, each source's next-fit group
    * manifest row emits the moment the group CLOSES (the first file whose
    * start offset crosses into a later group proves no earlier file can
    * ever join it — offsets are monotone in the ingest order). State per
    * source is the watermark-ordering buffer plus ONE open-group
    * accumulator (grp, n_files, bytes, cum offset) — never the file
    * history, so a source with millions of small files (the case
    * compaction exists for) holds O(watermark-lag) state. The open tail
    * group emits on event-time timeout with `is_tail = 1` — exactly
    * batch q281's `grp = max(grp)` flag, since next-fit only ever closes
    * a group by opening a later one. Input rows are (source, ts,
    * file_id, bytes) with event time monotone in the ingest sequence
    * (file_id breaks within-second ties); emits (source, grp, n_files,
    * group_bytes, is_tail).
    */
  def compactionGroupRows(files: DataFrame, target: Long)
      : Dataset[(String, Long, Long, Long, Long)] = {
    val spark = files.sparkSession
    import spark.implicits._
    finalizedByWatermark(files
        .select(col("source"), col("ts"), unix_micros(col("ts")).as("t"),
          col("file_id"), col("bytes"))
        .as[(String, java.sql.Timestamp, Long, Long, Long)])(
      _._1, _._3 / 1000L,
      (Seq.empty[(Long, Long, Long)], Seq(0L, 0L, 0L, 0L))) {
      case (src, (buf, open0)) =>
        val (closed, open) =
          compactionFold(buf.sortBy(r => (r._1, r._2)).map(r => (r._2, r._3)),
            open0, target)
        val tail =
          if (open(1) == 0L) Seq.empty
          else Seq((src, open(0), open(1), open(2), 1L))
        (closed.map(g => (src, g._1, g._2, g._3, 0L)) ++ tail).iterator
    } { case (src, (buf0, open0), rs, wmMs) =>
      // buffer (sec, file_id, bytes) — event time orders the fold
      // frontier, file_id breaks ties within a second
      val buf = (buf0 ++ rs.map(r => (r._3 / 1000000L, r._4, r._5)))
        .sortBy(r => (r._1, r._2))
      val (ready, pending) = buf.partition(_._1 < wmMs / 1000L)
      val (closed, open) =
        compactionFold(ready.map(r => (r._2, r._3)), open0, target)
      ((pending, open), closed.map(g => (src, g._1, g._2, g._3, 0L)).iterator)
    }
  }

  /** Fold ingest-ordered (file_id, bytes) rows into next-fit groups under
    * `target`: a file whose start offset (the running cum) leaves the open
    * group closes it. Open-group state layout: [grp, n_files, bytes, cum];
    * returns (closed groups as (grp, n_files, bytes), new open state).
    * The sequential twin of batch q281's `(cum − bytes) div target`.
    */
  private[streaming] def compactionFold(files: Seq[(Long, Long)],
      open0: Seq[Long], target: Long): (Seq[(Long, Long, Long)], Seq[Long]) = {
    var grp = open0(0); var nf = open0(1); var gb = open0(2); var cum = open0(3)
    val closed = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long)]
    files.foreach { case (_, bytes) =>
      val g = cum / target
      if (nf > 0L && g != grp) { closed += ((grp, nf, gb)); nf = 0L; gb = 0L }
      grp = if (nf == 0L) g else grp
      nf += 1L; gb += bytes; cum += bytes
    }
    (closed.toSeq, Seq(grp, nf, gb, cum))
  }

  /** [[runToMemory]]'s stateful-operator partition count. */
  private final val StatePartitions = 8
  private final val PartitionsKey = "spark.sql.shuffle.partitions"

  private val sinkId = new java.util.concurrent.atomic.AtomicLong()
}
