package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Streaming correctness: with the flush sentinel staged
  * ([[StreamingQueries.stagedWithFlush]]), every real window closes, so
  * append-mode streaming output must EQUAL the batch twin — not just be a
  * prefix of it. The registered q47-q49 put the same equivalence under the
  * driver's DuckDB hash gate; these tests cover the sliding-window shape
  * (no registered streaming query) and the custom-state path, and keep a
  * fast in-JVM equality check for the window shapes.
  */
class EventStreamsSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def streamFlushed(build: org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame) = {
    val staged = StreamingQueries.stagedWithFlush(spark, dir)
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val events = graft.Tables.normalizeEventTs(
      spark.readStream.schema(schema).parquet(staged))
    EventStreams.runToMemory(spark, build(events))
  }

  test("tumbling-window stream EQUALS batch on flushed input") {
    val streamed = streamFlushed(EventStreams.tumblingCounts(_))
    val batch = graft.SparkEntry.queries("q18_tumbling_window")(spark, dir)
    val s = streamed.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val b = batch.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(s.nonEmpty)
    assert(s == b, s"stream/batch diverge: only-stream=${s -- b}, only-batch=${b -- s}")
  }

  test("sliding-window stream EQUALS batch on flushed input") {
    val streamed = streamFlushed(EventStreams.slidingCounts(_))
    val batch = graft.SparkEntry.queries("q19_sliding_window")(spark, dir)
    val s = streamed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = batch.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(s.nonEmpty)
    assert(s == b, s"stream/batch diverge: only-stream=${s -- b}, only-batch=${b -- s}")
  }

  test("session-window stream EQUALS batch on flushed input") {
    val streamed = streamFlushed(EventStreams.sessionCounts(_))
    val batch = graft.SparkEntry.queries("q20_session_window")(spark, dir)
    val s = streamed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val b = batch.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(s.nonEmpty)
    assert(s == b, s"stream/batch diverge: only-stream=${s -- b}, only-batch=${b -- s}")
  }

  test("stageAsDir: an in-place source rewrite is visible to the next stream") {
    // the staleness contract stageAsDir's scaladoc states (VERDICT r15
    // item 8): its staging is keyed on the source PATH only, which is
    // safe iff the staged entry is a symlink to that invariant path —
    // regenerating the source in place must flow through transparently.
    // If staging ever copies content or keys consumers on first-read
    // state, this test catches the silent-empty-stream class the r15
    // flush-gate bug belonged to.
    import spark.implicits._
    val tmp = tempDir("graft_restage").toFile
    def writeDocs(n: Int): Unit = {
      val build = new java.io.File(tmp, "_build")
      (0 until n).map(i => (i.toLong, s"doc $i", "src"))
        .toDF("doc_id", "text", "source")
        .coalesce(1).write.mode("overwrite").parquet(build.getPath)
      val part = build.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(tmp, "documents.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    def streamedCount(): Long = EventStreams.runToMemory(spark,
      EventStreams.readDocuments(spark, tmp.getPath)).count()
    writeDocs(5)
    assert(streamedCount() == 5)
    writeDocs(9) // REGENERATE in place: same path, new content
    assert(streamedCount() == 9,
      "stream served stale staged content after an in-place source rewrite")
  }

  test("q284 restages a documents directory rewritten in place") {
    // the staging is keyed on the source's part-file content: a
    // directory rewritten in place (new part-file names, new doc_id
    // range) must be restaged, never replayed from the first staging's
    // dangling links and stale sentinel
    val tmp = tempDir("graft_docs_rewrite")
    val docs = graft.Tables.documents(spark, dir)
    val q281 = graft.SparkEntry.queries("q281_compaction_plan")
    val q284 = graft.SparkEntry.queries("q284_stream_compaction_plan")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    Seq(col("doc_id") < 250, col("doc_id") >= 250).foreach { range =>
      docs.where(range).coalesce(1).write.mode("overwrite")
        .parquet(s"$tmp/documents.parquet")
      val batch = rows(q281(spark, tmp.toString))
      assert(batch.nonEmpty)
      assert(rows(q284(spark, tmp.toString)) == batch, s"q284 != q281 over $range")
    }
  }

  test("late data behind the watermark is dropped from window aggregates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(s"2024-01-01 ${"%02d".format(h)}:${"%02d".format(m)}:00")
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = EventStreams.tumblingCounts(
        input.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("t_late").outputMode("append")
      .start()
    // batch 1: two events in the 10:00 window + one at 12:00 that will
    // advance the watermark to 11:50, closing the 10:00 window
    input.addData((ts(10, 0), "a", 1.0), (ts(10, 30), "a", 1.0), (ts(12, 0), "a", 1.0))
    q.processAllAvailable()
    // batch 2: a LATE event for the already-closed 10:00 window (must be
    // dropped) plus a far-future flush so everything else closes
    input.addData((ts(10, 5), "a", 1.0), (ts(23, 0), "flush", 0.0))
    q.processAllAvailable()
    q.stop()
    val w10 = spark.table("t_late")
      .where(col("window_start_ms") === ts(10, 0).getTime)
      .collect()
    assert(w10.length == 1 && w10.head.getAs[Long]("n") == 2,
      s"late event was not dropped: ${w10.mkString(", ")}")
  }

  test("flatMapGroupsWithState emits one row per crossed value milestone") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val q = EventStreams.valueMilestones(
        input.toDS().toDF("user_id", "value"), stepCents = 10000L)
      .toDF("user_id", "milestone")
      .writeStream.format("memory").queryName("t_milestones")
      .outputMode("append").start()
    input.addData((1L, 60.0), (1L, 50.0), (2L, 30.0)) // u1 crosses 100
    q.processAllAvailable()
    input.addData((1L, 250.0), (2L, 60.0)) // u1 crosses 200 and 300; u2 nothing
    q.processAllAvailable()
    // correction dips u1 below 300, next batch re-crosses it: the
    // high-water mark must suppress a duplicate milestone-3 emission
    input.addData((1L, -50.0))
    q.processAllAvailable()
    input.addData((1L, 60.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_milestones").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList.sorted
    assert(rows == List((1L, 1L), (1L, 2L), (1L, 3L)),
      s"unexpected milestones: $rows")
  }

  test("checkpointed file sink resumes exactly-once across restarts") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = tempDir("graft_sink_src")
    val out = tempDir("graft_sink_out").toString
    val ckpt = tempDir("graft_sink_ckpt").toString
    java.nio.file.Files.createSymbolicLink(
      src.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    def drain(): Unit = {
      val q = graft.Tables.normalizeEventTs(
          spark.readStream.schema(schema).parquet(src.toString))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val batchN = spark.read.parquet(s"$dir/events.parquet").count()
    drain()
    assert(spark.read.parquet(out).count() == batchN)
    // restart with the same checkpoint and unchanged input: the committed
    // offsets must prevent any reprocessing (no duplicate rows)
    drain()
    assert(spark.read.parquet(out).count() == batchN)
    // a NEW input file after restart is picked up incrementally: exactly
    // its rows are appended
    val extraBuild = tempDir("graft_sink_extra")
    spark.read.parquet(s"$dir/events.parquet").limit(5)
      .coalesce(1).write.mode("overwrite").parquet(extraBuild.toString)
    val part = new java.io.File(extraBuild.toString).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, src.resolve("extra.parquet"))
    drain()
    assert(spark.read.parquet(out).count() == batchN + 5)
  }

  test("watermarked dedup stream emits exactly one row per key") {
    val streamed = EventStreams.runToMemory(spark,
      EventStreams.dedupedEvents(EventStreams.readEvents(spark, dir)))
    val n = streamed.count()
    val keys = streamed.select(countDistinct(col("user_id"), col("event_type")))
      .collect().head.getLong(0)
    assert(n > 0)
    assert(n == keys, s"dedup emitted duplicate keys: $n rows for $keys keys")
    val batchKeys = graft.SparkEntry.queries("q21_keyed_dedup")(spark, dir).count()
    assert(keys == batchKeys) // same key universe as the batch dedup
  }

  test("interval island merge is arrival-order-free and equals the batch sweep") {
    // fixed interval multiset with overlaps, touches, containment, dups
    val iv = Seq((0L, 5L), (7L, 9L), (4L, 8L), (20L, 25L), (25L, 30L),
      (1L, 2L), (40L, 41L), (40L, 41L), (26L, 27L))
    def fold(order: Seq[(Long, Long)]): Set[(Long, Long, Long)] =
      order.foldLeft(Seq.empty[(Long, Long, Long)]) {
        case (acc, (s, e)) => EventStreams.mergeInterval(acc, s, e)
      }.toSet
    // reference: the batch sweep (sort by start, running max end)
    def sweep(xs: Seq[(Long, Long)]): Set[(Long, Long, Long)] = {
      val sorted = xs.sorted
      val out = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long)]
      for ((s, e) <- sorted) {
        if (out.nonEmpty && s <= out.last._2) {
          val (ps, pe, pn) = out.remove(out.size - 1)
          out += ((ps, math.max(pe, e), pn + 1))
        } else out += ((s, e, 1L))
      }
      out.toSet
    }
    val expect = sweep(iv)
    // bridged (0-5, 7-9 via 4-8, containing 1-2), touching (25), exact dup
    assert(expect == Set((0L, 9L, 4L), (20L, 30L, 3L), (40L, 41L, 2L)),
      s"sweep islands wrong: $expect")
    // every permutation of arrivals folds to the sweep's islands
    val rnd = new scala.util.Random(7)
    for (k <- 1 to 50) {
      val shuffled = rnd.shuffle(iv)
      assert(fold(shuffled) == expect,
        s"arrival order $shuffled diverged: ${fold(shuffled)} != $expect")
    }
  }

  test("sessionTrigrams: gap split, 3-gram emission, null propagation") {
    val H = 3600000000L // 1h in µs; the session gap is 6h
    def row(t: Long, id: Long, et: String) = (t * H, id, et)
    // one 5-event session -> 3 trigrams, in timeline order
    assert(EventStreams.sessionTrigrams(
      Seq(row(0, 1, "a"), row(1, 2, "b"), row(2, 3, "c"),
        row(3, 4, "d"), row(4, 5, "e"))) ==
      Seq("a>b>c", "b>c>d", "c>d>e"))
    // a 7h gap splits sessions; 2-event fragments emit nothing
    assert(EventStreams.sessionTrigrams(
      Seq(row(0, 1, "a"), row(1, 2, "b"),
        row(9, 3, "c"), row(10, 4, "d"), row(11, 5, "e"))) ==
      Seq("c>d>e"))
    // exactly-6h gap does NOT split (strict > in both stream and batch)
    assert(EventStreams.sessionTrigrams(
      Seq(row(0, 1, "a"), row(6, 2, "b"), row(7, 3, "c"))) ==
      Seq("a>b>c"))
    // a NULL event_type propagates to a null path, matching batch concat
    assert(EventStreams.sessionTrigrams(
      Seq(row(0, 1, "a"), row(1, 2, null), row(2, 3, "c"), row(3, 4, "d"))) ==
      Seq(null, null))
    assert(EventStreams.sessionTrigrams(Nil).isEmpty)
  }

  test("compactionFold: next-fit groups, split-invariance, oversize files") {
    val zero = Seq(0L, 0L, 0L, 0L)
    // files (id, bytes) under target 100: start offsets 0,60,120 ->
    // files 1+2 pack group 0 (a file joins the group its START is in),
    // file 3 opens group 1
    val f = Seq((1L, 60L), (2L, 60L), (3L, 60L))
    val (c1, o1) = EventStreams.compactionFold(f, zero, 100L)
    assert(c1 == Seq((0L, 2L, 120L)) && o1 == Seq(1L, 1L, 60L, 180L),
      s"basic next-fit wrong: $c1 / $o1")
    // folding in two calls at ANY split point matches the one-shot fold
    val files = Seq((1L, 30L), (2L, 90L), (3L, 10L), (4L, 250L), (5L, 40L),
      (6L, 99L), (7L, 1L), (8L, 100L))
    val (allC, allO) = EventStreams.compactionFold(files, zero, 100L)
    for (k <- 0 to files.length) {
      val (a, b) = files.splitAt(k)
      val (ca, oa) = EventStreams.compactionFold(a, zero, 100L)
      val (cb, ob) = EventStreams.compactionFold(b, oa, 100L)
      assert(ca ++ cb == allC && ob == allO,
        s"split at $k diverged: ${ca ++ cb} / $ob vs $allC / $allO")
    }
    // the 250-byte file never splits: its whole size lands in the group
    // its START offset is in, making that group oversize (>target) and
    // later files skip group indices (no group 2 exists)
    assert(allC == Seq((0L, 2L, 120L), (1L, 2L, 260L), (3L, 1L, 40L),
      (4L, 1L, 99L)) && allO == Seq(5L, 2L, 101L, 620L),
      s"next-fit trace wrong: $allC / $allO")
    // empty fold is a no-op
    assert(EventStreams.compactionFold(Nil, allO, 100L) == (Nil, allO))
  }

  test("streaming FIFO P&L EQUALS batch q393 on the same ledger") {
    val streamed = graft.SparkEntry.queries("q400_stream_fifo_pnl")(spark, dir)
    val batch = graft.SparkEntry.queries("q393_fifo_cost_basis")(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (0 until 10).map(r.getLong).toVector).toSet
    val s = rows(streamed)
    val b = rows(batch)
    assert(s.nonEmpty)
    assert(s == b, s"stream/batch diverge: only-stream=${s -- b}, only-batch=${b -- s}")
  }

  test("streaming wash-sale EQUALS batch q392 on the same ledger") {
    val streamed = graft.SparkEntry.queries("q401_stream_wash_sale")(spark, dir)
    val batch = graft.SparkEntry.queries("q392_wash_sale")(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (0 until 8).map(r.getLong).toVector).toSet
    val s = rows(streamed)
    val b = rows(batch)
    assert(s.nonEmpty)
    assert(s == b, s"stream/batch diverge: only-stream=${s -- b}, only-batch=${b -- s}")
  }

  test("washSaleFold: WashSaleSpec's four arms + eviction + split-invariance") {
    val zero = (Seq.empty[Seq[Long]], Seq.empty[Seq[Long]],
      Seq.empty[Seq[Long]], Seq.fill(11)(0L))
    def t(d: Long, ok: Long, side: Long, qty: Long, cents: Long) =
      (7L, 1L, d, ok, 1L, side, qty, cents)
    // totals as the snapshot assembles them: finalized + retained
    def totals(st: (Seq[Seq[Long]], Seq[Seq[Long]], Seq[Seq[Long]], Seq[Long]))
        : (Long, Long, Long, Long, Long, Long) = {
      val sc = st._4; val sales = st._3
      (sc(4), sc(5) + sales.count(_(7) > 0L), sc(6) + sales.count(_(8) > 0L),
        sc(7) + sales.count(x => x(8) > 0L && x(9) == 1L),
        sc(9) + sales.iterator.map(_(8)).sum,
        sc(10) + sales.iterator.filter(_(9) == 1L).map(_(8)).sum)
    }
    // WashSaleSpec part 1: buy 10@$100, sell 10@$80 (+20d), rebuy 10@$90
    // (+10d) -> loss washed (rebuy interval [10,20) misses sale's [0,10))
    val p1 = Seq(t(0, 1, 1, 10, 10000), t(20, 2, 0, 10, 8000),
      t(30, 3, 1, 10, 9000))
    assert(totals(EventStreams.washSaleFold(p1, zero))
      == ((1L, 1L, 1L, 1L, 10L, 10L)))
    // part 2: replacement 150 days later -> loss NOT washed
    val p2 = Seq(t(0, 1, 1, 10, 10000), t(20, 2, 0, 10, 8000),
      t(170, 3, 1, 10, 9000))
    assert(totals(EventStreams.washSaleFold(p2, zero))
      == ((1L, 1L, 1L, 0L, 10L, 0L)))
    // part 3: gain with in-window buy -> matched, no loss, no wash count
    val p3 = Seq(t(0, 1, 1, 10, 10000), t(20, 2, 0, 10, 12000),
      t(24, 3, 1, 10, 9000))
    assert(totals(EventStreams.washSaleFold(p3, zero))
      == ((1L, 1L, 0L, 0L, 0L, 0L)))
    // part 4: only the matched lot itself is in-window -> excluded
    val p4 = Seq(t(15, 1, 1, 10, 10000), t(20, 2, 0, 10, 8000))
    assert(totals(EventStreams.washSaleFold(p4, zero))
      == ((1L, 1L, 1L, 0L, 10L, 0L)))
    // OPEN-SHORT arm: sell first, cover later at a higher basis -> the
    // covering buy both matches the open demand AND (non-overlap fails)
    // cannot wash it; a second buy beyond the demand interval washes
    val p5 = Seq(t(0, 1, 0, 10, 8000), t(5, 2, 1, 10, 10000),
      t(9, 3, 1, 4, 9000))
    val st5 = EventStreams.washSaleFold(p5, zero)
    assert(totals(st5) == ((1L, 1L, 1L, 1L, 10L, 10L)), totals(st5).toString)
    // eviction: once the feed passes d+30 with demand covered, the sale
    // folds into the finalized scalars and leaves state
    val p1done = p1 :+ t(60, 4, 1, 1, 1000)
    val st1 = EventStreams.washSaleFold(p1done, zero)
    assert(st1._3.isEmpty, "sale should have evicted")
    assert(totals(st1) == ((1L, 1L, 1L, 1L, 10L, 10L)))
    // split-invariance: folding in two calls at any cut matches one-shot
    for (k <- 0 to p1done.length) {
      val (a, b) = p1done.splitAt(k)
      val stb = EventStreams.washSaleFold(b, EventStreams.washSaleFold(a, zero))
      assert(totals(stb) == totals(st1), s"split at $k diverged")
    }
  }

  test("ledger folds retain only the open book on the live ledger") {
    // the scaladoc state-size claims, MEASURED: fold every (cust, part)
    // history at sf0.001 — ledgerFold must end with at most ONE
    // non-empty book per key (matching always drains a side), and
    // washSaleFold's retained sales must each still be needed (open
    // demand, or wash window not yet closed at the feed's max date)
    val led = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet")
        .where(col("o_custkey") < 100)
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey")),
        "l_orderkey")
      .select(col("o_custkey").cast("long"), col("l_partkey").cast("long"),
        expr("unix_date(CAST(l_shipdate AS DATE))").cast("long"),
        col("l_orderkey").cast("long"), col("l_linenumber").cast("long"),
        when(col("l_returnflag").isin("A", "N"), 1L).otherwise(0L),
        expr("CAST(round(l_quantity) AS BIGINT)"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .groupBy(r => (r._1, r._2))
    assert(led.nonEmpty)
    val zeroW = (Seq.empty[Seq[Long]], Seq.empty[Seq[Long]],
      Seq.empty[Seq[Long]], Seq.fill(11)(0L))
    led.foreach { case (key, rows) =>
      val sorted = rows.toSeq.sortBy(r => (r._3, r._4, r._5))
      val (buyQ, sellQ, _) = EventStreams.ledgerFold(sorted, Nil, Nil,
        Seq(0L, 0L, 0L, 0L))
      assert(buyQ.isEmpty || sellQ.isEmpty,
        s"$key: both books non-empty after the fold")
      val stW = EventStreams.washSaleFold(sorted, zeroW)
      val maxD = stW._4(2)
      stW._3.foreach { s =>
        assert(s(6) > 0L || s(2) + graft.operators.Temporal.WashDays >= maxD,
          s"$key: retained sale neither open nor in-window")
      }
    }
  }

  test("ledgerFold: positional matching, books drain one side, split-invariance") {
    val zero = Seq(0L, 0L, 0L, 0L)
    def t(dd: Long, ok: Long, ln: Long, side: Long, qty: Long, up: Long) =
      (1L, 1L, dd, ok, ln, side, qty, up)
    // buy 5@10, sell 3@14 -> realized 3*(14-10)=12, open long 2@10
    val (b1, s1, t1) = EventStreams.ledgerFold(
      Seq(t(1, 1, 1, 1, 5, 10), t(2, 2, 1, 0, 3, 14)), Nil, Nil, zero)
    assert(b1 == Seq((2L, 10L)) && s1.isEmpty
      && t1 == Seq(2L, 42L, 50L, 12L), s"$b1 $s1 $t1")
    // short first: sell 4@20, buy 6@15 -> realized 4*(20-15)=20, open long 2@15
    val (b2, s2, t2) = EventStreams.ledgerFold(
      Seq(t(1, 1, 1, 0, 4, 20), t(2, 2, 1, 1, 6, 15)), Nil, Nil, zero)
    assert(b2 == Seq((2L, 15L)) && s2.isEmpty
      && t2 == Seq(2L, 80L, 90L, 20L), s"$b2 $s2 $t2")
    // a sell spanning two buy lots realizes against EACH lot's basis
    val trades = Seq(t(1, 1, 1, 1, 2, 10), t(1, 1, 2, 1, 3, 20),
      t(2, 2, 1, 0, 4, 25), t(3, 3, 1, 0, 2, 5))
    val (b3, s3, t3) = EventStreams.ledgerFold(trades, Nil, Nil, zero)
    // matched: 2@(25-10) + 2@(25-20) + 1@(5-20) = 30+10-15 = 25; open short 1@5
    assert(b3.isEmpty && s3 == Seq((1L, 5L))
      && t3 == Seq(4L, 110L, 80L, 25L), s"$b3 $s3 $t3")
    // folding in two calls at any split matches the one-shot fold
    for (k <- 0 to trades.length) {
      val (a, b) = trades.splitAt(k)
      val (ba, sa, ta) = EventStreams.ledgerFold(a, Nil, Nil, zero)
      val (bb, sb, tb) = EventStreams.ledgerFold(b, ba, sa, ta)
      assert((bb, sb, tb) == ((b3, s3, t3)), s"split at $k diverged")
    }
  }

  // one (cust, part, d, ok, ln, side, qty, price) trade line
  private def trade(d: Long, ok: Long, side: Long, qty: Long, p: Long,
      cust: Long = 1L, part: Long = 1L) = (cust, part, d, ok, 1L, side, qty, p)

  test("ledger streams fold correctly ACROSS micro-batches (ADVICE r17)") {
    // the single-file AvailableNow gates run ONE micro-batch; this is the
    // multi-batch variant they cannot exercise — per-key rows split over
    // three MemoryStream batches, final snapshot must equal the one-shot
    // fold (and the batch oracle by q400/q401's transitivity)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val batches = Seq(
      Seq(trade(1, 1, 1, 5, 10), trade(2, 2, 0, 3, 14)),
      Seq(trade(3, 3, 0, 4, 20), trade(4, 4, 1, 6, 15)),
      Seq(trade(40, 5, 0, 2, 5), trade(80, 6, 1, 1, 7)))
    val all = batches.flatten.sortBy(r => (r._3, r._4, r._5))

    val input = MemoryStream[(Long, Long, Long, Long, Long, Long, Long, Long)]
    val q = EventStreams.ledgerPnlRows(input.toDS())
      .toDF("cust", "part", "n_trades", "proceeds", "cost", "realized",
        "olu", "olc", "osu", "osp")
      .writeStream.format("memory").queryName("t_ledger_mb")
      .outputMode("update").start()
    batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val snap = spark.table("t_ledger_mb").collect()
      .maxBy(_.getAs[Long]("n_trades"))
    val (buyQ, sellQ, tot) = EventStreams.ledgerFold(all, Nil, Nil,
      Seq(0L, 0L, 0L, 0L))
    assert((snap.getAs[Long]("n_trades"), snap.getAs[Long]("proceeds"),
      snap.getAs[Long]("cost"), snap.getAs[Long]("realized"))
      == ((tot(0), tot(1), tot(2), tot(3))))
    assert(snap.getAs[Long]("olu") == buyQ.map(_._1).sum
      && snap.getAs[Long]("osu") == sellQ.map(_._1).sum)

    val inputW = MemoryStream[(Long, Long, Long, Long, Long, Long, Long, Long)]
    val qw = EventStreams.washSaleRows(inputW.toDS())
      .toDF("cust", "part", "n_trades", "n_sales", "n_matched", "n_loss",
        "n_washed", "matched", "loss", "washed_loss")
      .writeStream.format("memory").queryName("t_wash_mb")
      .outputMode("update").start()
    batches.foreach { b => inputW.addData(b: _*); qw.processAllAvailable() }
    qw.stop()
    val snapW = spark.table("t_wash_mb").collect()
      .maxBy(_.getAs[Long]("n_trades"))
    val zeroW = (Seq.empty[Seq[Long]], Seq.empty[Seq[Long]],
      Seq.empty[Seq[Long]], Seq.fill(11)(0L))
    val stW = EventStreams.washSaleFold(all, zeroW)
    val (sc, sales) = (stW._4, stW._3)
    assert((snapW.getAs[Long]("n_sales"),
      snapW.getAs[Long]("n_matched"), snapW.getAs[Long]("matched"))
      == ((sc(4), sc(5) + sales.count(_(7) > 0L),
        sc(8) + sales.iterator.map(_(7)).sum)))
  }

  test("file-source ledger stream under maxFilesPerTrigger=1 matches the batch fold") {
    // the ADVICE r17 file-shaped variant: the LIVE sf0.001 ledger split
    // into three parquet files on shipdate boundaries (so each key's
    // rows stay ledger-ordered across files), streamed ONE FILE PER
    // MICRO-BATCH — three real file-source batches through the stateful
    // fold, final snapshots must equal the one-shot fold per key
    import spark.implicits._
    val ledger = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet")
        .where(col("o_custkey") < 100)
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey")),
        "l_orderkey")
      .select(col("o_custkey").cast("long").as("cust"),
        col("l_partkey").cast("long").as("part"),
        expr("unix_date(CAST(l_shipdate AS DATE))").cast("long").as("dd"),
        col("l_orderkey").cast("long").as("ok"),
        col("l_linenumber").cast("long").as("ln"),
        when(col("l_returnflag").isin("A", "N"), 1L).otherwise(0L).as("side"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("qty"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price"))
    val cuts = ledger.stat.approxQuantile("dd", Array(0.33, 0.66), 0.0)
    val (c1, c2) = (cuts(0), cuts(1))
    val streamDir = tempDir("graft_ledger_mb")
    Seq(col("dd") <= c1, col("dd") > c1 && col("dd") <= c2, col("dd") > c2)
      .zipWithIndex.foreach { case (p, i) =>
        val stage = tempDir(s"graft_ledger_f$i")
        ledger.where(p).coalesce(1).write.mode("overwrite")
          .parquet(stage.toString)
        val part = new java.io.File(stage.toString).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = streamDir.resolve(s"$i.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        // file-source batches follow modification time: pin the order
        dst.toFile.setLastModified(1000000L * (i + 1))
      }
    val schema = spark.read.parquet(streamDir.toString).schema
    val trades = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
    val sunk = EventStreams.runToMemory(spark,
      EventStreams.ledgerPnlRows(trades).toDF("cust", "part", "n_trades",
        "proceeds", "cost", "realized", "olu", "olc", "osu", "osp"),
      outputMode = "update")
    // >1 emitted snapshot for at least one key proves multiple batches
    // actually reached the fold (the premise of the test)
    val snaps = sunk.collect()
    assert(snaps.groupBy(r => (r.getLong(0), r.getLong(1)))
      .exists(_._2.length > 1), "expected multi-batch snapshots")
    val latest = snaps.groupBy(r => (r.getLong(0), r.getLong(1)))
      .map { case (k, rs) => k -> rs.maxBy(_.getAs[Long]("n_trades")) }
    val expected = ledger.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .groupBy(r => (r._1, r._2))
    assert(latest.keySet == expected.keySet)
    expected.foreach { case (k, rows) =>
      val sorted = rows.toSeq.sortBy(r => (r._3, r._4, r._5))
      val (buyQ, sellQ, tot) = EventStreams.ledgerFold(sorted, Nil, Nil,
        Seq(0L, 0L, 0L, 0L))
      val s = latest(k)
      assert((s.getAs[Long]("n_trades"), s.getAs[Long]("proceeds"),
        s.getAs[Long]("cost"), s.getAs[Long]("realized"),
        s.getAs[Long]("olu"), s.getAs[Long]("osu"))
        == ((tot(0), tot(1), tot(2), tot(3),
          buyQ.map(_._1).sum, sellQ.map(_._1).sum)),
        s"key $k diverged from the one-shot fold")
    }
  }

  test("a micro-batch regressing behind the folded frontier fails loudly") {
    // the enforcement arm (ADVICE r17): a multi-file directory delivering
    // a key's rows out of ledger order across batches must kill the
    // stream with the contract message, never silently diverge
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long, Long, Long, Long, Long, Long)]
    val q = EventStreams.ledgerPnlRows(input.toDS())
      .toDF("cust", "part", "n_trades", "proceeds", "cost", "realized",
        "olu", "olc", "osu", "osp")
      .writeStream.format("memory").queryName("t_ledger_ooo")
      .outputMode("update").start()
    input.addData(trade(5, 10, 1, 5, 10))
    q.processAllAvailable()
    input.addData(trade(3, 2, 0, 1, 12)) // d regresses behind the frontier
    val e = intercept[Exception] { q.processAllAvailable() }
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => s"${t.getMessage}").mkString(" | ")
    assert(chain.contains("FIFO sequencing contract"),
      s"expected the ordering-contract failure, got: $chain")
    // a duplicate delivery of the frontier row itself must also fail
    // (replays corrupt positional totals exactly like reorders)
    val input2 = MemoryStream[(Long, Long, Long, Long, Long, Long, Long, Long)]
    val q2 = EventStreams.washSaleRows(input2.toDS())
      .toDF("cust", "part", "n_trades", "n_sales", "n_matched", "n_loss",
        "n_washed", "matched", "loss", "washed_loss")
      .writeStream.format("memory").queryName("t_wash_ooo")
      .outputMode("update").start()
    input2.addData(trade(5, 10, 1, 5, 10))
    q2.processAllAvailable()
    input2.addData(trade(5, 10, 1, 5, 10))
    val e2 = intercept[Exception] { q2.processAllAvailable() }
    val chain2 = Iterator.iterate(e2: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => s"${t.getMessage}").mkString(" | ")
    assert(chain2.contains("FIFO sequencing contract"),
      s"expected the ordering-contract failure, got: $chain2")
    // a double-delivery WITHIN one micro-batch must fail the same way
    // (the sort puts replays adjacent; nothing about batch boundaries
    // makes an intra-batch replay less corrupting)
    val input3 = MemoryStream[(Long, Long, Long, Long, Long, Long, Long, Long)]
    val q3 = EventStreams.ledgerPnlRows(input3.toDS())
      .toDF("cust", "part", "n_trades", "proceeds", "cost", "realized",
        "olu", "olc", "osu", "osp")
      .writeStream.format("memory").queryName("t_ledger_dup")
      .outputMode("update").start()
    input3.addData(trade(5, 10, 1, 5, 10), trade(5, 10, 1, 5, 10))
    val e3 = intercept[Exception] { q3.processAllAvailable() }
    val chain3 = Iterator.iterate(e3: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => s"${t.getMessage}").mkString(" | ")
    assert(chain3.contains("FIFO sequencing contract"),
      s"expected the intra-batch replay failure, got: $chain3")
  }

  test("adversarial feeds keep ledger state == open position + window (VERDICT r17 item 6)") {
    val wash = graft.operators.Temporal.WashDays.toLong
    // ALL-BUYS key: the book never drains — state must be exactly the
    // open lots (the position a custodian feed would report), plus at
    // most ONE wash-window of recent buys; never the trade history
    var st = (Seq.empty[(Long, Long)], Seq.empty[(Long, Long)],
      Seq(0L, 0L, 0L, 0L))
    var stW = (Seq.empty[Seq[Long]], Seq.empty[Seq[Long]],
      Seq.empty[Seq[Long]], Seq.fill(11)(0L))
    (0 until 120).foreach { day =>
      val b = Seq(trade(day.toLong, day + 1L, 1, 10, 100))
      st = EventStreams.ledgerFold(b, st._1, st._2, st._3)
      assert(st._2.isEmpty, "sell book must stay empty on an all-buys feed")
      assert(st._1.length == day + 1, "buy book must be exactly the open lots")
      stW = EventStreams.washSaleFold(b, stW)
      assert(stW._3.isEmpty, "no sales -> no retained sale rows")
      val maxD = stW._4(2)
      assert(stW._2.forall(_(0) >= maxD - wash),
        "recent-buys must stay within one wash window")
      assert(stW._2.length <= wash + 1,
        s"recent-buys grew past the window: ${stW._2.length}")
    }
    // PERMANENTLY-OPEN SHORT: all sells — every retained sale row must
    // still carry open demand (it IS the open position), and a single
    // covering buy + window passage must drain the retained set
    var st2 = (Seq.empty[(Long, Long)], Seq.empty[(Long, Long)],
      Seq(0L, 0L, 0L, 0L))
    var stW2 = (Seq.empty[Seq[Long]], Seq.empty[Seq[Long]],
      Seq.empty[Seq[Long]], Seq.fill(11)(0L))
    (0 until 120).foreach { day =>
      val b = Seq(trade(day.toLong, day + 1L, 0, 10, 100))
      st2 = EventStreams.ledgerFold(b, st2._1, st2._2, st2._3)
      assert(st2._1.isEmpty, "buy book must stay empty on an all-sells feed")
      assert(st2._2.length == day + 1, "sell book must be exactly the open shorts")
      stW2 = EventStreams.washSaleFold(b, stW2)
      assert(stW2._3.forall(_(6) > 0L),
        "every retained sale must carry open demand (be the open position)")
      assert(stW2._3.length == day + 1,
        "retained sales must be exactly the open shorts, not history")
    }
    // cover the whole short, then advance past the window: state drains
    stW2 = EventStreams.washSaleFold(
      Seq(trade(120, 200, 1, 1200, 100)), stW2)
    stW2 = EventStreams.washSaleFold(
      Seq(trade(120 + 2 * wash, 201, 1, 1, 100)), stW2)
    assert(stW2._3.isEmpty,
      s"covered + out-of-window sales must finalize and evict, " +
        s"got ${stW2._3.length} retained")
  }

  test("every watermark-finalized fold carries its state across micro-batches") {
    // the AvailableNow gates drain each twin in ONE data batch, so no
    // fold merges a batch into carried state there. Here the same input
    // arrives as three ordered slices plus the flush sentinel, one file
    // per micro-batch, and each fold must emit exactly its one-batch rows
    import org.apache.spark.sql.DataFrame
    def sliced(name: String, df: DataFrame, order: org.apache.spark.sql.Column,
        sentinel: DataFrame): String = {
      val keys = df.select(order).collect().map(_.getLong(0)).sorted
      val (c1, c2) = (keys(keys.length / 3), keys(2 * keys.length / 3))
      val streamDir = tempDir(s"graft_${name}_slices")
      Seq(df.where(order < c1), df.where(order >= c1 && order < c2),
        df.where(order >= c2), sentinel).zipWithIndex.foreach { case (part, i) =>
        val stage = tempDir(s"graft_${name}_f$i")
        part.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val file = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
        val dst = streamDir.resolve(s"$i.parquet")
        java.nio.file.Files.move(file.toPath, dst)
        // file-source batches follow modification time: pin the order
        dst.toFile.setLastModified(1000000L * (i + 1))
      }
      streamDir.toString
    }
    // every run starts at once: the replays are tiny and mostly wait on
    // the driver, so overlapping them keeps this test cheap
    def started(streamDir: String, name: String, perFile: Boolean)(
        fold: DataFrame => DataFrame) = {
      val reader = spark.readStream.schema(spark.read.parquet(streamDir).schema)
      val src = (if (perFile) reader.option("maxFilesPerTrigger", 1) else reader)
        .parquet(streamDir)
      fold(src).writeStream.format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    }

    val events = graft.Tables.events(spark, dir)
    val eventSlices = sliced("events", events, unix_micros(col("ts")),
      events.orderBy(col("ts").desc).limit(1)
        .withColumn("ts", col("ts") + expr("INTERVAL 30 DAYS"))
        .withColumn("event_id", lit(-1L)).withColumn("user_id", lit(-1L))
        .withColumn("event_type", lit("__flush")).withColumn("value", lit(0.0)))
    val docs = graft.Tables.documents(spark, dir)
    val docSlices = sliced("docs", docs, col("doc_id"),
      docs.orderBy(col("doc_id").desc).limit(1)
        .withColumn("doc_id", col("doc_id") + lit(259200L))
        .withColumn("source", lit("__flush")))
    val folds = Seq[(String, String, DataFrame => DataFrame)](
      ("funnel", eventSlices, EventStreams.funnelSteps(_).toDF()),
      ("retention", eventSlices, EventStreams.retentionRows(_).toDF()),
      ("islands", eventSlices, EventStreams.intervalIslands(_).toDF()),
      ("session_paths", eventSlices, EventStreams.sessionPathRows(_).toDF()),
      ("scd2", eventSlices, EventStreams.scd2Intervals(_).toDF()),
      ("last_touch", eventSlices, EventStreams.lastTouchRows(_).toDF()),
      ("time_decay", eventSlices, EventStreams.timeDecayRows(_).toDF()),
      ("shapley", eventSlices, EventStreams.shapleyMaskRows(_).toDF()),
      ("journey", eventSlices, EventStreams.journeyTransitions(_).toDF()),
      ("fifo", eventSlices, EventStreams.fifoTotalsRows(_).toDF()),
      ("position_credit", eventSlices, EventStreams.positionCreditRows(_).toDF()),
      ("compaction", docSlices, files => EventStreams.compactionGroupRows(
        files.select(col("source"), col("doc_id").as("file_id"),
          col("n_chars").as("bytes"),
          timestamp_micros((col("doc_id") + lit(1L)) * lit(1000000L)).as("ts")),
        graft.operators.Pipeline.CompactTarget).toDF()))
    val runs = folds.map { case (name, slices, fold) =>
      (name, started(slices, s"t_fold_whole_$name", perFile = false)(fold),
        started(slices, s"t_fold_split_$name", perFile = true)(fold))
    }
    runs.foreach { case (_, whole, split) =>
      whole.awaitTermination(); split.awaitTermination()
    }
    def rows(q: org.apache.spark.sql.streaming.StreamingQuery) =
      spark.table(q.name).collect().map(_.toString).toSeq.sorted
    runs.foreach { case (name, whole, split) =>
      assert(split.recentProgress.count(_.numInputRows > 0) == 4,
        s"$name: expected one data batch per slice file")
      val (oneBatch, perSlice) = (rows(whole), rows(split))
      assert(oneBatch.nonEmpty, name)
      assert(perSlice == oneBatch, s"$name: split-only=" +
        s"${perSlice.diff(oneBatch)}, whole-only=${oneBatch.diff(perSlice)}")
    }
  }

  /** Each process started while `body` ran, as its command and stack
    * frames, from an in-process JFR `jdk.ProcessStart` recording. A
    * guard process started after `body` must be seen, or the recorder
    * missed it and the census fails.
    */
  private def processStarts(body: => Unit): Seq[(String, Seq[String])] = {
    val rec = new jdk.jfr.Recording()
    val starts = try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try { body; new ProcessBuilder("true").start().waitFor() } finally rec.stop()
      val file = tempDir("graft_jfr").resolve("census.jfr")
      rec.dump(file)
      jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => e.getString("command") -> e.getStackTrace.getFrames.asScala.toSeq
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}"))
    } finally rec.close()
    assert(starts.exists(_._2.exists(_.startsWith(classOf[EventStreamsSpec].getName))),
      s"the recording missed the census's own process: ${starts.map(_._1)}")
    starts
  }

  /** Fails on each process `body` started from a frame containing one of
    * `callers`. Without Hadoop's native library the local filesystem
    * forks chmod, readlink or ls for file metadata unless the caller
    * avoids it.
    */
  private def assertNoProcessFrom(callers: String*)(body: => Unit): Unit = {
    val forked = processStarts(body)
      .filter(_._2.exists(f => callers.exists(f.contains)))
    if (forked.nonEmpty) fail(s"${forked.size} processes started, the first:\n" +
      forked.take(3).map { case (cmd, frames) =>
        s"$cmd\n  ${frames.take(24).mkString("\n  ")}" }.mkString("\n"))
  }

  test("q401 and a table read start no checkpoint or listing process") {
    assertNoProcessFrom("streaming.checkpointing", "graft.Tables") {
      graft.SparkEntry.queries("q401_stream_wash_sale")(spark, dir).collect()
      graft.Tables.table(spark, dir, "lineitem")
    }
  }

  test("a decode and its CSV and JSONL exports start no file-write process") {
    // the shared session's Hadoop filesystem cache already holds a local
    // filesystem that forks chmod: only the installed session confs
    // keep the writers off it
    val spec = graft.schema.AllocRegistry.transaction
    val out = tempDir("graft_export_census")
    assertNoProcessFrom("CodecStreams", "HadoopMapReduceCommitProtocol",
        "streaming.checkpointing") {
      val decoded = graft.decode.Decoder.decode(graft.decode.Decoder.readRaw(
        spark, "fixtures/mtransaction.csv", spec), spec)
      try {
        graft.io.DelimitedWriter.writeDelimited(decoded.good, s"$out/csv")
        graft.io.DelimitedWriter.writeJson(decoded.good, s"$out/jsonl")
        graft.io.DelimitedWriter.writeJson(decoded.rejects, s"$out/rejects")
      } finally decoded.release()
    }
    assert(spark.read.text(s"$out/csv").count() == 12)
    assert(spark.read.text(s"$out/rejects").count() == 4)
  }

  test("a decode into reliable checkpoint files starts no process") {
    // RDD checkpoints write through the context's Hadoop conf, which the
    // installed session confs do not reach
    val spec = graft.schema.AllocRegistry.transaction
    val session = spark.newSession()
    session.conf.set(graft.Artifacts.ReliableArtifactsConf, "true")
    assertNoProcessFrom("ReliableCheckpointRDD", "setCheckpointDir") {
      val decoded = graft.decode.Decoder.decode(graft.decode.Decoder.readRaw(
        session, "fixtures/mtransaction.csv", spec), spec)
      try assert(decoded.good.count() == 12) finally decoded.release()
    }
  }
}
