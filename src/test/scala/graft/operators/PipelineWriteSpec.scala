package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** End-to-end test for the cleaned-corpus materialization: gate → dedup →
  * partitioned write, then a pruned read-back — the terminal pipeline
  * stage q57 measures but doesn't write.
  */
class PipelineWriteSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("writeCleanCorpus writes (lang, source) partitions that prune at the scan") {
    val docs = graft.Tables.documents(spark, dir)
    val out = tempDir("graft_clean").toString + "/corpus"
    Pipeline.writeCleanCorpus(docs, out)

    val cleaned = Pipeline.cleanedCorpus(docs)
    val full = spark.read.parquet(out)
    // round-trip: same kept set, schema preserved modulo partition-column
    // ordering (partitionBy moves lang/source to directory keys)
    assert(full.count() == cleaned.count() && full.count() > 0)
    assert(full.columns.toSet == docs.columns.toSet)

    // pick a real partition and read it back pruned
    val first = cleaned.select("lang", "source").distinct()
      .orderBy("lang", "source").limit(1).collect().head
    val (lang, source) = (first.getString(0), first.getString(1))
    val pruned = spark.read.parquet(out)
      .where(col("lang") === lang && col("source") === source)
    val scan = pruned.queryExecution.executedPlan.toString
    val partFilters = scan
      .replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
    assert(scan.contains("PartitionFilters: [") &&
      partFilters.contains("lang") && partFilters.contains("source"),
      s"(lang, source) predicate did not prune partitions:\n$scan")
    assert(pruned.count() ==
      cleaned.where(col("lang") === lang && col("source") === source).count())
    assert(pruned.count() > 0)

    // the dedup contract survives the write: one row per fingerprint
    val dupes = full
      .groupBy(graft.functions.PolyHash.hash(col("text")).as("fp"))
      .agg(count(lit(1)).as("n")).where(col("n") > 1).count()
    assert(dupes == 0, "duplicate fingerprints survived the write")
  }

  test("writeDecontaminatedCorpus keeps exactly q77's kept roster, partitions prune") {
    val out = tempDir("graft_decon").toString + "/corpus"
    CorpusStats.writeDecontaminatedCorpus(spark, dir, out)

    val written = spark.read.parquet(out)
    val docs = graft.Tables.documents(spark, dir)
    assert(written.count() > 0)
    assert(written.columns.toSet == docs.columns.toSet)

    // the written corpus is exactly the manifest's n_kept accounting
    val manifest = CorpusStats.bloomDecontaminate(spark, dir, fpp = 0.03)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val perSource = written.groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSource == manifest.filter(_._2 > 0),
      s"written partitions diverge from the q77 manifest:\n$perSource\nvs\n$manifest")

    // (lang, source) predicates prune at the scan, same as writeCleanCorpus
    val first = written.select("lang", "source").distinct()
      .orderBy("lang", "source").limit(1).collect().head
    val (lang, source) = (first.getString(0), first.getString(1))
    val pruned = spark.read.parquet(out)
      .where(col("lang") === lang && col("source") === source)
    val scan = pruned.queryExecution.executedPlan.toString
    val partFilters = scan
      .replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
    assert(scan.contains("PartitionFilters: [") &&
      partFilters.contains("lang") && partFilters.contains("source"),
      s"(lang, source) predicate did not prune partitions:\n$scan")
    assert(pruned.count() > 0)

    // decontamination contract: no written train doc shares a held-out
    // gram (fpp-independent — re-check against a tight filter)
    val contaminated = CorpusStats.bloomContaminated(spark, dir, fpp = 1e-6)
      .collect().map(_.getLong(0)).toSet
    val writtenIds = written.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(writtenIds.intersect(contaminated).isEmpty,
      "a contaminated document survived the decontaminated write")
  }

  test("metadataRowCount is exact on plain scans/projections, None past a filter") {
    val docs = graft.Tables.documents(spark, dir)
    val n = docs.count()
    // bare scan and a row-count-preserving projection: exact, from footers
    assert(Pipeline.metadataRowCount(docs).contains(n))
    assert(Pipeline.metadataRowCount(docs.select("doc_id", "lang")).contains(n))
    // a filter changes the row count — metadata must refuse, not guess
    assert(Pipeline.metadataRowCount(docs.where(col("doc_id") > 100)).isEmpty)
    // a derived frame (aggregate) likewise
    assert(Pipeline.metadataRowCount(docs.groupBy("lang").count()).isEmpty)
  }

  test("writeCompacted hits the file budget with disjoint key ranges per file") {
    val docs = graft.Tables.documents(spark, dir)
    val n = docs.count()
    val per = 20L
    val out = tempDir("graft_compact").toString + "/docs"
    Pipeline.writeCompacted(docs, out, "doc_id", per)

    val files = new java.io.File(out).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath).sorted
    // the budget is a target, not an exact count: repartitionByRange's
    // range sampling can skew a partition past recordsPerFile, at which
    // point maxRecordsPerFile (the HARD cap) splits it into an extra
    // file — assert the cap and a small tolerance, not exact equality
    val expected = ((n + per - 1) / per).toInt
    assert(files.length >= expected && files.length <= expected + 2,
      s"wrote ${files.length} files, budget says ~$expected")
    files.foreach { f =>
      val rows = spark.read.parquet(f).count()
      assert(rows <= per, s"file $f holds $rows rows, cap is $per")
    }

    // round-trip completeness
    val back = spark.read.parquet(out)
    assert(back.count() == n && back.columns.toSet == docs.columns.toSet)

    // range layout: every file covers a disjoint doc_id interval, so a
    // key predicate can skip whole files on footer min/max stats
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("doc_id")), max(col("doc_id"))).collect().head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"file key ranges overlap: hi=$hi lo2=$lo2")
      case _ =>
    }
  }

  test("writeShuffledShards: shard dirs hold the q128 permutation in file order") {
    val docs = graft.Tables.documents(spark, dir)
    val out = tempDir("graft_shuf").toString + "/shards"
    Pipeline.writeShuffledShards(docs, out)

    // every shard directory exists and the union is exactly the corpus
    val back = spark.read.parquet(out)
    assert(back.count() == docs.count())
    val shardDirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(shardDirs.length == 8, s"want 8 shard dirs, got ${shardDirs.toSeq}")

    // file order within one shard == q128's pos order (the dataloader
    // contract: sequential read replays the permutation, no sort needed)
    val q128 = graft.SparkEntry.queries("q128_shuffle_shards")(spark, dir)
      .collect().filter(_.getInt(0) == 3).sortBy(_.getLong(1)).map(_.getLong(2))
    val fileOrder = spark.read.parquet(s"$out/shard=3")
      .select("doc_id").collect().map(_.getLong(0))
    assert(fileOrder.nonEmpty && fileOrder.sameElements(q128),
      s"shard 3 file order diverges from q128 pos order " +
        s"(${fileOrder.take(5).toSeq} vs ${q128.take(5).toSeq})")

    // determinism: a rerun reproduces the identical per-shard sequence
    val out2 = tempDir("graft_shuf2").toString + "/shards"
    Pipeline.writeShuffledShards(docs, out2)
    val fileOrder2 = spark.read.parquet(s"$out2/shard=3")
      .select("doc_id").collect().map(_.getLong(0))
    assert(fileOrder2.sameElements(fileOrder), "rerun changed the permutation")
  }

  test("writeScrubbedCorpus masks every banned term; char delta matches q100") {
    val out = tempDir("graft_scrub").toString + "/corpus"
    TextAnalysis.writeScrubbedCorpus(spark, dir, out)

    val docs = graft.Tables.documents(spark, dir)
    val written = spark.read.parquet(out)
    assert(written.count() == docs.count())
    assert(written.columns.toSet == docs.columns.toSet)

    // no banned term survives as a whole token anywhere in the output
    val survivors = written.where(
      col("text").rlike("\\b(customer|supplier|order)\\b")).count()
    assert(survivors == 0, s"$survivors documents still contain banned terms")

    // the audit's accounting holds against the written bytes: each match
    // of length L became one mask char, so chars(orig) - chars(scrubbed)
    // = chars_removed - total_hits from q100's manifest
    val audit = graft.SparkEntry.queries("q100_denylist_scrub")(spark, dir)
      .agg(sum(col("total_hits")), sum(col("chars_removed"))).collect().head
    val (hits, removed) = (audit.getLong(0), audit.getLong(1))
    val origChars = docs.agg(sum(length(col("text")))).collect().head.getLong(0)
    val scrubChars = written.agg(sum(length(col("text")))).collect().head.getLong(0)
    assert(origChars - scrubChars == removed - hits,
      s"char delta ${origChars - scrubChars} != audit ${removed - hits}")
    assert(hits > 0, "fixture must actually contain banned terms")
  }
}
