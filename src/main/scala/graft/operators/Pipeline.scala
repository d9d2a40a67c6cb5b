package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{GraftQuery, Tables}
import graft.functions.PolyHash

/** Training-data pipeline COMPOSITION operators — the end-to-end shapes a
  * corpus-preparation job runs at 100 TB, built from the primitives the
  * other modules prove in isolation (quality stats from TextAnalysis,
  * fingerprint dedup from Similarity, deterministic hashing shared with
  * the oracle). No reference analog (openalloc/FINporter stops at per-row
  * transforms); these are the Table-B "beyond the reference" surface.
  *
  * Scale design notes, per query:
  *   - q57: filter is evaluated in the scan stage (pushed predicate on a
  *     derived column is still a narrow pre-shuffle filter), then exactly
  *     two shuffles — one on the 8-byte fingerprint (payload is a 4-field
  *     struct, never the text), one partial+final agg on (lang, source).
  *   - q58: sampling/split is a pure per-row hash — zero shuffles except
  *     the final presentation sort. At 100 TB this is a map-only job.
  *   - q59: packing is per-shard sequential, so parallelism = shard
  *     count (pick shards ≈ executor cores at scale); waste is bounded
  *     by one partial chunk per shard. The window shuffle partitions by
  *     shard, never a global sort.
  */
object Pipeline {

  /** LCG step shared (as literal arithmetic) with the DuckDB oracle —
    * deterministic, engine-agnostic bucketing. Both engines compute the
    * same BIGINT value for non-negative ids well below 2^33 (the fixture
    * ids are dense small ints; a production deployment over 64-bit ids
    * would swap in a full-width mix like splitmix64 behind the same
    * bucketing contract).
    */
  private[operators] def lcg(id: Column, mulA: Long, addC: Long): Column =
    pmod(id * mulA + addC, lit(2147483648L))
  private[operators] def lcgSql(idExpr: String, mulA: Long, addC: Long): String =
    s"(($idExpr * $mulA + $addC) % 2147483648)"

  private val SampleA = 1103515245L
  private val SampleC = 12345L
  // split constants are shared with the contamination check (q65,
  // operators/CorpusStats.scala): the split being audited must be the
  // split that q58 produces, from one source of truth
  private[operators] val SplitA = 22695477L
  private[operators] val SplitC = 1L
  private val MinTokens = 24
  private val ChunkTokens = 512
  private val PackShards = 8

  /** q57: the canonical corpus-cleaning pipeline as ONE distributed plan —
    * token-count quality gate → exact dedup on the text fingerprint
    * (keeper = lowest doc_id) → per-(lang, source) corpus stats with a
    * dropped-duplicate audit column. The fingerprint shuffle carries a
    * 4-field struct per row, not the text; the stats shuffle is
    * partial+final on a 100-value key space.
    */
  private val q57 = GraftQuery(
    "q57_corpus_pipeline",
    s"""WITH scored AS (
      |  SELECT doc_id, lang, source,
      |    len(string_split_regex(text, '\\s+')) AS ws_tokens,
      |    ${PolyHash.oracleSql("text")} AS fingerprint
      |  FROM documents),
      |kept AS (SELECT * FROM scored WHERE ws_tokens >= $MinTokens),
      |groups AS (
      |  SELECT fingerprint,
      |    arg_min(lang, doc_id) AS lang,
      |    arg_min(source, doc_id) AS source,
      |    arg_min(ws_tokens, doc_id) AS ws_tokens,
      |    count(*) AS members
      |  FROM kept GROUP BY 1)
      |SELECT lang, source, count(*) AS n_docs,
      |  CAST(sum(ws_tokens) AS BIGINT) AS total_tokens,
      |  CAST(sum(members - 1) AS BIGINT) AS dropped_dupes
      |FROM groups GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        size(split(col("text"), "\\s+")).as("ws_tokens"),
        PolyHash.hash(col("text")).as("fingerprint"))
    // free pipeline observability: CollectMetrics rides the existing pass
    // (no extra scan/action); a monitoring harness reads them off the
    // QueryExecution after any action (PipelineObserveSpec asserts them)
    val kept = scored.where(col("ws_tokens") >= MinTokens)
      .observe("q57_gate",
        count(lit(1)).as("kept_docs"),
        sum(col("ws_tokens")).as("kept_tokens"))
    val groups = kept.groupBy("fingerprint").agg(
      min_by(struct(col("doc_id"), col("lang"), col("source"),
        col("ws_tokens")), col("doc_id")).as("keep"),
      count(lit(1)).as("members"))
    groups
      .groupBy(col("keep.lang").as("lang"), col("keep.source").as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep.ws_tokens")).as("total_tokens"),
        sum(col("members") - 1).as("dropped_dupes"))
      .orderBy("lang", "source")
  }

  /** q58: deterministic stratified sampling + train/val/test split. Two
    * independent LCG hashes of doc_id drive (a) a per-language sampling
    * rate in per-mille (downsample the over-represented language, keep
    * more of the rest) and (b) the 80/10/10 split. Pure map-side row
    * logic — reproducible across engines, runs, and cluster sizes, which
    * is the property a training-data split actually needs (a rand()
    * sample is none of those).
    */
  private val q58 = GraftQuery(
    "q58_stratified_split",
    s"""SELECT doc_id, lang,
      |  CASE WHEN ${lcgSql("doc_id", SplitA, SplitC)} % 100 < 80 THEN 'train'
      |       WHEN ${lcgSql("doc_id", SplitA, SplitC)} % 100 < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents
      |WHERE ${lcgSql("doc_id", SampleA, SampleC)} % 1000 <
      |  CASE lang WHEN 'en' THEN 200 WHEN 'zh' THEN 400 ELSE 600 END
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val sampleBucket = lcg(col("doc_id"), SampleA, SampleC) % 1000
    val splitBucket = lcg(col("doc_id"), SplitA, SplitC) % 100
    val rate = when(col("lang") === "en", 200)
      .when(col("lang") === "zh", 400).otherwise(600)
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        when(splitBucket < 80, "train").when(splitBucket < 90, "val")
          .otherwise("test").as("split"))
      .where(sampleBucket < rate)
      .orderBy("doc_id")
  }

  /** q59: token-budget sequence packing, concatenate-and-chunk style:
    * documents are hash-sharded, each shard lays its docs end-to-end in
    * doc_id order, and every [[ChunkTokens]]-token span becomes one
    * training sequence (docs may straddle a boundary — the standard
    * LM-pretraining packing). Emits each doc's chunk id and offset. The
    * running sum is per-shard, so the sort is shard-local and the whole
    * job scales with shard count, not corpus size.
    */
  private val q59 = GraftQuery(
    "q59_sequence_packing",
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    ${lcgSql("doc_id", SampleA, SampleC)} % $PackShards AS shard,
      |    len(string_split_regex(text, '\\s+')) AS n_tokens
      |  FROM documents),
      |packed AS (
      |  SELECT doc_id, shard, n_tokens,
      |    coalesce(CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before
      |  FROM toks)
      |SELECT doc_id, shard, n_tokens,
      |  cum_before // $ChunkTokens AS chunk_id,
      |  cum_before % $ChunkTokens AS chunk_offset
      |FROM packed ORDER BY doc_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, d)
      .select(col("doc_id"),
        (lcg(col("doc_id"), SampleA, SampleC) % PackShards).as("shard"),
        size(split(col("text"), "\\s+")).as("n_tokens"))
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        expr(s"cum_before div $ChunkTokens").as("chunk_id"),
        (col("cum_before") % ChunkTokens).as("chunk_offset"))
      .orderBy("doc_id")
  }

  private val ChunkWidth = 64
  private val ChunkStride = 32

  /** q64: overlapping token-window chunking — every document split into
    * [[ChunkWidth]]-token windows advancing by [[ChunkStride]] (50%
    * overlap), the standard retrieval / pretraining chunker. A narrow
    * explode (ceil(max(n − width, 0)/stride) + 1 rows per doc — the +1
    * being the first window, with no window starting past the tokens the
    * previous one already fully covered), no shuffle except the
    * presentation sort; the last window is short rather than padded, and
    * an empty document still yields its one (empty) chunk so no doc_id
    * disappears from the corpus.
    */
  private val q64 = GraftQuery(
    "q64_doc_chunking",
    s"""WITH toks AS (
      |  SELECT doc_id, string_split_regex(text, '\\s+') AS t,
      |    len(string_split_regex(text, '\\s+')) AS n
      |  FROM documents),
      |chunks AS (
      |  SELECT doc_id, t,
      |    unnest(range(0, CAST(ceil(greatest(n - $ChunkWidth, 0) / $ChunkStride.0) AS BIGINT) + 1)) AS chunk_ix
      |  FROM toks)
      |SELECT doc_id, chunk_ix,
      |  array_to_string(t[chunk_ix*$ChunkStride+1 : chunk_ix*$ChunkStride+$ChunkWidth], ' ') AS chunk_text,
      |  len(t[chunk_ix*$ChunkStride+1 : chunk_ix*$ChunkStride+$ChunkWidth]) AS n_chunk_tokens
      |FROM chunks
      |ORDER BY doc_id, chunk_ix""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), "\\s+").as("t"))
      .withColumn("n", size(col("t")))
    val win = slice(col("t"),
      (col("chunk_ix") * ChunkStride + 1).cast("int"), lit(ChunkWidth))
    toks
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0L),
          ceil(greatest(col("n") - ChunkWidth, lit(0)) / ChunkStride.toDouble)))
          .as("chunk_ix"))
      .select(col("doc_id"), col("chunk_ix"),
        array_join(win, " ").as("chunk_text"),
        size(win).as("n_chunk_tokens"))
      .orderBy("doc_id", "chunk_ix")
  }

  private val CdcWindow = 4
  private val CdcDivisor = 16
  private val CdcP = 1000000007L

  /** Rolling 4-token hash at 1-based end position `i`, as an expression
    * string over a per-token-hash array — ONE template instantiated for
    * both engines (only element access differs), so the boundary rule can
    * never drift between the plan and the oracle.
    */
  private def cdcRollSql(at: String => String, i: String): String = {
    val a = at(s"$i-3"); val b = at(s"$i-2"); val c = at(s"$i-1"); val e = at(i)
    s"((((((($a * 31 + $b) % $CdcP) * 31 + $c) % $CdcP) * 31 + $e) % $CdcP) % $CdcDivisor)"
  }

  /** q96: content-defined chunking — chunk boundaries fall where a
    * rolling [[CdcWindow]]-token hash hits 0 mod [[CdcDivisor]] (the
    * rsync/LBFS cut rule over word tokens), so an insertion early in a
    * document only reshapes chunks up to the next boundary instead of
    * shifting every window the way q64's fixed stride does. That
    * boundary stability is what makes chunk fingerprints (emitted per
    * chunk) usable for chunk-level dedup across corpus snapshots.
    *
    * Map-only per document: the per-token hash array, the boundary
    * positions, and the chunk bounds are all row-local array exprs; the
    * only explode is over ~n/[[CdcDivisor]] chunk rows. posexplode_outer
    * (not posexplode) is deliberate: the non-outer form would let
    * InferFiltersFromGenerate copy the whole rolling-hash pipeline into
    * an interpreted size()>0 pre-filter (the q88 lesson), while the
    * outer form infers nothing — and the two are equivalent here because
    * `ends` always contains at least the final position.
    */
  private val q96 = GraftQuery(
    "q96_cdc_chunking",
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ts FROM documents),
       |hashed AS (
       |  SELECT doc_id, ts,
       |    list_transform(ts, t -> ${PolyHash.oracleSql("t")}) AS hv
       |  FROM toks),
       |bounds AS (
       |  SELECT doc_id, ts,
       |    list_append(
       |      list_filter(range($CdcWindow, len(ts)),
       |        i -> ${cdcRollSql(ix => s"hv[$ix]", "i")} = 0),
       |      len(ts)) AS ends
       |  FROM hashed),
       |chunks AS (
       |  SELECT doc_id, ts, ends,
       |    generate_subscripts(ends, 1) AS k, unnest(ends) AS e
       |  FROM bounds)
       |SELECT doc_id, CAST(k - 1 AS BIGINT) AS chunk_id,
       |  CAST(CASE WHEN k = 1 THEN 1 ELSE ends[k-1] + 1 END AS BIGINT) AS start_tok,
       |  CAST(e AS BIGINT) AS end_tok,
       |  CAST(e - (CASE WHEN k = 1 THEN 1 ELSE ends[k-1] + 1 END) + 1 AS BIGINT) AS n_tokens,
       |  ${PolyHash.oracleSql(
            s"array_to_string(ts[(CASE WHEN k = 1 THEN 1 ELSE ends[k-1] + 1 END):e], ' ')")}
       |    AS chunk_fp
       |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
    cdcChunks(Tables.documents(s, d)).orderBy("doc_id", "chunk_id")
  }

  /** The CDC chunker behind q96, over any (doc_id, text) frame — exposed
    * so the boundary-stability property (a prefix edit reshapes only the
    * chunks up to the next cut point) is testable on a controlled
    * fixture. Caller registers [[PolyHash]] first.
    */
  private[graft] def cdcChunks(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val roll = cdcRollSql(ix => s"element_at(hv, $ix)", "i")
    val toks = docs
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("ts"))
      .withColumn("hv", expr("transform(ts, t -> poly_hash(t))"))
      // Spark's sequence(a, b) runs DESCENDING when a > b, so the
      // internal-boundary scan needs the explicit size guard DuckDB's
      // half-open range() makes implicit
      .withColumn("ends", expr(
        s"""concat(
           |  CASE WHEN size(ts) > $CdcWindow
           |    THEN filter(sequence($CdcWindow, size(ts) - 1), i -> $roll = 0)
           |    ELSE CAST(array() AS array<int>) END,
           |  array(size(ts)))""".stripMargin))
    toks
      .select(col("doc_id"), col("ts"), col("ends"),
        posexplode_outer(col("ends")).as(Seq("k0", "e")))
      .withColumn("start_tok",
        when(col("k0") === 0, lit(1))
          .otherwise(expr("element_at(ends, k0) + 1")).cast("long"))
      .select(col("doc_id"), col("k0").cast("long").as("chunk_id"),
        col("start_tok"), col("e").cast("long").as("end_tok"),
        (col("e") - col("start_tok") + 1).cast("long").as("n_tokens"),
        graft.functions.PolyHash.hash(
          expr("array_join(slice(ts, CAST(start_tok AS INT), CAST(e - start_tok + 1 AS INT)), ' ')"))
          .as("chunk_fp"))
  }

  /** The kept documents q57 aggregates over — same token gate, same
    * fingerprint dedup (keeper = lowest doc_id), but carrying the full
    * rows instead of collapsing to stats.
    */
  def cleanedCorpus(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val keepCols = struct(col("doc_id") +: docs.columns.filter(_ != "doc_id")
      .map(col).toSeq: _*)
    docs
      .where(size(split(col("text"), "\\s+")) >= MinTokens)
      .groupBy(PolyHash.hash(col("text")).as("fingerprint"))
      .agg(min_by(keepCols, col("doc_id")).as("keep"))
      .select("keep.*")
  }

  /** Materialize the cleaned corpus — the terminal stage q57 stops short
    * of: gate → dedup → WRITE, partitioned by (lang, source) so every
    * downstream consumer (per-language tokenizer runs, source-scoped
    * audits) reads only the partitions it needs. Partition pruning at the
    * read side is the point of the layout: a (lang, source) predicate
    * must reach the scan as a PartitionFilter, never a data filter —
    * PipelineWriteSpec asserts exactly that on the read-back. The
    * partition key space is ~languages × sources (bounded, ~100 values),
    * so files stay large at 100 TB rather than degenerating into a
    * small-file explosion the way a high-cardinality key would.
    */
  def writeCleanCorpus(docs: org.apache.spark.sql.DataFrame, outDir: String): Unit =
    cleanedCorpus(docs).write.mode("overwrite")
      .partitionBy("lang", "source").parquet(outDir)

  /** Small-file compaction — the table-maintenance write every long-lived
    * 100 TB corpus needs between ingests: ingestion and per-partition
    * writes leave thousands of KB-sized parquet files whose open/footer
    * overhead dominates scan time. This rewrites the data as
    * ceil(n / recordsPerFile) files RANGE-LAID by `key`, so each output
    * file covers a disjoint key interval (min/max footer stats then let a
    * key-predicate scan skip whole files — poor-man's clustering) and
    * `maxRecordsPerFile` hard-caps stragglers if the range estimate
    * skews. Sizing the budget does NOT pay a data pass (since round 10):
    * when the input is a plain scan/projection over a parquet table —
    * the compaction shape — the exact row count comes from the parquet
    * FOOTER metadata ([[metadataRowCount]]), O(#files) driver-side
    * metadata reads instead of a full cluster scan of the corpus before
    * the rewrite; a filtered/derived frame falls back to `count()`.
    */
  def writeCompacted(df: org.apache.spark.sql.DataFrame, outDir: String,
      key: String, recordsPerFile: Long): Unit = {
    require(recordsPerFile > 0, "recordsPerFile must be positive")
    val n = metadataRowCount(df).getOrElse(df.count())
    val files = math.max(1L, (n + recordsPerFile - 1) / recordsPerFile).toInt
    df.repartitionByRange(files, col(key))
      .sortWithinPartitions(key)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", recordsPerFile)
      .parquet(outDir)
  }

  /** Exact row count from parquet FOOTER metadata, when the plan allows
    * it: a bare parquet scan, optionally under row-count-preserving
    * projections, sums its row-group counts straight out of the file
    * footers — no executor reads a single data page. Any filter,
    * generator, join, or non-parquet source returns None (the count
    * would be wrong or unknowable from metadata) and the caller pays the
    * real pass. This is the table-maintenance cheat every lakehouse
    * compactor uses: the input IS a table on disk, and its row count is
    * already written down.
    */
  private[operators] def metadataRowCount(
      df: org.apache.spark.sql.DataFrame): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def scanOf(p: LogicalPlan): Option[HadoopFsRelation] = p match {
      case Project(_, child) => scanOf(child)
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation
            if r.fileFormat.isInstanceOf[
              org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] =>
          Some(r)
        case _ => None
      }
      case _ => None
    }
    scanOf(df.queryExecution.optimizedPlan).map { rel =>
      val conf = rel.sparkSession.sessionState.newHadoopConf()
      rel.location.inputFiles.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f), conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try reader.getRecordCount finally reader.close()
      }.sum
    }
  }

  /** q81: mixture balancing — downsample every source to (approximately)
    * the smallest source's size by deterministic per-document sampling,
    * and emit the mixing manifest (per-source corpus size, applied rate
    * in ppm, kept count). This is the data-mixing step of a pretraining
    * pipeline: source weights become per-source keep rates, rates ride a
    * broadcast of ~#sources rows, and the corpus itself is filtered
    * MAP-SIDE — the 100 TB side is never shuffled, never materialized,
    * and the sample is reproducible row-by-row (LCG on doc_id, the q58
    * constants) rather than an RNG draw. Rates are exact integer
    * arithmetic (ppm floor), so both engines decide every document
    * identically.
    */
  private val q81 = GraftQuery(
    "q81_mixture_balance",
    s"""WITH counts AS (
       |  SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
       |m AS (SELECT min(n_docs) AS m FROM counts),
       |rates AS (
       |  SELECT source, n_docs, (m.m * 1000000) // n_docs AS rate_ppm
       |  FROM counts, m),
       |kept AS (
       |  SELECT d.source, count(*) AS n_kept
       |  FROM documents d JOIN rates r ON d.source = r.source
       |  WHERE (${lcgSql("d.doc_id", SampleA, SampleC)}) % 1000000 < r.rate_ppm
       |  GROUP BY 1)
       |SELECT r.source AS source, CAST(r.n_docs AS BIGINT) AS n_docs,
       |  CAST(r.rate_ppm AS BIGINT) AS rate_ppm,
       |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
       |FROM rates r LEFT JOIN kept k ON r.source = k.source
       |ORDER BY 1""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    // registry persist: counts backs m, rates, and the final manifest —
    // tiny (~#sources rows) but derived from a full corpus scan, so each
    // uncached reuse would re-run that scan; released via
    // Artifacts.release(session)
    val counts = graft.Artifacts.checkpointedDf(s, s"q81_counts:$d") {
      docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    }
    val m = counts.agg(min(col("n_docs")).as("m"))
    val rates = counts.crossJoin(broadcast(m))
      .withColumn("rate_ppm", expr("m * 1000000 DIV n_docs"))
      .select("source", "n_docs", "rate_ppm")
    val kept = docs.join(broadcast(rates), "source")
      .where(lcg(col("doc_id"), SampleA, SampleC) % 1000000 < col("rate_ppm"))
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
    rates.join(broadcast(kept), Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("rate_ppm"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy("source")
  }

  /** q99: TEMPERATURE-reweighted mixture sampling — the standard
    * multilingual pretraining mix (p_l ∝ n_l^α, α < 1, the XLM-R/mT5
    * recipe) instead of q81's full balancing. Keyed on `lang` (the
    * fixture's genuinely skewed axis: en ≈ 3× the others; `source` is
    * uniform, which would make the rate arithmetic vacuous). Keep rates
    * are anchored so the smallest language keeps everything and nothing
    * is upsampled: rate_l = (n_min / n_l)^(1-α) — q81's full balance at
    * α=0, pass-through at α=1. The registered oracle pins α = 0.5, so
    * the exponent is a single IEEE-754 `sqrt` — correctly rounded in
    * both engines, hence the floor(·1e6) ppm rate is bit-identical
    * cross-engine (a general pow(α) oracle would gamble on libm rounding
    * at floor boundaries; [[temperatureRates]] keeps the parametric form
    * for engine-side use, ScaleSpec pins its monotonicity in α).
    *
    * Scale shape is q81's: rates ride a ~#langs-row broadcast, the
    * corpus is filtered map-side by the deterministic LCG ppm draw, and
    * the 100 TB side is never shuffled.
    */
  private val q99 = GraftQuery(
    "q99_temperature_mix",
    s"""WITH counts AS (
       |  SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
       |m AS (SELECT min(n_docs) AS m FROM counts),
       |rates AS (
       |  SELECT lang, n_docs,
       |    CAST(floor(1000000 * sqrt(CAST(m.m AS DOUBLE) / n_docs)) AS BIGINT)
       |      AS rate_ppm
       |  FROM counts, m),
       |kept AS (
       |  SELECT d.lang, count(*) AS n_kept
       |  FROM documents d JOIN rates r ON d.lang = r.lang
       |  WHERE (${lcgSql("d.doc_id", SampleA, SampleC)}) % 1000000 < r.rate_ppm
       |  GROUP BY 1)
       |SELECT r.lang AS lang, CAST(r.n_docs AS BIGINT) AS n_docs,
       |  r.rate_ppm,
       |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
       |FROM rates r LEFT JOIN kept k ON r.lang = k.lang
       |ORDER BY 1""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
    val rates = temperatureRates(s, d, alpha = 0.5)
    val kept = docs.join(broadcast(rates), "lang")
      .where(lcg(col("doc_id"), SampleA, SampleC) % 1000000 < col("rate_ppm"))
      .groupBy("lang").agg(count(lit(1)).as("n_kept"))
    rates.join(broadcast(kept), Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("rate_ppm"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy("lang")
  }

  /** Per-language temperature keep rates in ppm:
    * floor(1e6·(n_min/n_l)^(1-α)). α=0 reproduces full balancing; α=1
    * keeps every language whole. The per-lang count table is a session
    * artifact (one corpus scan shared by q99 and any other consumer;
    * released via `Artifacts.release`).
    */
  private[operators] def temperatureRates(
      s: org.apache.spark.sql.SparkSession, d: String,
      alpha: Double): org.apache.spark.sql.DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1], got $alpha")
    val counts = graft.Artifacts.checkpointedDf(s, s"q99_lang_counts:$d") {
      Tables.documents(s, d).select(col("doc_id"), col("lang"))
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
    }
    val m = counts.agg(min(col("n_docs")).as("m"))
    val frac = col("m").cast("double") / col("n_docs")
    // α=0.5 (the oracle-pinned point) goes through sqrt, which IEEE-754
    // requires to be correctly rounded; Math.pow only promises 1 ulp, not
    // enough to guarantee floor(·1e6) agrees with DuckDB's sqrt.
    val scaled =
      if (alpha == 0.5) sqrt(frac) else pow(frac, lit(1.0 - alpha))
    counts.crossJoin(broadcast(m))
      .withColumn("rate_ppm", floor(lit(1000000.0) * scaled))
      .select("lang", "n_docs", "rate_ppm")
  }

  /** The q96 chunking SQL minus the ordering, as a reusable CTE chain —
    * q97 composes the dedup aggregation on top of the same text.
    */
  private[graft] def cdcOracleCtes: String =
    s"""toks AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ts FROM documents),
       |hashed AS (
       |  SELECT doc_id, ts,
       |    list_transform(ts, t -> ${PolyHash.oracleSql("t")}) AS hv
       |  FROM toks),
       |bounds AS (
       |  SELECT doc_id, ts,
       |    list_append(
       |      list_filter(range($CdcWindow, len(ts)),
       |        i -> ${cdcRollSql(ix => s"hv[$ix]", "i")} = 0),
       |      len(ts)) AS ends
       |  FROM hashed),
       |chunkrows AS (
       |  SELECT doc_id, ts, ends,
       |    generate_subscripts(ends, 1) AS k, unnest(ends) AS e
       |  FROM bounds),
       |allchunks AS (
       |  SELECT doc_id, CAST(k - 1 AS BIGINT) AS chunk_id,
       |    ${PolyHash.oracleSql(
              s"array_to_string(ts[(CASE WHEN k = 1 THEN 1 ELSE ends[k-1] + 1 END):e], ' ')")}
       |      AS chunk_fp
       |  FROM chunkrows)""".stripMargin

  /** q97: chunk-level dedup manifest — the payoff of q96's stable cut
    * points: identical spans produce identical chunk fingerprints even
    * when they sit at different offsets in different documents, so one
    * hash aggregation over (fp) finds every repeated span and elects a
    * keeper (lowest (doc_id, chunk_id)). This is dedup BELOW document
    * granularity (q43 removes whole-doc copies; q89 measures gram-level
    * overlap; this emits the actionable span list) — the Lee et al.
    * substring-dedup action expressed as chunk arithmetic.
    *
    * Scale: chunks shuffle once on the 8-byte fp (partial count
    * map-side); the keeper election is a window within fp partitions of
    * the duplicated fps only — a vanishing fraction of the corpus.
    */
  private val q97 = GraftQuery(
    "q97_chunk_dedup",
    s"""WITH $cdcOracleCtes,
       |dups AS (
       |  SELECT chunk_fp, CAST(count(*) AS BIGINT) AS n_copies,
       |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
       |  FROM allchunks GROUP BY 1 HAVING count(*) >= 2),
       |keepers AS (
       |  SELECT chunk_fp, doc_id AS keeper_doc, chunk_id AS keeper_chunk FROM (
       |    SELECT chunk_fp, doc_id, chunk_id,
       |      row_number() OVER (PARTITION BY chunk_fp ORDER BY doc_id, chunk_id) AS rn
       |    FROM allchunks) t WHERE rn = 1)
       |SELECT d.chunk_fp AS chunk_fp, d.n_copies, d.n_docs,
       |  k.keeper_doc, k.keeper_chunk
       |FROM dups d JOIN keepers k ON d.chunk_fp = k.chunk_fp
       |ORDER BY chunk_fp""".stripMargin) { (s, d) =>
    val chunks = cdcChunks(Tables.documents(s, d))
      .select(col("doc_id"), col("chunk_id"), col("chunk_fp"))
    val dups = chunks.groupBy("chunk_fp")
      .agg(count(lit(1)).as("n_copies"),
        count_distinct(col("doc_id")).as("n_docs"))
      .where(col("n_copies") >= 2)
    val w = Window.partitionBy("chunk_fp").orderBy("doc_id", "chunk_id")
    val keepers = chunks
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("chunk_fp"), col("doc_id").as("keeper_doc"),
        col("chunk_id").as("keeper_chunk"))
    dups.join(keepers, "chunk_fp")
      .select(col("chunk_fp"), col("n_copies"), col("n_docs"),
        col("keeper_doc"), col("keeper_chunk"))
      .orderBy("chunk_fp")
  }

  /** q117's selection budget (whitespace tokens) — sized to keep a
    * nontrivial subset at every fixture SF (corpora hold ~27k tokens at
    * sf0.01, ~270k at sf0.1).
    */
  private val TokenBudget = 12000L

  /** Quality-band width (micro-units) for q117's two-level cumulative
    * sum: the corpus shuffles once on ≤ 1e6/width bucket keys; finer
    * bands mean more parallel partitions for the within-band running
    * sums. The band table itself stays metadata-sized.
    */
  private val QBandWidth = 10000L

  /** q117: TOKEN-BUDGET corpus selection — the "best N tokens" cut every
    * training run makes: order documents by quality (q27's score, doc_id
    * tie-break) and keep the prefix whose cumulative token count fits
    * the budget. A cumulative sum over a global order is inherently
    * sequential, so the engine decomposes it two-level: per-document
    * rows shuffle ONCE on a quality-band key (band = quality_micro div
    * [[QBandWidth]] — order-compatible with the global sort since the
    * band is a monotone function of the score), within-band running sums
    * run in parallel per band, and the cross-band offsets come from a
    * metadata-sized band-total table (≤ 1e6/width rows) broadcast back.
    * No corpus-wide single-partition window ever exists, which is the
    * difference between this and the textbook `sum() OVER (ORDER BY …)`
    * the ORACLE uses. All summed values are integers — no float decides
    * membership.
    */
  private val q117 = GraftQuery(
    "q117_token_budget",
    s"""WITH ${TextAnalysis.qualityOracleCte},
       |c AS (
       |  SELECT doc_id, quality_micro, n_tokens,
       |    sum(n_tokens) OVER (ORDER BY quality_micro DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
       |  FROM qual)
       |SELECT doc_id, quality_micro, n_tokens,
       |  CAST(cum_tokens AS BIGINT) AS cum_tokens
       |FROM c WHERE cum_tokens <= $TokenBudget
       |ORDER BY quality_micro DESC, doc_id""".stripMargin) { (s, d) =>
    val base = TextAnalysis.qualityBase(s, d)
      .select(col("doc_id"), TextAnalysis.qualityMicroCol.as("quality_micro"),
        col("n_tokens").cast("long").as("n_tokens"))
    // descending bands: the cut walks quality best-first ([[Banded]])
    Banded.cumSums(base, Nil,
        Seq(col("quality_micro").desc, col("doc_id")),
        floor(col("quality_micro") / QBandWidth).cast("long"),
        Seq(Banded.CumSpec("cum_tokens", col("n_tokens"))), bandDesc = true)
      .where(col("cum_tokens") <= TokenBudget)
      .select(col("doc_id"), col("quality_micro"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("quality_micro").desc, col("doc_id"))
  }

  /** q128: deterministic global corpus shuffle into ordered training
    * shards — the stage every training run puts between corpus and
    * dataloader ("shuffle the data"). A naive global ORDER BY
    * random-key is a full-corpus range sort (sampling pass + skew-prone
    * range exchange); this is the scale-honest equivalent: shard =
    * hash(doc_id) (which corpus-wide IS a uniform random partition),
    * then an INDEPENDENT second hash orders rows within each shard — a
    * reproducible global permutation from ONE hash exchange plus
    * shard-local sorts, no range sampling, no global sort, shard count
    * = dataloader parallelism. The permutation is seed-stable:
    * re-running yields identical shard sequences — the reproducibility
    * a training-data pipeline owes its consumers.
    *
    * The ordering hash must genuinely MIX, not merely relabel — which
    * for an affine LCG means the multiplier must be LARGE relative to
    * the modulus so every id increment wraps it: the first cut of this
    * query used a textbook (a=1664525, m=2^31) LCG whose products stay
    * below the modulus across the whole fixture id range, making the
    * "permutation" exactly input order (caught by ScaleSpec's
    * order-breaking pin; a small-digit-string polynomial hash fails the
    * same way for the same no-wraparound reason). a=1588635695 ≈ 0.74·m
    * wraps on every step. Ordering within shard by the SHARDING hash
    * would be just as wrong in the other direction: rows would sort by
    * bucket residue class — correlated, not shuffled.
    */
  private val ShufShards = 8
  private val ShufOrdA = 1588635695L
  private val ShufOrdC = 981723457L
  private val q128 = GraftQuery(
    "q128_shuffle_shards",
    s"""SELECT CAST(${lcgSql("doc_id", SampleA, SampleC)} % $ShufShards AS INTEGER) AS shard,
      |  CAST(row_number() OVER (
      |    PARTITION BY ${lcgSql("doc_id", SampleA, SampleC)} % $ShufShards
      |    ORDER BY ${lcgSql("doc_id", ShufOrdA, ShufOrdC)}, doc_id) AS BIGINT) AS pos,
      |  doc_id
      |FROM documents
      |ORDER BY shard, pos""".stripMargin) { (s, d) =>
    val shard = (lcg(col("doc_id"), SampleA, SampleC) % ShufShards).cast("int")
    val ord = lcg(col("doc_id"), ShufOrdA, ShufOrdC)
    val w = Window.partitionBy(col("shard")).orderBy(ord, col("doc_id"))
    Tables.documents(s, d)
      .select(shard.as("shard"), col("doc_id"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("shard"), col("pos"), col("doc_id"))
      .orderBy("shard", "pos")
  }

  /** The write form of [[q128]]: the shuffled corpus laid out as one
    * directory per shard (`shard=N/`), rows within each shard file in
    * permutation order (parquet preserves row order per file; a single
    * sorted task writes each shard). A dataloader reads shard dirs in
    * parallel and rows sequentially — no further shuffling needed at
    * train time. Same determinism contract as q128: a rerun with the
    * same seed pair yields the identical row sequence per shard
    * (PipelineWriteSpec pins read-back order against q128's pos).
    */
  def writeShuffledShards(docs: org.apache.spark.sql.DataFrame,
      outDir: String, nShards: Int = ShufShards): Unit = {
    val shard = (lcg(col("doc_id"), SampleA, SampleC) % nShards).cast("int")
    val ord = lcg(col("doc_id"), ShufOrdA, ShufOrdC)
    docs.withColumn("shard", shard)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), ord, col("doc_id"))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
  }

  /** The WRITTEN chunk-fingerprint store behind q129 — the dedup
    * family's storage artifact, mirroring the vector index (q105) and
    * BM25 postings (q122) cold-start pattern: the accumulated corpus'
    * distinct CDC chunk fingerprints, range-laid on `chunk_fp` so an
    * ingest probe scans only the fingerprint column of sorted 8-byte
    * keys. Built once per (session, dir) through [[graft.Artifacts]];
    * release deletes the files. The store corpus is `doc_id % 4 != 0`
    * (the complement is q129's arriving shard — the fixture's stand-in
    * for "yesterday's corpus" vs "today's delivery").
    */
  private[operators] def writtenChunkStore(
      s: SparkSession, d: String): String =
    graft.Artifacts.cached[String](s, s"chunkStore:$d") {
      val base = java.nio.file.Files.createTempDirectory("graft_chunk_store")
      cdcChunks(Tables.documents(s, d).where(col("doc_id") % 4 =!= 0))
        .select(col("chunk_fp")).distinct()
        .repartitionByRange(4, col("chunk_fp"))
        .sortWithinPartitions("chunk_fp")
        .write.mode("overwrite").parquet(s"$base/fingerprints")
      (base.toString, () => {
        org.apache.commons.io.FileUtils.deleteDirectory(base.toFile); ()
      })
    }

  /** q129: COLD-START ingest dedup — an arriving document shard is CDC-
    * chunked and every chunk classified against the WRITTEN fingerprint
    * store ([[writtenChunkStore]]) with no session state: `dup_store`
    * (span already in the accumulated corpus), `dup_shard` (repeated
    * within the delivery itself — not its first (doc_id, chunk_id)
    * occurrence), or `new`. This is the first stage a production corpus
    * pipeline runs on every delivery, and the batch cold-start twin of
    * q98's streaming ingest: q98 proves the STREAM against the session
    * manifest, q129 proves the FILES (a fresh process with the store
    * directory computes the same verdicts — the files==artifact
    * contract q105/q122 pin for the vector and lexical tiers). Scale
    * shape: the store side of the probe reads ONLY the sorted 8-byte
    * `chunk_fp` column (PlanSpec pins the one-column ReadSchema — text
    * never rides the join); the intra-shard window partitions by
    * fingerprint over delivery-sized data. At 100 TB the store probe
    * takes a bloom pre-filter map-side (the q77/q80 mechanism) before
    * the exact anti side — composition, not new machinery.
    */
  private val q129 = GraftQuery(
    "q129_cold_ingest_dedup",
    s"""WITH $cdcOracleCtes,
       |store AS (
       |  SELECT DISTINCT chunk_fp FROM allchunks WHERE doc_id % 4 <> 0),
       |arr AS (
       |  SELECT doc_id, chunk_id, chunk_fp,
       |    row_number() OVER (PARTITION BY chunk_fp
       |      ORDER BY doc_id, chunk_id) AS rn
       |  FROM allchunks WHERE doc_id % 4 = 0)
       |SELECT a.doc_id, a.chunk_id, a.chunk_fp,
       |  CASE WHEN s.chunk_fp IS NOT NULL THEN 'dup_store'
       |       WHEN a.rn > 1 THEN 'dup_shard' ELSE 'new' END AS status
       |FROM arr a LEFT JOIN store s ON a.chunk_fp = s.chunk_fp
       |ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
    classifyDelivery(s, d,
      s.read.parquet(s"${writtenChunkStore(s, d)}/fingerprints"))
  }

  /** The classification core shared by q129 (store v1) and q142 (store
    * v2): CDC-chunk the arriving shard, mark each chunk `dup_store` /
    * `dup_shard` / `new` against whatever fingerprint frame the caller
    * resolved. The store side carries ONLY the 8-byte `chunk_fp`.
    */
  private def classifyDelivery(s: SparkSession, d: String,
      store: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val arr = cdcChunks(Tables.documents(s, d).where(col("doc_id") % 4 === 0))
      .select(col("doc_id"), col("chunk_id"), col("chunk_fp"))
    val w = Window.partitionBy("chunk_fp").orderBy("doc_id", "chunk_id")
    arr.withColumn("rn", row_number().over(w))
      .join(store.withColumn("in_store", lit(true)), Seq("chunk_fp"), "left")
      .select(col("doc_id"), col("chunk_id"), col("chunk_fp"),
        when(col("in_store"), "dup_store")
          .when(col("rn") > 1, "dup_shard")
          .otherwise("new").as("status"))
      .orderBy("doc_id", "chunk_id")
  }

  /** The chunk-store manifest's (version, kind, segment-label) rows —
    * ONE literal shared by [[versionedChunkStore]]'s writer (labels map
    * to paths there) and q301's vacuum oracle, so the manifest the
    * vacuum plans against can never drift from the manifest the store
    * actually writes.
    */
  private[operators] val ChunkManifestSpec: Seq[(Int, String, String)] = Seq(
    (1, "segment", "fingerprints"),
    (2, "segment", "fingerprints"), (2, "segment", "delta1"),
    (3, "segment", "compact1"),
    (4, "segment", "compact1"),
    (4, "tombstone", "tomb1"),
    (5, "segment", "compact2"))

  /** The chunk-fingerprint store as a VERSIONED artifact — q118's
    * manifest mechanism applied to the dedup tier, closing the ingest
    * loop q129 leaves open: after a delivery is classified, its `new`
    * fingerprints are COMMITTED as an immutable delta segment plus
    * manifest rows, so tomorrow's probe runs against v2 and yesterday's
    * spans classify as `dup_store` instead of `new` forever.
    *
    *   v1 = [base]          — the accumulated corpus (q129's store)
    *   v2 = [base, delta1]  — after committing today's new spans
    *   v3 = [compact1]      — v2 folded to one range-laid segment
    *   v4 = [compact1] − tomb1 — right-to-erasure: the erased docs'
    *        EXCLUSIVE fingerprints tombstoned (spans still referenced
    *        by a surviving document are NOT erased — the store keeps
    *        the last reference alive)
    *   v5 = [compact2]      — v4 compacted: tombstoned rows physically
    *        dropped in one fingerprint-column rewrite
    *
    * The commit protocol is the 100 TB one: nothing in the base segment
    * is rewritten OR copied — the manifest's absolute-path row adopts
    * the already-written files ([[writtenChunkStore]]), and the only new
    * bytes are the delta fingerprints (range-laid on `chunk_fp` like the
    * base, so the per-segment probe stays a sorted one-column scan).
    */
  private[graft] def versionedChunkStore(s: SparkSession, d: String): String =
    graft.Artifacts.cached[String](s, s"chunkStoreVersions:$d") {
      val baseSeg = s"${writtenChunkStore(s, d)}/fingerprints"
      val base = java.nio.file.Files.createTempDirectory("graft_chunk_versions")
      cdcChunks(Tables.documents(s, d).where(col("doc_id") % 4 === 0))
        .select(col("chunk_fp")).distinct()
        .join(s.read.parquet(baseSeg), Seq("chunk_fp"), "left_anti")
        .repartitionByRange(2, col("chunk_fp"))
        .sortWithinPartitions("chunk_fp")
        .write.mode("overwrite").parquet(s"$base/segments/delta1")
      // v3 = compaction: the v2 union rewritten as ONE range-laid
      // segment — an O(store) fingerprint-column merge (text never read)
      // that caps the probe fan-out daily commits accrete; base and
      // delta are disjoint by construction (delta is the anti-join
      // remainder), so the rewrite is a plain union, no dedup pass
      s.read.parquet(baseSeg)
        .unionByName(s.read.parquet(s"$base/segments/delta1"))
        .repartitionByRange(4, col("chunk_fp"))
        .sortWithinPartitions("chunk_fp")
        .write.mode("overwrite").parquet(s"$base/segments/compact1")
      // v4 = erasure commit: tombstone the fingerprints ONLY the erased
      // documents (doc_id % 20 == 3, a base-corpus subset) contributed.
      // A span shared with any surviving base document keeps its store
      // entry — erasing it would misclassify the survivor's span as
      // `new` and re-admit text the corpus still holds. The tombstone
      // write is O(erased docs' chunks), never a store rewrite.
      val baseChunks =
        cdcChunks(Tables.documents(s, d).where(col("doc_id") % 4 =!= 0))
      baseChunks.where(col("doc_id") % 20 === 3)
        .select("chunk_fp").distinct()
        .join(baseChunks.where(col("doc_id") % 20 =!= 3)
          .select("chunk_fp").distinct(), Seq("chunk_fp"), "left_anti")
        .repartitionByRange(1, col("chunk_fp"))
        .sortWithinPartitions("chunk_fp")
        .write.mode("overwrite").parquet(s"$base/segments/tomb1")
      // v5 = post-erase compaction: physically drop tombstoned rows in
      // one sorted fingerprint-column rewrite, restoring the serve path
      // to a single segment scan with no anti-join mask
      s.read.parquet(s"$base/segments/compact1")
        .join(s.read.parquet(s"$base/segments/tomb1"),
          Seq("chunk_fp"), "left_anti")
        .repartitionByRange(4, col("chunk_fp"))
        .sortWithinPartitions("chunk_fp")
        .write.mode("overwrite").parquet(s"$base/segments/compact2")
      val mf = s.createDataFrame(ChunkManifestSpec.map { case (v, k, lbl) =>
        (v, k, if (lbl == "fingerprints") baseSeg else s"segments/$lbl")
      }).toDF("version", "kind", "path")
      mf.coalesce(1).write.mode("overwrite").parquet(s"$base/manifest")
      (base.toString, () => {
        org.apache.commons.io.FileUtils.deleteDirectory(base.toFile); ()
      })
    }

  /** Resolve a chunk-store snapshot version from its manifest into the
    * union of segment fingerprint frames (metadata-sized read, like
    * [[Similarity.manifestResolve]]). Absolute manifest paths are
    * adopted files outside the store dir; relative ones live under it.
    */
  private[graft] def chunkStoreResolve(s: SparkSession, base: String,
      version: Int): org.apache.spark.sql.DataFrame = {
    val rows = s.read.parquet(s"$base/manifest")
      .where(col("version") === version)
      .select("kind", "path").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val segs = rows.collect { case ("segment", p) => p }
    val tombs = rows.collect { case ("tombstone", p) => p }
    require(segs.nonEmpty, s"no chunk-store segments for version $version")
    def read(p: String) =
      s.read.parquet(if (p.startsWith("/")) p else s"$base/$p")
    val live = segs.map(read).reduce(_.unionByName(_))
    // tombstones mask at serve time (broadcast anti: the tombstone side
    // is erased-docs-sized, never store-sized); compaction removes them
    if (tombs.isEmpty) live
    else live.join(broadcast(tombs.map(read).reduce(_.unionByName(_))),
      Seq("chunk_fp"), "left_anti")
  }

  /** q142: the CLOSED ingest loop — re-classify the SAME delivery after
    * its commit. The store is resolved at v2 (base + delta1 via the
    * manifest), so every chunk the v1 pass called `new` or `dup_shard`
    * now probes into the store and classifies `dup_store`: accumulate →
    * dedup → accumulate converges, which is the property a daily corpus
    * pipeline actually relies on (re-delivered files cost zero new
    * spans). The oracle re-derives v2 the long way (base ∪ delivery-minus-
    * base) and classifies against it — all rows land `dup_store`, but
    * the gate proves it by value, not by assumption. Scale shape is
    * q129's: the probe reads only sorted 8-byte fingerprints per
    * segment (PlanSpec pins the one-column ReadSchema on BOTH segments).
    */
  private val q142 = GraftQuery(
    "q142_ingest_loop_closed",
    s"""WITH $cdcOracleCtes,
       |base AS (
       |  SELECT DISTINCT chunk_fp FROM allchunks WHERE doc_id % 4 <> 0),
       |delta AS (
       |  SELECT DISTINCT chunk_fp FROM allchunks
       |  WHERE doc_id % 4 = 0
       |    AND chunk_fp NOT IN (SELECT chunk_fp FROM base)),
       |store AS (
       |  SELECT chunk_fp FROM base UNION SELECT chunk_fp FROM delta),
       |arr AS (
       |  SELECT doc_id, chunk_id, chunk_fp,
       |    row_number() OVER (PARTITION BY chunk_fp
       |      ORDER BY doc_id, chunk_id) AS rn
       |  FROM allchunks WHERE doc_id % 4 = 0)
       |SELECT a.doc_id, a.chunk_id, a.chunk_fp,
       |  CASE WHEN s.chunk_fp IS NOT NULL THEN 'dup_store'
       |       WHEN a.rn > 1 THEN 'dup_shard' ELSE 'new' END AS status
       |FROM arr a LEFT JOIN store s ON a.chunk_fp = s.chunk_fp
       |ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
    classifyDelivery(s, d,
      chunkStoreResolve(s, versionedChunkStore(s, d), version = 2))
  }

  /** q161: chunk-store COMPACTION serving — classification at v3 (the
    * one merged segment) must be value-indistinguishable from v2 (base +
    * delta1), gated on q142's oracle verbatim — the same
    * rewrite-changes-layout-not-values contract the vector tier proves
    * via q114≡q110 and the lexical tier via q144≡q143, now closing the
    * dedup tier's lifecycle too (build q129 → commit q142 → compact
    * q161). Compaction is what keeps the daily ingest loop O(1) at
    * serve time: k days of commits mean k manifest segments and a k-way
    * probe union; folding them back to one segment caps that fan-out,
    * and the rewrite touches only the sorted 8-byte fingerprint column
    * (never text). PlanSpec pins that v3's probe is ONE one-column
    * segment scan where v2 paid two.
    */
  private val q161 = GraftQuery(
    "q161_chunkstore_compacted",
    s"""WITH $cdcOracleCtes,
       |base AS (
       |  SELECT DISTINCT chunk_fp FROM allchunks WHERE doc_id % 4 <> 0),
       |delta AS (
       |  SELECT DISTINCT chunk_fp FROM allchunks
       |  WHERE doc_id % 4 = 0
       |    AND chunk_fp NOT IN (SELECT chunk_fp FROM base)),
       |store AS (
       |  SELECT chunk_fp FROM base UNION SELECT chunk_fp FROM delta),
       |arr AS (
       |  SELECT doc_id, chunk_id, chunk_fp,
       |    row_number() OVER (PARTITION BY chunk_fp
       |      ORDER BY doc_id, chunk_id) AS rn
       |  FROM allchunks WHERE doc_id % 4 = 0)
       |SELECT a.doc_id, a.chunk_id, a.chunk_fp,
       |  CASE WHEN s.chunk_fp IS NOT NULL THEN 'dup_store'
       |       WHEN a.rn > 1 THEN 'dup_shard' ELSE 'new' END AS status
       |FROM arr a LEFT JOIN store s ON a.chunk_fp = s.chunk_fp
       |ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
    classifyDelivery(s, d,
      chunkStoreResolve(s, versionedChunkStore(s, d), version = 3))
  }

  /** q242: chunk-store RIGHT-TO-ERASURE — the lifecycle verb the dedup
    * tier lacked while the vector (q110) and BM25 (q150) tiers had it: a
    * document set (doc_id % 20 == 3, a base-corpus subset) is erased, so
    * its spans must classify as `new` again on the next delivery —
    * EXCEPT spans a surviving document also holds, which the store must
    * keep (erasing a shared span would re-admit text the corpus still
    * contains — the reference-counting subtlety that distinguishes span
    * erasure from doc erasure). The commit is v4 in the manifest: the
    * compacted segment untouched plus one tombstone segment holding the
    * erased docs' EXCLUSIVE fingerprints; serve-time masking is a
    * broadcast anti join (tombstone side is erased-docs-sized). The
    * oracle recomputes the masked store set-theoretically — (base ∪
    * delta) minus (erased-only fps) — and classifies the same delivery
    * against it, so the gate proves both the erasure (spans flip to
    * `new`/`dup_shard`) and the retention (shared spans stay
    * `dup_store`) by value.
    */
  /** Shared oracle for q242 (v4: tombstone-masked) and q243 (v5:
    * physically compacted): the two versions must be value-
    * indistinguishable, so they gate on ONE text — a shared val, not
    * two copies that could silently drift (ADVICE r12).
    */
  /** The base/delta/tomb fingerprint-set CTEs (the chunk store's three
    * physical populations), factored for [[eraseOracleSql]] and q301's
    * vacuum oracle — one text, no drift.
    */
  private val storeSetCtes: String =
    """base AS (
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
      |    WHERE doc_id % 4 <> 0 AND doc_id % 20 <> 3))""".stripMargin

  private[operators] val eraseOracleSql: String =
    s"""WITH $cdcOracleCtes,
       |$storeSetCtes,
       |store AS (
       |  SELECT chunk_fp FROM (
       |    SELECT chunk_fp FROM base UNION SELECT chunk_fp FROM delta)
       |  WHERE chunk_fp NOT IN (SELECT chunk_fp FROM tomb)),
       |arr AS (
       |  SELECT doc_id, chunk_id, chunk_fp,
       |    row_number() OVER (PARTITION BY chunk_fp
       |      ORDER BY doc_id, chunk_id) AS rn
       |  FROM allchunks WHERE doc_id % 4 = 0)
       |SELECT a.doc_id, a.chunk_id, a.chunk_fp,
       |  CASE WHEN s.chunk_fp IS NOT NULL THEN 'dup_store'
       |       WHEN a.rn > 1 THEN 'dup_shard' ELSE 'new' END AS status
       |FROM arr a LEFT JOIN store s ON a.chunk_fp = s.chunk_fp
       |ORDER BY doc_id, chunk_id""".stripMargin

  private val q242 = GraftQuery(
    "q242_chunkstore_erase", eraseOracleSql) { (s, d) =>
    classifyDelivery(s, d,
      chunkStoreResolve(s, versionedChunkStore(s, d), version = 4))
  }

  /** q243: post-erase COMPACTION serving — classification at v5 (one
    * segment, tombstoned rows physically dropped) must be value-
    * indistinguishable from v4 (segment + tombstone mask), on q242's
    * oracle verbatim — the same rewrite-changes-layout-not-values
    * contract q161≡q142 pins for commit-compaction, applied to the
    * erasure verb. Compaction is what makes erasure durable AND cheap
    * at serve time: the tombstone anti-join disappears from the probe
    * plan, the erased bytes leave storage (the actual right-to-erasure
    * obligation — masking alone keeps the data on disk), and the
    * rewrite touches only the sorted 8-byte fingerprint column.
    */
  private val q243 = GraftQuery(
    "q243_chunkstore_erase_compacted", eraseOracleSql) { (s, d) =>
    classifyDelivery(s, d,
      chunkStoreResolve(s, versionedChunkStore(s, d), version = 5))
  }

  /** q301's retention floor: versions < 4 are expired, so a file
    * referenced by NO version ≥ 4 is safe to physically delete.
    */
  private val VacuumRetainFloor = 4

  /** q301: VACUUM planning — the garbage-collection verb the versioned
    * chunk store's lifecycle (build q129 → commit q142 → compact q161 →
    * erase q242/q243) has been accreting files FOR: with versions below
    * [[VacuumRetainFloor]] expired, a physical file is deletable iff
    * its manifest reference count at retained versions is ZERO — here
    * the base segment (last referenced by v2) and delta1 (v2) go,
    * while compact1 survives through v4 and tomb1/compact2 stay live.
    * The plan is computed the way a lakehouse VACUUM must be: from the
    * MANIFEST (reference grain — never a directory listing race), with
    * per-file reclaim sizes measured by reading the actual segment
    * files on disk; the oracle independently re-derives every
    * segment's row count from the document corpus (compact1 = base ∪
    * disjoint delta; compact2 = compact1 minus the tombstoned set,
    * tomb ⊆ base) and the manifest from the shared
    * [[ChunkManifestSpec]] literal, so the sizes the plan reports are
    * gated against first principles, not against the writer. Manifest
    * and path set are metadata-sized (the q142 resolve contract); the
    * segment row counts are one column-pruned count per file.
    */
  private val q301 = GraftQuery(
    "q301_vacuum_plan",
    s"""WITH $cdcOracleCtes,
       |$storeSetCtes,
       |ns AS (
       |  SELECT (SELECT count(*) FROM base) AS nb,
       |    (SELECT count(*) FROM delta) AS nd,
       |    (SELECT count(*) FROM tomb) AS nt),
       |segs AS (
       |  SELECT 'fingerprints' AS segment, 'segment' AS kind, nb AS n FROM ns
       |  UNION ALL SELECT 'delta1', 'segment', nd FROM ns
       |  UNION ALL SELECT 'compact1', 'segment', nb + nd FROM ns
       |  UNION ALL SELECT 'tomb1', 'tombstone', nt FROM ns
       |  UNION ALL SELECT 'compact2', 'segment', nb + nd - nt FROM ns),
       |mfl(version, kind, segment) AS (VALUES ${ChunkManifestSpec
          .map { case (v, k, l) => s"($v, '$k', '$l')" }.mkString(", ")}),
       |refs AS (
       |  SELECT segment, kind, CAST(min(version) AS BIGINT) AS first_version,
       |    CAST(max(version) AS BIGINT) AS last_version
       |  FROM mfl GROUP BY 1, 2)
       |SELECT r.segment, r.kind, r.first_version, r.last_version,
       |  CAST(CASE WHEN r.last_version < $VacuumRetainFloor THEN 1 ELSE 0 END
       |    AS BIGINT) AS deletable,
       |  CAST(s.n AS BIGINT) AS n_rows
       |FROM refs r JOIN segs s ON s.segment = r.segment AND s.kind = r.kind
       |ORDER BY r.segment""".stripMargin) { (s, d) =>
    val base = versionedChunkStore(s, d)
    val mf = s.read.parquet(s"$base/manifest")
    // bounded driver read: distinct manifest paths (≤ spec size), the
    // same contract as chunkStoreResolve; one pruned count per file
    val paths = mf.select("path").distinct().collect().map(_.getString(0))
    val counts = paths.toSeq.map { p =>
      val abs = if (p.startsWith("/")) p else s"$base/$p"
      (p, s.read.parquet(abs).count())
    }
    mf.groupBy("path", "kind")
      .agg(min(col("version")).as("first_version"),
        max(col("version")).as("last_version"))
      .join(broadcast(s.createDataFrame(counts).toDF("path", "n_rows")),
        Seq("path"))
      .select(element_at(split(col("path"), "/"), -1).as("segment"),
        col("kind"), col("first_version").cast("long").as("first_version"),
        col("last_version").cast("long").as("last_version"),
        when(col("last_version") < VacuumRetainFloor, 1L).otherwise(0L)
          .as("deletable"),
        col("n_rows"))
      .orderBy("segment")
  }

  /** q248: order-invariant corpus content digest — the anti-entropy /
    * replica-consistency primitive: per source, a row count plus two
    * independent commutative accumulators (bitwise XOR and a modular sum
    * of the per-row content hash). Because every aggregate is
    * commutative-associative, the digest is IDENTICAL under any
    * partitioning, file layout, compaction, shuffle order, or engine —
    * which is exactly what makes it usable: two replicas (or a table
    * before and after a rewrite like q114/q161's compactions) compare
    * equal iff their logical content matches, with no sort and no
    * row-level diff. The row hash is the shared PolyHash over a
    * null-propagating field concatenation, so both dialects hash the
    * same bytes; the sum rides DECIMAL(38,0)/HUGEINT reduced mod
    * 2^61−1 (a Mersenne prime) so it never overflows and keeps a full
    * 61-bit collision surface beside the XOR (XOR alone is weak —
    * duplicated row pairs cancel; the modular sum does not). Scale
    * shape: one map-side hash per row, partial aggregation to source
    * grain, one exchange of (source, 3 longs).
    */
  /** Per-source digest of a documents frame — q248's three commutative
    * accumulators, shared with the digest-IVM query (q253) and the
    * streaming twin's batch shape. */
  private[graft] def digestOf(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("source"),
        PolyHash.hash(concat(col("doc_id").cast("string"), lit("|"),
          col("lang"), lit("|"), col("n_chars").cast("string"), lit("|"),
          col("text"))).as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("xor_h"),
        expr("CAST(sum(CAST(h AS DECIMAL(38,0))) % 2305843009213693951 AS BIGINT)")
          .as("sum_h_mod"))

  private[graft] val digestOracleSql: String =
    s"""WITH r AS (
       |  SELECT source,
       |    ${PolyHash.oracleSql(
              "(CAST(doc_id AS VARCHAR)||'|'||lang||'|'||" +
                "CAST(n_chars AS VARCHAR)||'|'||text)")} AS h
       |  FROM documents)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(bit_xor(h) AS BIGINT) AS xor_h,
       |  CAST(sum(CAST(h AS HUGEINT)) % 2305843009213693951 AS BIGINT)
       |    AS sum_h_mod
       |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  private val q248 = GraftQuery(
    "q248_corpus_digest", digestOracleSql) { (s, d) =>
    digestOf(Tables.documents(s, d)).orderBy("source")
  }

  /** The WRITTEN base-corpus digest behind q253 — the accumulated
    * corpus' (doc_id % 4 != 0) per-source digest persisted as a tiny
    * parquet state table, mirroring the agg-IVM state of q137. Built
    * once per (session, dir); release deletes the files.
    */
  private[operators] def writtenDigestStore(s: SparkSession, d: String): String =
    graft.Artifacts.cached[String](s, s"digestStore:$d") {
      val base = java.nio.file.Files.createTempDirectory("graft_digest_store")
      digestOf(Tables.documents(s, d).where(col("doc_id") % 4 =!= 0))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$base/state")
      (base.toString, () => {
        org.apache.commons.io.FileUtils.deleteDirectory(base.toFile); ()
      })
    }

  /** q253: INCREMENTAL digest maintenance — q137's IVM invariant applied
    * to the anti-entropy digest: the accumulated corpus' digest is a
    * WRITTEN state table ([[writtenDigestStore]]); a new delivery
    * (doc_id % 4 == 0) digests ONLY its own rows; and the merge (count:
    * sum, XOR: xor, modular sum: modular add — every accumulator
    * commutative) must equal the full-corpus digest recomputed from
    * scratch, which is exactly q248's oracle. At 100 TB this is the
    * entire point of the digest's algebra: a daily append updates the
    * consistency state by digesting the delta alone — the accumulated
    * exabytes are never re-read (DigestSpec pins the same law, plus its
    * erasure-side inverse, at unit scale).
    */
  private val q253 = GraftQuery(
    "q253_digest_ivm", digestOracleSql) { (s, d) =>
    val state = s.read.parquet(s"${writtenDigestStore(s, d)}/state")
    val delta = digestOf(Tables.documents(s, d).where(col("doc_id") % 4 === 0))
    state.unionByName(delta)
      .groupBy("source")
      .agg(sum(col("n_rows")).as("n_rows"),
        expr("bit_xor(xor_h)").as("xor_h"),
        expr("CAST(sum(sum_h_mod) % 2305843009213693951 AS BIGINT)")
          .as("sum_h_mod"))
      .orderBy("source")
  }

  /** The two-generation corpus layout behind q165 — the schema-evolution
    * fact of life at 100 TB: a column added in year 2 must NOT force a
    * rewrite of year 1's exabyte of files. gen1 files lack `n_chars`
    * entirely (written before the column existed); gen2 files carry it.
    * Built once per (session, dir); release deletes the files.
    */
  private[operators] def evolvedLayout(s: SparkSession, d: String): String =
    graft.Artifacts.cached[String](s, s"evolvedLayout:$d") {
      val base = java.nio.file.Files.createTempDirectory("graft_evolved")
      val docs = Tables.documents(s, d)
      docs.where(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("source"))
        .write.mode("overwrite").parquet(s"$base/gen1")
      docs.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$base/gen2")
      (base.toString, () => {
        org.apache.commons.io.FileUtils.deleteDirectory(base.toFile); ()
      })
    }

  /** q165: SCHEMA-EVOLUTION read — one query over both file generations
    * via `mergeSchema`: the scan unions the footers' schemas, old files
    * surface the missing column as null, and the per-source audit
    * reports exactly how much of the corpus predates the column (the
    * number a backfill decision needs). The mechanism matters at scale:
    * evolution is resolved AT READ TIME from parquet footers — no
    * rewrite of the old generation, no ALTER TABLE, and column pruning
    * still holds across generations (PlanSpec pins that `text` never
    * enters the merged ReadSchema). The oracle recomputes the audit
    * from the original table with the generation rule inlined, so the
    * gate proves merged-read == logical-truth.
    */
  private val q165 = GraftQuery(
    "q165_schema_evolution",
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(*) FILTER (WHERE doc_id % 2 = 0) AS BIGINT) AS n_legacy,
      |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT)
      |    AS sum_chars
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val b = evolvedLayout(s, d)
    s.read.option("mergeSchema", "true").parquet(s"$b/gen1", s"$b/gen2")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_chars").isNull, 1L).otherwise(0L)).as("n_legacy"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy("source")
  }

  /** q177: SNAPSHOT DIFF — the data-diff/reconciliation operator: two
    * corpus snapshots compared into added/updated/deleted/unchanged
    * classes per source, the audit every pipeline handoff runs ("what
    * actually changed between yesterday's corpus and today's?"). The
    * fixture's "today" is derived deterministically from "yesterday"
    * (edit bucket 8 re-texted, delete bucket 9 dropped, an added batch
    * cloned under fresh ids), but the DIFF ITSELF never looks at the
    * rules: it is a FULL OUTER join on the key with value comparison,
    * which is what makes it an operator and not a tautology — the
    * oracle rebuilds both snapshots and diffs them the same blind way.
    * 100 TB shape: the join ships an 8-byte content fingerprint per
    * row, never the text (hashes are computed map-side under the scan,
    * PlanSpec pins text stays out of the exchange), and the class
    * rollup is a partial+final count on a 4-value key.
    */
  private val q177 = GraftQuery(
    "q177_snapshot_diff",
    s"""WITH old AS (
       |  SELECT doc_id, source, text FROM documents),
       |new_ AS (
       |  SELECT doc_id, source,
       |    CASE WHEN (${lcgSql("doc_id", SplitA, SplitC)}) % 10 = 8
       |         THEN text || ' rev2' ELSE text END AS text
       |  FROM documents
       |  WHERE (${lcgSql("doc_id", SplitA, SplitC)}) % 10 <> 9
       |  UNION ALL
       |  SELECT doc_id + 1000000, source, text FROM documents
       |  WHERE (${lcgSql("doc_id", SplitA, SplitC)}) % 10 = 7),
       |diff AS (
       |  SELECT coalesce(o.source, n.source) AS source,
       |    CASE WHEN o.doc_id IS NULL THEN 'added'
       |         WHEN n.doc_id IS NULL THEN 'deleted'
       |         WHEN o.text <> n.text THEN 'updated'
       |         ELSE 'unchanged' END AS status
       |  FROM old o FULL OUTER JOIN new_ n ON o.doc_id = n.doc_id)
       |SELECT source, status, CAST(count(*) AS BIGINT) AS n
       |FROM diff GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val bucket = lcg(col("doc_id"), SplitA, SplitC) % 10
    val docs = Tables.documents(s, d)
    val old = docs.select(col("doc_id"), col("source"),
      PolyHash.hash(col("text")).as("fp"))
    val newSnap = docs.where(bucket =!= 9)
      .select(col("doc_id"), col("source"),
        PolyHash.hash(when(bucket === 8, concat(col("text"), lit(" rev2")))
          .otherwise(col("text"))).as("fp"))
      .unionByName(docs.where(bucket === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
          PolyHash.hash(col("text")).as("fp")))
    old.as("o").join(newSnap.as("n"),
        col("o.doc_id") === col("n.doc_id"), "full_outer")
      .select(coalesce(col("o.source"), col("n.source")).as("source"),
        when(col("o.doc_id").isNull, "added")
          .when(col("n.doc_id").isNull, "deleted")
          .when(col("o.fp") =!= col("n.fp"), "updated")
          .otherwise("unchanged").as("status"))
      .groupBy("source", "status").agg(count(lit(1)).as("n"))
      .orderBy("source", "status")
  }

  /** Poisson(1) inverse-CDF thresholds in uniform-ppm space, computed
    * once and interpolated into both dialects: k = #{thresholds <= u}
    * gives a deterministic Poisson(1) draw from a seeded uniform.
    */
  private val PoissonPpm: Seq[Long] = {
    var acc = 0.0
    (0 until 9).map { k =>
      acc += math.exp(-1.0) / (1 to k).product.toDouble.max(1.0)
      math.floor(acc * 1000000).toLong
    }
  }
  private val BootReps = 32

  /** Shared dialect-neutral Poisson draw: CASE-chain count of thresholds
    * at or below the uniform `u`.
    */
  private def poissonK(u: String): String =
    PoissonPpm.map(t => s"(CASE WHEN $u >= $t THEN 1 ELSE 0 END)")
      .mkString("(", " + ", ")")

  /** q235: Poisson bootstrap — the confidence-interval construction that
    * actually works distributed: classical bootstrap resampling needs
    * global coordinated draws, but giving every (row, replicate) an
    * INDEPENDENT Poisson(1) weight approximates multinomial resampling
    * with no coordination at all — one pass, any partitioning. Each of
    * the 32 replicates' weighted (count, sum) comes from a seeded-LCG
    * uniform pushed through the literal Poisson inverse-CDF (shared
    * ppm thresholds, pure integer comparisons), so every replicate is
    * bit-reproducible in both engines; the spread of the 32 replicate
    * means IS the sampling distribution of the corpus mean. Scale
    * shape: ONE corpus pass with a constant 32× map-side expansion that
    * partial aggregation collapses to 32 rows per partition before the
    * one metadata-sized shuffle — the plan a naive per-replicate
    * resample (32 corpus passes) can't touch.
    */
  private val q235 = GraftQuery(
    "q235_poisson_bootstrap",
    s"""WITH r AS (
       |  SELECT d.n_chars, b.b,
       |    ((d.doc_id * $BootReps + b.b) * $SampleA + $SampleC)
       |      % 2147483648 % 1000000 AS u
       |  FROM documents d CROSS JOIN
       |    (SELECT unnest(range(0, $BootReps)) AS b) b),
       |w AS (SELECT b, n_chars, ${poissonK("u")} AS k FROM r),
       |rep AS (
       |  SELECT b, CAST(sum(k) AS BIGINT) AS n_eff,
       |    CAST(sum(k * n_chars) AS BIGINT) AS sum_chars
       |  FROM w GROUP BY 1)
       |SELECT CAST(b AS BIGINT) AS b, n_eff, sum_chars,
       |  (sum_chars * 1000000) // n_eff AS mean_micro
       |FROM rep ORDER BY b""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select("doc_id", "n_chars")
      .crossJoin(broadcast(s.range(0, BootReps)
        .select(col("id").cast("long").as("b"))))
      .selectExpr("b", "n_chars",
        s"((doc_id * $BootReps + b) * $SampleA + $SampleC)" +
          " % 2147483648 % 1000000 AS u")
      .selectExpr("b", "n_chars", s"${poissonK("u")} AS k")
      .groupBy("b")
      .agg(sum(col("k")).as("n_eff"),
        sum(col("k") * col("n_chars")).as("sum_chars"))
      .selectExpr("b", "n_eff", "sum_chars",
        "(sum_chars * 1000000) div n_eff AS mean_micro")
      .orderBy("b")
  }

  /** q234: CDC MERGE apply — the inverse of q177's diff: given the old
    * snapshot and a change feed (D/U/I ops, the shape a CDC source or
    * q177's diff emits), produce the new snapshot. Semantics are MERGE's:
    * deletes and updates retire the old image via ONE anti join on the
    * change ids, then the new images (U + I rows) union in — no
    * full-outer pass, and the delta side is broadcastable whenever the
    * feed is small relative to the corpus (the usual CDC shape; the
    * corpus is never shuffled at all in that case). The GATE is the
    * inverse-pair property itself: the engine computes apply(old,
    * changes) while the oracle derives the new snapshot DIRECTLY from
    * q177's transform — row-for-row md5 equality proves diff/apply
    * compose to the identity.
    */
  private val q234 = GraftQuery(
    "q234_cdc_apply",
    s"""SELECT doc_id, source, md5(text) AS text_md5
       |FROM (
       |  SELECT doc_id, source,
       |    CASE WHEN (${lcgSql("doc_id", SplitA, SplitC)}) % 10 = 8
       |         THEN text || ' rev2' ELSE text END AS text
       |  FROM documents
       |  WHERE (${lcgSql("doc_id", SplitA, SplitC)}) % 10 <> 9
       |  UNION ALL
       |  SELECT doc_id + 1000000, source, text FROM documents
       |  WHERE (${lcgSql("doc_id", SplitA, SplitC)}) % 10 = 7)
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val bucket = lcg(col("doc_id"), SplitA, SplitC) % 10
    val docs = Tables.documents(s, d)
    // the change feed a CDC source (or q177's diff) would deliver
    val changes = docs.where(bucket === 9)
      .select(lit("D").as("op"), col("doc_id"),
        col("source"), lit(null).cast("string").as("text"))
      .unionByName(docs.where(bucket === 8)
        .select(lit("U").as("op"), col("doc_id"), col("source"),
          concat(col("text"), lit(" rev2")).as("text")))
      .unionByName(docs.where(bucket === 7)
        .select(lit("I").as("op"), (col("doc_id") + 1000000L).as("doc_id"),
          col("source"), col("text")))
    val retired = changes.where(col("op").isin("D", "U")).select("doc_id")
    docs.select("doc_id", "source", "text")
      .join(broadcast(retired), Seq("doc_id"), "left_anti")
      .unionByName(changes.where(col("op").isin("U", "I"))
        .select("doc_id", "source", "text"))
      .select(col("doc_id"), col("source"), md5(col("text").cast("binary")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** Bucketed corpus layout — the one join co-location mechanism Spark
    * persists ACROSS jobs: both tables are written `bucketBy(nBuckets,
    * joinKey)` (hash-partitioned into the same bucket count on the keys
    * the pipeline joins on), so every subsequent doc↔embedding join in
    * every later job reads bucket i against bucket i directly — the
    * sort-merge join runs with ZERO exchanges on either side (PlanSpec
    * pins it). At 100 TB this is the difference between re-shuffling the
    * corpus per joining job and shuffling once at layout time: dedup
    * manifests, alignment audits, metadata enrichment all join on doc_id
    * — paying the corpus shuffle once in the writer amortizes it over
    * the whole downstream job graph (and bucket count chosen at layout
    * time sets downstream join parallelism — pick ~cluster cores at
    * scale; 8 keeps the fixture readable).
    *
    * Built once per (session, dir) through [[graft.Artifacts]]: external
    * datasource tables (explicit path under a temp dir, in-memory
    * catalog), released by DROP TABLE + recursive delete. Table names
    * carry a dir hash so warmup (sf0.001) and timed (sf0.1) corpora in
    * one session never alias each other's catalog entries.
    */
  private val BucketedN = 8
  private[operators] def bucketedTables(
      s: SparkSession, d: String): (String, String) =
    graft.Artifacts.cached[(String, String)](s, s"bucketedTables:$d") {
      // MD5 of the absolute path (the stagedWithFlush discipline): a
      // 32-bit hashCode collision between two corpus dirs in one session
      // would alias the catalog tables and serve the wrong corpus.
      val suffix = java.security.MessageDigest.getInstance("MD5")
        .digest(new java.io.File(d).getAbsolutePath.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(16)
      val (docsT, embsT) = (s"graft_docs_b_$suffix", s"graft_embs_b_$suffix")
      val dir = java.nio.file.Files.createTempDirectory("graft_bucketed")
      Tables.documents(s, d).write.mode("overwrite")
        .bucketBy(BucketedN, "doc_id").sortBy("doc_id")
        .option("path", s"$dir/docs").saveAsTable(docsT)
      Tables.embeddings(s, d).select("vec_id", "label")
        .write.mode("overwrite")
        .bucketBy(BucketedN, "vec_id").sortBy("vec_id")
        .option("path", s"$dir/embs").saveAsTable(embsT)
      val rel = () => {
        s.sql(s"DROP TABLE IF EXISTS $docsT")
        s.sql(s"DROP TABLE IF EXISTS $embsT")
        val p = new org.apache.hadoop.fs.Path(dir.toString)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        ()
      }
      ((docsT, embsT), rel)
    }

  /** q125: exchange-free co-located join over the bucketed layout —
    * per-(lang, label) corpus profile joining documents to embedding
    * labels on the bucket key. The merge hint pins the sort-merge path
    * (a broadcast would trivially avoid the exchange at fixture scale
    * and prove nothing about the layout); the only shuffles in the plan
    * are the post-join aggregation and the presentation sort.
    */
  private val q125 = GraftQuery(
    "q125_bucketed_join",
    """SELECT d.lang AS lang, e.label AS label,
      |  count(*) AS n_docs,
      |  CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
      |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val (docsT, embsT) = bucketedTables(s, d)
    s.table(docsT).hint("merge")
      .join(s.table(embsT), col("doc_id") === col("vec_id"))
      .groupBy("lang", "label")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang", "label")
  }

  /** q135: weighted sampling without replacement — priority sampling
    * (Duffield, Lund & Thorup, JACM 2007): each row draws a uniform u
    * and takes priority u/w; the k smallest priorities per stratum are
    * the sample, inclusion probability ∝ weight (here n_chars — longer
    * documents carry more tokens, so a token-budget subsample should
    * prefer them; the measured sample's mean length sits well above the
    * corpus mean). Everything is integer-decided: u is the 31-bit
    * affine-hash draw (fresh multiplier — reusing the q57/q58 sampling
    * constants would correlate this sample with the split/sample
    * buckets) and the priority is FIXED-POINT `u·2^20 div w` in BIGINTs,
    * so both engines rank identically with zero float risk — the
    * ln-based exponential-key variant (A-ES) would hang selection on
    * libm's last bit. One hash shuffle on the stratum key, per-stratum
    * top-k short-circuited by WindowGroupLimit (PlanSpec pins it): rows
    * beyond k die map-side, nothing corpus-sized reaches the sort.
    */
  private val PrioA = 1327217885L
  private val PrioC = 1013904223L
  private val PrioK = 5
  private val q135 = GraftQuery(
    "q135_priority_sample",
    s"""WITH pri AS (
      |  SELECT source, doc_id, n_chars,
      |    ${lcgSql("doc_id", PrioA, PrioC)} * 1048576 // n_chars AS prio
      |  FROM documents WHERE n_chars > 0)
      |SELECT source, doc_id, CAST(n_chars AS BIGINT) AS weight,
      |  CAST(prio AS BIGINT) AS prio, CAST(rn AS BIGINT) AS rk
      |FROM (SELECT *, row_number() OVER (
      |    PARTITION BY source ORDER BY prio, doc_id) AS rn FROM pri)
      |WHERE rn <= $PrioK ORDER BY source, rk""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val pri = Tables.documents(s, d)
      .where(col("n_chars") > 0)
      .select(col("source"), col("doc_id"), col("n_chars").as("weight"),
        lcg(col("doc_id"), PrioA, PrioC).as("u"))
      .selectExpr("source", "doc_id", "weight",
        "(u * 1048576) div weight AS prio")
    val w = Window.partitionBy("source").orderBy(col("prio"), col("doc_id"))
    pri.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= PrioK)
      .select(col("source"), col("doc_id"), col("weight"), col("prio"),
        col("rk"))
      .orderBy("source", "rk")
  }

  // ---- Z-order clustered layout (q138) ----

  /** Bits per dimension for the q138 Z-value; 10 covers n_chars' fixture
    * range (capped at 1023) and source indices with headroom. */
  private val ZBits = 10

  /** Morton/Z-value bit-interleave as plain integer arithmetic, generated
    * once and shared by both engines so the value is identical by
    * construction: bit i of each dimension lands at positions 2i / 2i+1.
    * `shr` abstracts the engines' differing shift syntax (DuckDB `>>`,
    * Spark SQL `shiftright`).
    */
  private def zArith(a: String, b: String, shr: (String, Int) => String): String =
    (0 until ZBits).map { i =>
      s"((${shr(a, i)}) % 2) * ${1L << (2 * i)} + ((${shr(b, i)}) % 2) * ${1L << (2 * i + 1)}"
    }.mkString("(", " + ", ")")
  private def zSqlDuck(a: String, b: String): String =
    zArith(a, b, (x, i) => s"($x >> $i)")
  private def zSqlSpark(a: String, b: String): String =
    zArith(a, b, (x, i) => s"shiftright($x, $i)")

  /** The WRITTEN Z-order-clustered corpus layout behind q138: documents
    * augmented with `z` = interleave(source index, capped n_chars),
    * range-partitioned AND sorted on z. Because the Z-curve is locality-
    * preserving in BOTH dimensions, every file's (source, n_chars)
    * min/max footer ranges are narrow — a 2-predicate box query prunes
    * most files/row-groups from the STATS alone, where a layout sorted
    * on either single column only prunes on that column. Vanilla Spark
    * applies these stats at row-group granularity inside the scan
    * (pushed filters); stats-indexed table formats skip whole files.
    * LayoutSpec pins the artifact property directly from the parquet
    * footers: the q138 box intersects a minority of files. At 100 TB
    * this layout choice IS the difference between a box query touching
    * ~boxes worth of data and touching the whole corpus.
    */
  private[operators] def writtenZLayout(s: SparkSession, d: String): String =
    graft.Artifacts.cached[String](s, s"zLayout:$d") {
      val base = java.nio.file.Files.createTempDirectory("graft_zorder")
      Tables.documents(s, d)
        .withColumn("src_idx",
          substring(col("source"), 4, 8).cast("int"))
        .withColumn("z", expr(zSqlSpark("src_idx", s"least(n_chars, ${(1 << ZBits) - 1})"))
          .cast("long"))
        .repartitionByRange(16, col("z"))
        .sortWithinPartitions("z")
        .write.mode("overwrite").parquet(s"$base/z")
      (base.toString, () => {
        org.apache.commons.io.FileUtils.deleteDirectory(base.toFile); ()
      })
    }

  /** q138: 2-dimensional box query served from the Z-ordered layout —
    * the data-skipping pattern for multi-predicate scans. The gate runs
    * the same box over the flat documents table in DuckDB (the layout
    * must change WHERE data lives, never WHAT the query returns) and
    * pins the Z-values themselves (identical interleave arithmetic both
    * sides). Both box predicates reach the layout scan as pushed filters
    * (PlanSpec), where the z-clustered row-group stats make them
    * actually selective.
    */
  private val q138 = GraftQuery(
    "q138_zorder_box",
    s"""WITH zd AS (
      |  SELECT doc_id, source, n_chars,
      |    CAST(substr(source, 4) AS INTEGER) AS si,
      |    least(n_chars, ${(1 << ZBits) - 1}) AS nc
      |  FROM documents)
      |SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
      |  CAST(${zSqlDuck("si", "nc")} AS BIGINT) AS z
      |FROM zd
      |WHERE si BETWEEN 10 AND 13 AND n_chars BETWEEN 200 AND 400
      |ORDER BY z, doc_id""".stripMargin) { (s, d) =>
    s.read.parquet(s"${writtenZLayout(s, d)}/z")
      .where(col("src_idx").between(10, 13) &&
        col("n_chars").between(200, 400))
      .select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("n_chars"), col("z"))
      .orderBy("z", "doc_id")
  }

  /** q202: deterministic negative sampling — for every purchasing
    * customer, 4 candidate part ids drawn by a seeded LCG over
    * (custkey, slot), with TRUE purchases anti-joined out: the
    * contrastive-pair generator under recommendation and retrieval
    * training (positives come from the interaction log; negatives must
    * be plausible ids the user did NOT touch). Hash-based generation is
    * the 100 TB point — `rand()` would make every retry/backfill emit
    * different training data, while the LCG makes the sample a pure
    * FUNCTION of the key (same discipline as q128's shuffle and q58's
    * split): map-side generation at customer grain, one anti join
    * against the distinct interaction pairs, zero state. Collisions
    * with true purchases are dropped, not resampled — the honest
    * fixed-overhead variant (resampling loops are unbounded under
    * adversarial density; production over-generates instead).
    */
  private val q202 = GraftQuery(
    "q202_negative_sampling",
    """WITH pp AS (SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
      |cust AS (SELECT DISTINCT ck FROM pp),
      |np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM part),
      |gen AS (
      |  SELECT c.ck, f.j,
      |    ((c.ck * 2654435761 + f.j * 40503 + 12345) % 2147483647) % n.np
      |      AS cand
      |  FROM cust c CROSS JOIN (VALUES (0), (1), (2), (3)) f(j)
      |  CROSS JOIN np n)
      |SELECT g.ck AS c_custkey, CAST(g.j AS BIGINT) AS j,
      |  CAST(g.cand AS BIGINT) AS neg_partkey
      |FROM gen g
      |WHERE NOT EXISTS (SELECT 1 FROM pp p WHERE p.ck = g.ck AND p.pk = g.cand)
      |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    // NOTE (r18 2nd pass, measured and kept as-is): both references to
    // this table run as CONCURRENT duplicate branches; a localCheckpoint
    // fence (tried) serialized the leaf ahead of both consumers and
    // measured WORSE (9.9 → 13.9 s fresh sf1) — same finding as q210.
    val pp = Tables.orders(s, d).select(col("o_custkey").as("ck"),
        col("o_orderkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey").as("o_orderkey"),
        col("l_partkey").as("pk")), "o_orderkey")
      .select("ck", "pk").distinct()
    val np = broadcast(Tables.part(s, d).agg(count(lit(1)).as("np")))
    val gen = pp.select("ck").distinct()
      .crossJoin(broadcast(
        s.range(0, 4).select(col("id").cast("long").as("j"))))
      .crossJoin(np)
      .select(col("ck"), col("j"),
        (((col("ck") * lit(2654435761L) + col("j") * lit(40503L)
          + lit(12345L)) % lit(2147483647L)) % col("np")).as("cand"))
    gen.join(pp.select(col("ck"), col("pk").as("cand")),
        Seq("ck", "cand"), "left_anti")
      .select(col("ck").as("c_custkey"), col("j"),
        col("cand").as("neg_partkey"))
      .orderBy("c_custkey", "j")
  }

  /** Total sample slots for q223. 999 (not 1000) so the fixture's source
    * shares do NOT divide evenly — the largest-remainder path (the part
    * of the algorithm worth gating) is exercised at every SF.
    */
  private val AllocN = 999L

  /** Hamilton largest-remainder apportionment — the shared integer-exact
    * allocation kernel behind q223 (proportional), q261 (temperature),
    * q324/q330 (Neyman vs proportional) and q351 (raw vs ESS): floor
    * each key's quota (budget·w) div Σw, then hand the budget − Σfloor
    * leftover slots to the largest fractional remainders
    * ((budget·w) mod Σw), `keyCol` breaking ties. Σ alloc == budget
    * EXACTLY in pure BIGINT arithmetic — float shares drift and never
    * sum to the budget.
    *
    * Each (weightCol → allocCol) pair is an INDEPENDENT apportionment of
    * the same budget, all computed in one pass over the input (one
    * totals broadcast, one remainder broadcast, one k-row rank window
    * per weight) — the dual-allocation consumers (q324's
    * Neyman-vs-proportional, q351's raw-vs-ESS) pay nothing extra for
    * the comparison column. Scale shape: the input is a source/stratum-
    * grain frame (k rows — q223's justification for the unpartitioned
    * windows); totals and remainders ride as 1-row broadcasts.
    * HamiltonSpec pins helper == the inline idiom on every caller shape.
    */
  private[graft] def hamiltonOf(df: DataFrame, keyCol: String, budget: Long,
      weights: (String, String)*): DataFrame = {
    require(weights.nonEmpty,
      "hamiltonOf needs at least one weightCol -> allocCol pair")
    val totAggs = weights.map { case (w, a) => sum(col(w)).as(s"__tot_$a") }
    val fl = df.crossJoin(broadcast(df.agg(totAggs.head, totAggs.tail: _*)))
      .select(df.columns.map(col) ++ weights.flatMap { case (w, a) => Seq(
        expr(s"($budget * $w) div __tot_$a").as(s"__fl_$a"),
        expr(s"($budget * $w) % __tot_$a").as(s"__fr_$a")) }: _*)
    val remAggs = weights.map { case (_, a) =>
      (lit(budget) - sum(col(s"__fl_$a"))).as(s"__rem_$a") }
    val ranked = weights.foldLeft(fl) { case (acc, (_, a)) =>
      acc.withColumn(s"__rk_$a", row_number().over(
        Window.orderBy(col(s"__fr_$a").desc, col(keyCol)))) }
    ranked.crossJoin(broadcast(fl.agg(remAggs.head, remAggs.tail: _*)))
      .select(df.columns.map(col) ++ weights.map { case (_, a) =>
        (col(s"__fl_$a") + when(col(s"__rk_$a") <= col(s"__rem_$a"), 1L)
          .otherwise(0L)).as(a) }: _*)
  }

  /** q223: proportional sample allocation — Hamilton's largest-remainder
    * apportionment (the classic exact-integer method: floor each source's
    * quota of [[AllocN]] slots, then hand the leftover slots to the
    * largest fractional remainders, source name breaking ties) of a
    * fixed sampling budget across corpus sources. This is the allocation
    * step in front of a stratified sampler like q135: "give me exactly N
    * documents, proportional to source share" — floats would drift and
    * never sum to N; the largest-remainder construction is exact and
    * deterministic in pure integer arithmetic (quota floor = (N·n) div
    * total, remainder rank on (N·n) mod total). Scale shape: the only
    * full-corpus work is ONE count rollup to source grain (map-side
    * partial); everything after runs on the source-cardinality frame —
    * the two 1-row totals ride as broadcasts and the unpartitioned
    * remainder-rank window sorts a table with one row per SOURCE, the
    * same k-row justification as q117's band table.
    */
  private val q223 = GraftQuery(
    "q223_proportional_alloc",
    s"""WITH ns AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n
       |  FROM documents GROUP BY 1),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM ns),
       |q AS (
       |  SELECT source, n, ($AllocN * n) // t.total AS fl,
       |    ($AllocN * n) % t.total AS frac
       |  FROM ns CROSS JOIN t),
       |k AS (SELECT $AllocN - CAST(sum(fl) AS BIGINT) AS rem FROM q),
       |rk AS (
       |  SELECT source, n, fl, frac,
       |    row_number() OVER (ORDER BY frac DESC, source) AS r
       |  FROM q)
       |SELECT rk.source, rk.n AS n_docs,
       |  CAST(rk.fl + CASE WHEN rk.r <= k.rem THEN 1 ELSE 0 END AS BIGINT)
       |    AS alloc
       |FROM rk CROSS JOIN k ORDER BY source""".stripMargin) { (s, d) =>
    val ns = Tables.documents(s, d)
      .groupBy("source").agg(count(lit(1)).as("n"))
    hamiltonOf(ns, "source", AllocN, "n" -> "alloc")
      .select(col("source"), col("n").as("n_docs"), col("alloc"))
      .orderBy("source")
  }

  /** q261's mixture knobs: selection-LCG constants (distinct from the
    * split/sample streams so mixture membership is independent of both)
    * and the slot budget — odd, non-divisible, so the largest-remainder
    * arm is exercised at every SF.
    */
  private val MixA = 1103515245L
  private val MixC = 77L
  private val MixN = 199L

  /** q261: temperature-based mixture sampling — the multilingual-corpus
    * rebalancing op (sampling probability ∝ share^α with α = 1/2, the
    * XLM-R/mBERT recipe): each source's mixture weight is isqrt(n_docs)
    * (exact integer sqrt — a float sqrt seeds it, then one integer
    * correction step decides, so no float decides a value), the slot
    * budget [[MixN]] is apportioned over those weights by the same
    * Hamilton largest-remainder arithmetic q223 gates, and each source's
    * quota is filled deterministically by LCG rank (lowest mixed hash
    * first, doc_id tiebreak). Upweighted small sources can be allocated
    * more slots than they have documents; the take is capped at n_docs
    * and the cap is NOT silent — alloc and taken are both output, so the
    * shortfall (repeat-epochs a trainer would schedule) is visible. The
    * gate carries the selected SET, not just its size: sum of taken
    * doc_ids per source.
    *
    * Scale shape: one count rollup to source grain; all apportionment on
    * the source-cardinality frame (k-row window, 1-row broadcast
    * totals); selection is one per-source rank window over (id, source)
    * pairs — no row carries text, and the digest collapses map-side.
    */
  private val q261 = GraftQuery(
    "q261_temperature_mixture",
    s"""WITH ns AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n
       |  FROM documents GROUP BY 1),
       |w0 AS (SELECT source, n, CAST(floor(sqrt(n)) AS BIGINT) AS g FROM ns),
       |w AS (SELECT source, n,
       |    CASE WHEN (g+1)*(g+1) <= n THEN g+1
       |         WHEN g*g > n THEN g-1 ELSE g END AS w
       |  FROM w0),
       |t AS (SELECT CAST(sum(w) AS BIGINT) AS total FROM w),
       |q AS (SELECT source, n, w, ($MixN * w) // t.total AS fl,
       |    ($MixN * w) % t.total AS frac FROM w CROSS JOIN t),
       |k AS (SELECT $MixN - CAST(sum(fl) AS BIGINT) AS rem FROM q),
       |rk AS (SELECT source, n, w, fl, frac,
       |    row_number() OVER (ORDER BY frac DESC, source) AS r FROM q),
       |alloc AS (
       |  SELECT rk.source, rk.n, rk.w,
       |    CAST(rk.fl + CASE WHEN rk.r <= k.rem THEN 1 ELSE 0 END AS BIGINT)
       |      AS alloc
       |  FROM rk CROSS JOIN k),
       |ranked AS (
       |  SELECT d.source, d.doc_id,
       |    row_number() OVER (PARTITION BY d.source
       |      ORDER BY ${lcgSql("d.doc_id", MixA, MixC)}, d.doc_id) AS r
       |  FROM documents d)
       |SELECT a.source, a.n AS n_docs, a.w AS weight, a.alloc,
       |  CAST(count(rn.doc_id) AS BIGINT) AS taken,
       |  CAST(coalesce(sum(rn.doc_id), 0) AS BIGINT) AS sum_taken_ids
       |FROM alloc a LEFT JOIN ranked rn
       |  ON rn.source = a.source AND rn.r <= least(a.alloc, a.n)
       |GROUP BY 1, 2, 3, 4
       |ORDER BY a.source""".stripMargin) { (s, d) =>
    val ns = Tables.documents(s, d)
      .groupBy("source").agg(count(lit(1)).as("n"))
    val w = ns
      .withColumn("g", floor(sqrt(col("n"))).cast("long"))
      .withColumn("w",
        when((col("g") + 1) * (col("g") + 1) <= col("n"), col("g") + 1)
          .when(col("g") * col("g") > col("n"), col("g") - 1)
          .otherwise(col("g")))
      .select("source", "n", "w")
    val alloc = hamiltonOf(w, "source", MixN, "w" -> "alloc")
    val ranked = Tables.documents(s, d)
      .select(col("source"), col("doc_id"))
      .withColumn("r", row_number().over(Window.partitionBy("source")
        .orderBy(lcg(col("doc_id"), MixA, MixC), col("doc_id"))))
    alloc.join(ranked,
        ranked("source") === alloc("source") &&
          ranked("r") <= least(col("alloc"), col("n")), "left")
      .groupBy(alloc("source").as("source"), col("n").as("n_docs"),
        col("w").as("weight"), col("alloc"))
      .agg(count(ranked("doc_id")).as("taken"),
        coalesce(sum(ranked("doc_id")), lit(0L)).as("sum_taken_ids"))
      .orderBy("source")
  }

  /** q268: training-sequence packing report — the dataloader stage AFTER
    * q128's shuffle: within each shard, documents in permutation order
    * are concatenated and cut into fixed 512-token training sequences
    * (concat-and-chunk, the standard LM packing; [[ChunkTokens]] is the
    * same constant the CDC chunker uses). All packing facts fall out of
    * ONE within-shard cumulative token sum: a document occupies token
    * interval [cum−tok, cum), its sequence ids are that interval div
    * 512, it is SPLIT iff its first and last token land in different
    * sequences, and the shard's sequence count / tail fill are
    * ceil/mod of the final cumulative. Per shard: docs, tokens,
    * sequences, tail tokens, boundary-split docs — the waste/fragmenta-
    * tion report that decides packing strategy (pure concat vs
    * best-fit) before a training run.
    *
    * Scale shape: q128's contract — shard count IS the dataloader
    * parallelism knob (8 here; a 100 TB run uses thousands), so the
    * within-shard window is per-shard-bounded by construction, and the
    * rollup is one hash aggregate at shard grain.
    */
  /** q268's shard/permute/cumulate CTE chain, factored for reuse by the
    * context-length sweep q315 — ends in `c(shard, doc_id, pos, tok,
    * cum)`; the cumulative is context-length-INDEPENDENT, which is what
    * makes the q315 sweep one broadcast instead of four passes.
    */
  private val packedCumCtes: String =
    s"""p AS (
       |  SELECT ${lcgSql("doc_id", SampleA, SampleC)} % $ShufShards AS shard,
       |    doc_id,
       |    row_number() OVER (
       |      PARTITION BY ${lcgSql("doc_id", SampleA, SampleC)} % $ShufShards
       |      ORDER BY ${lcgSql("doc_id", ShufOrdA, ShufOrdC)}, doc_id) AS pos,
       |    len(string_split_regex(lower(text), '\\s+')) AS tok
       |  FROM documents),
       |c AS (SELECT shard, doc_id, pos, tok,
       |    sum(tok) OVER (PARTITION BY shard ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM p)""".stripMargin

  /** Engine twin of [[packedCumCtes]]: the per-shard permuted token
    * cumulative both q268 and q315 read their packing facts from.
    */
  private def packedCum(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val shard = (lcg(col("doc_id"), SampleA, SampleC) % ShufShards).cast("int")
    Tables.documents(s, d)
      .select(shard.as("shard"), col("doc_id"),
        lcg(col("doc_id"), ShufOrdA, ShufOrdC).as("o2"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("tok"))
      .withColumn("cum", sum(col("tok"))
        .over(Window.partitionBy("shard").orderBy(col("o2"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
  }

  private val q268 = GraftQuery(
    "q268_sequence_packing",
    s"""WITH $packedCumCtes
       |SELECT CAST(shard AS INTEGER) AS shard,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(tok) AS BIGINT) AS total_tokens,
       |  CAST((max(cum) + ${ChunkTokens - 1}) // $ChunkTokens AS BIGINT)
       |    AS n_seqs,
       |  CAST(max(cum) % $ChunkTokens AS BIGINT) AS tail_tokens,
       |  CAST(sum(CASE WHEN (cum - tok) // $ChunkTokens
       |      <> (cum - 1) // $ChunkTokens THEN 1 ELSE 0 END) AS BIGINT)
       |    AS split_docs
       |FROM c GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    packedCum(s, d)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("total_tokens"),
        expr(s"CAST((max(cum) + ${ChunkTokens - 1}) div $ChunkTokens AS BIGINT)")
          .as("n_seqs"),
        expr(s"max(cum) % $ChunkTokens").as("tail_tokens"),
        sum(when(expr(s"(cum - tok) div $ChunkTokens") =!=
          expr(s"(cum - 1) div $ChunkTokens"), 1L).otherwise(0L))
          .as("split_docs"))
      .orderBy("shard")
  }

  /** The sampling denominators q318 sweeps (keep 1-in-R). */
  private val SampleRates = Seq(16L, 64L, 256L)

  /** q318: HASH-SAMPLE accuracy audit — the estimate-from-a-sample
    * pattern every 100 TB stats job uses (full scans for a row count
    * or a byte total are unaffordable between pipelines), with the
    * property that makes it auditable at all: the sample is
    * HASH-DETERMINISTIC (keep iff lcg(doc_id) ≡ 0 mod R — the same
    * [[lcg]] family as the split/shuffle ops), so the "sample" is a
    * reproducible function of the data, identical in both engines and
    * across reruns — a random() sample could never be oracle-gated,
    * and in production it also could never be debugged. Per rate
    * 1/R ∈ {1/16, 1/64, 1/256}: scaled estimates of row count and
    * byte total beside the exact values, signed ppm error — the table
    * that says how cheap a stats pass is allowed to get before its
    * error moves a decision.
    *
    * Scale shape: the sample predicate is map-side on the scan; one
    * aggregate per rate rides the 3-row grid broadcast; the exact side
    * is one aggregate (the thing the sample exists to avoid — audit
    * only).
    */
  private val q318 = GraftQuery(
    "q318_hash_sample_audit",
    s"""WITH rs(r) AS (VALUES ${SampleRates.map(r => s"($r)").mkString(", ")}),
       |s AS (
       |  SELECT rs.r, CAST(count(*) AS BIGINT) AS n_sampled,
       |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS chars_sampled
       |  FROM documents CROSS JOIN rs
       |  WHERE ${lcgSql("doc_id", SampleA, SampleC)} % rs.r = 0
       |  GROUP BY 1),
       |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_rows,
       |  CAST(sum(n_chars) AS BIGINT) AS exact_chars FROM documents)
       |SELECT CAST(s.r AS BIGINT) AS r, s.n_sampled,
       |  CAST(s.n_sampled * s.r AS BIGINT) AS est_rows, ex.exact_rows,
       |  CAST(CASE WHEN s.n_sampled * s.r >= ex.exact_rows
       |    THEN ((s.n_sampled * s.r - ex.exact_rows) * 1000000)
       |      // ex.exact_rows
       |    ELSE -(((ex.exact_rows - s.n_sampled * s.r) * 1000000)
       |      // ex.exact_rows) END AS BIGINT) AS rows_err_ppm,
       |  CAST(s.chars_sampled * s.r AS BIGINT) AS est_chars,
       |  ex.exact_chars,
       |  CAST(CASE WHEN s.chars_sampled * s.r >= ex.exact_chars
       |    THEN ((s.chars_sampled * s.r - ex.exact_chars) * 1000000)
       |      // ex.exact_chars
       |    ELSE -(((ex.exact_chars - s.chars_sampled * s.r) * 1000000)
       |      // ex.exact_chars) END AS BIGINT) AS chars_err_ppm
       |FROM s CROSS JOIN ex ORDER BY r""".stripMargin) { (s, d) =>
    val rs = broadcast(s.createDataFrame(SampleRates.map(Tuple1(_)))
      .toDF("r"))
    val samp = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
      .crossJoin(rs)
      .where(pmod(lcg(col("doc_id"), SampleA, SampleC), col("r")) === 0)
      .groupBy("r")
      .agg(count(lit(1)).as("n_sampled"),
        coalesce(sum(col("n_chars")), lit(0L)).as("chars_sampled"))
    val ex = Tables.documents(s, d)
      .agg(count(lit(1)).as("exact_rows"),
        sum(col("n_chars")).as("exact_chars"))
    samp.crossJoin(broadcast(ex))
      .select(col("r"), col("n_sampled"),
        (col("n_sampled") * col("r")).as("est_rows"), col("exact_rows"),
        when(col("n_sampled") * col("r") >= col("exact_rows"),
          expr("((n_sampled * r - exact_rows) * 1000000) div exact_rows"))
          .otherwise(
            -expr("((exact_rows - n_sampled * r) * 1000000) div exact_rows"))
          .as("rows_err_ppm"),
        (col("chars_sampled") * col("r")).as("est_chars"),
        col("exact_chars"),
        when(col("chars_sampled") * col("r") >= col("exact_chars"),
          expr("((chars_sampled * r - exact_chars) * 1000000)"
            + " div exact_chars"))
          .otherwise(-expr("((exact_chars - chars_sampled * r) * 1000000)"
            + " div exact_chars"))
          .as("chars_err_ppm"))
      .orderBy("r")
  }

  /** The candidate context lengths q315 sweeps (tokens per training
    * sequence).
    */
  private val ContextLens = Seq(256L, 512L, 1024L, 2048L)

  /** q315: CONTEXT-LENGTH sweep — q283's sweep discipline applied to
    * q268's training-sequence packing: for each candidate context
    * length L, the two costs the choice trades off — boundary-SPLIT
    * documents (a split truncates a continuation mid-thought /
    * contaminates attention across document boundaries; the fraction
    * RISES as L shrinks relative to doc length) and per-shard tail
    * PADDING (the only pad concat-and-chunk pays; its share falls as
    * shards fill). The per-shard token cumulative is computed ONCE
    * ([[packedCumCtes]] — a document's interval is L-independent) and
    * the 4-length grid broadcasts onto it; a run's L is then picked
    * off this table against the model's attention budget, which is
    * exactly how the decision is made before a training run.
    */
  private val q315 = GraftQuery(
    "q315_context_length_sweep",
    s"""WITH $packedCumCtes,
       |ls(l) AS (VALUES ${ContextLens.map(l => s"($l)").mkString(", ")}),
       |sm AS (SELECT shard, CAST(max(cum) AS BIGINT) AS mc FROM c
       |  GROUP BY 1),
       |seqs AS (
       |  SELECT l, CAST(sum((mc + l - 1) // l) AS BIGINT) AS n_seqs,
       |    CAST(sum((l - mc % l) % l) AS BIGINT) AS pad_tokens
       |  FROM sm CROSS JOIN ls GROUP BY 1),
       |sp AS (
       |  SELECT l,
       |    CAST(sum(CASE WHEN (cum - tok) // l <> (cum - 1) // l
       |      THEN 1 ELSE 0 END) AS BIGINT) AS split_docs,
       |    CAST(count(*) AS BIGINT) AS n_docs
       |  FROM c CROSS JOIN ls GROUP BY 1)
       |SELECT CAST(q.l AS BIGINT) AS l, q.n_seqs, s.n_docs, s.split_docs,
       |  CAST(s.split_docs * 1000000 // s.n_docs AS BIGINT) AS split_ppm,
       |  q.pad_tokens,
       |  CAST(q.pad_tokens * 1000000 // (q.n_seqs * q.l) AS BIGINT)
       |    AS pad_ppm
       |FROM seqs q JOIN sp s ON s.l = q.l ORDER BY l""".stripMargin) {
    (s, d) =>
      val c = packedCum(s, d)
      val ls = broadcast(s.createDataFrame(ContextLens.map(Tuple1(_)))
        .toDF("l"))
      val sm = c.groupBy("shard").agg(max(col("cum")).as("mc"))
      val seqs = sm.crossJoin(ls)
        .groupBy("l")
        .agg(sum(expr("(mc + l - 1) div l")).as("n_seqs"),
          sum(expr("(l - mc % l) % l")).as("pad_tokens"))
      val sp = c.crossJoin(ls)
        .groupBy("l")
        .agg(sum(when(expr("(cum - tok) div l") =!= expr("(cum - 1) div l"),
            1L).otherwise(0L)).as("split_docs"),
          count(lit(1)).as("n_docs"))
      seqs.join(sp, "l")
        .select(col("l"), col("n_seqs"), col("n_docs"), col("split_docs"),
          expr("(split_docs * 1000000) div n_docs").as("split_ppm"),
          col("pad_tokens"),
          expr("(pad_tokens * 1000000) div (n_seqs * l)").as("pad_ppm"))
        .orderBy("l")
  }

  /** q273: rendezvous-hash shard assignment + rebalance audit — the
    * consistent-placement decision behind every distributed store: when
    * the shard count grows 8 → 10, mod-hashing reassigns ~everything
    * (every residue class reshuffles) while rendezvous/HRW hashing
    * (Thaler & Ravishankar 1996: place on argmax over shards of
    * h(key, shard)) moves EXACTLY the keys whose new argmax is a new
    * shard — 2/10 in expectation. Both schemes measured side by side:
    * moved count/ppm plus the 10-shard load peak (ppm of ideal, 10⁶ =
    * perfectly balanced).
    *
    * The per-(key, shard) hash must be NON-AFFINE in the shard id: any
    * chain of affine LCG steps mod 2^31 stays affine in s, making the
    * argmax structurally biased (one shard absorbs multiples of the
    * whole corpus — measured before this mix landed); squaring the
    * combined word introduces the key·s cross term that decorrelates
    * the per-shard ranking (same family of pitfall as q128's
    * no-wraparound multiplier). Packing trick: argmax over s of
    * (h·16 + s) mod 16 recovers the winning shard with a deterministic
    * larger-s tie-break, no argmax aggregate needed. Bounds: ids < 2^31
    * keep every product in BIGINT (a 64-bit-id deployment mod-reduces
    * the key first).
    *
    * Scale shape: the 10× row expansion is a map-side generate at
    * (key, shard) grain feeding ONE hash aggregate back to key grain;
    * the two scheme reports aggregate a 2×10-row load table.
    */
  private val q273 = GraftQuery(
    "q273_rendezvous_rebalance",
    s"""WITH ds AS (
       |  SELECT d.doc_id, t.s,
       |    (d.doc_id * 2654435761 + t.s * 40503 + 1) % 2147483648 AS x
       |  FROM documents d, range(0, 10) t(s)),
       |h AS (SELECT doc_id, s,
       |    ((x * x) % 2147483648 * 1588635695 + x) % 2147483648 AS hv
       |  FROM ds),
       |asg AS (
       |  SELECT doc_id,
       |    ${lcgSql("doc_id", SplitA, SplitC)} % 8 AS mod8,
       |    ${lcgSql("doc_id", SplitA, SplitC)} % 10 AS mod10,
       |    max(CASE WHEN s < 8 THEN hv * 16 + s END) % 16 AS hrw8,
       |    max(hv * 16 + s) % 16 AS hrw10
       |  FROM h GROUP BY 1),
       |m AS (
       |  SELECT 'mod' AS scheme, mod10 AS shard10,
       |    CASE WHEN mod8 <> mod10 THEN 1 ELSE 0 END AS moved FROM asg
       |  UNION ALL
       |  SELECT 'hrw', hrw10,
       |    CASE WHEN hrw8 <> hrw10 THEN 1 ELSE 0 END FROM asg),
       |loads AS (SELECT scheme, shard10, CAST(count(*) AS BIGINT) AS ld
       |  FROM m GROUP BY 1, 2),
       |agg AS (SELECT scheme, CAST(sum(moved) AS BIGINT) AS n_moved,
       |    CAST(count(*) AS BIGINT) AS n_docs FROM m GROUP BY 1)
       |SELECT a.scheme, a.n_docs, a.n_moved,
       |  CAST(a.n_moved * 1000000 // a.n_docs AS BIGINT) AS moved_ppm,
       |  CAST(max(l.ld) * 10000000 // a.n_docs AS BIGINT) AS max_load_ppm
       |FROM agg a JOIN loads l ON l.scheme = a.scheme
       |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin) { (s, d) =>
    val h = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(expr("sequence(0, 9)")).as("s"))
      .withColumn("x",
        pmod(col("doc_id") * 2654435761L + col("s") * 40503L + 1,
          lit(2147483648L)))
      .withColumn("hv",
        pmod(pmod(col("x") * col("x"), lit(2147483648L)) * 1588635695L
          + col("x"), lit(2147483648L)))
    val asg = h.groupBy("doc_id")
      .agg(
        (max(when(col("s") < 8, col("hv") * 16 + col("s"))) % 16).as("hrw8"),
        (max(col("hv") * 16 + col("s")) % 16).as("hrw10"))
      .withColumn("mod8", lcg(col("doc_id"), SplitA, SplitC) % 8)
      .withColumn("mod10", lcg(col("doc_id"), SplitA, SplitC) % 10)
    val m = asg.select(lit("mod").as("scheme"), col("mod10").as("shard10"),
        when(col("mod8") =!= col("mod10"), 1L).otherwise(0L).as("moved"))
      .unionAll(asg.select(lit("hrw").as("scheme"),
        col("hrw10").as("shard10"),
        when(col("hrw8") =!= col("hrw10"), 1L).otherwise(0L).as("moved")))
    val loads = m.groupBy("scheme", "shard10").agg(count(lit(1)).as("ld"))
    val agg = m.groupBy("scheme")
      .agg(sum(col("moved")).as("n_moved"), count(lit(1)).as("n_docs"))
    agg.join(loads, Seq("scheme"))
      .groupBy("scheme", "n_docs", "n_moved")
      .agg(max(col("ld")).as("mld"))
      .select(col("scheme"), col("n_docs"), col("n_moved"),
        expr("(n_moved * 1000000) div n_docs").as("moved_ppm"),
        expr("(mld * 10000000) div n_docs").as("max_load_ppm"))
      .orderBy("scheme")
  }

  // ---- small-files compaction planning (q281, q283) --------------------

  /** Compaction target bytes per output group (gate-scale constant; a
    * production run uses 128-1024 MB — the arithmetic is size-agnostic).
    */
  private[graft] val CompactTarget = 2000L

  /** The shared "ingest wrote one file per document" manifest both
    * compaction queries plan over: (source, file_id, bytes). The
    * real-world shape this models is an object-store prefix full of
    * per-record ingest files — the small-files problem a 100 TB pipeline
    * compacts away before any scan-heavy stage.
    */
  private def ingestFiles(s: SparkSession, d: String) =
    Tables.documents(s, d)
      .select(col("source"), col("doc_id").as("file_id"),
        col("n_chars").as("bytes"))

  private val ingestFilesSql =
    "SELECT source, doc_id AS file_id, n_chars AS bytes FROM documents"

  /** Per-source running byte offset in file_id order — the ONE cumulative
    * both compaction queries derive group assignment from (a file starts
    * at offset cum−bytes; its group under target T is that offset div T —
    * next-fit packing, the same concat-then-cut discipline as q268's
    * sequence packing but at file grain without splitting). Banded: the
    * per-source window never sees more than one band of files at a time,
    * so a source with millions of small files (the pathological case
    * compaction exists FOR) cannot pin a single window partition.
    */
  private def fileOffsets(s: SparkSession, d: String) =
    Banded.cumSums(ingestFiles(s, d), part = Seq("source"),
      order = Seq(col("file_id")), band = expr("file_id div 128"),
      specs = Seq(Banded.CumSpec("cum", col("bytes"))))

  private val fileOffsetsSql =
    s"""c AS (
       |  SELECT source, file_id, bytes,
       |    sum(bytes) OVER (PARTITION BY source ORDER BY file_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM f)""".stripMargin

  /** q281: compaction PLAN — the group manifest a small-files compaction
    * job executes: per (source, group) the member-file count, packed
    * bytes, fill ratio vs target, and the tail flag (every source's last
    * group is legitimately under-full; any OTHER under-full group would
    * indicate a packing bug). Group assignment is one banded cumulative
    * per source ([[fileOffsets]]) — no global sort, no driver loop; the
    * plan output is group-grain (= output-file count), which is exactly
    * the frame the rewrite job then consumes as its work list.
    *
    * Scale shape: one partial agg to file grain, one banded cumsum, one
    * hash agg to group grain. The is_tail window runs at GROUP grain —
    * bounded by the plan size, never by the input file count.
    */
  /** q281's oracle, shared verbatim with its streaming twin q284 — the
    * stream is gated stream == batch == DuckDB like every other twin.
    */
  private[graft] val compactionPlanOracleSql =
    s"""WITH f AS ($ingestFilesSql),
       |$fileOffsetsSql,
       |g AS (
       |  SELECT source, (cum - bytes) // $CompactTarget AS grp,
       |    count(*) AS n_files, sum(bytes) AS group_bytes
       |  FROM c GROUP BY 1, 2)
       |SELECT source, CAST(grp AS BIGINT) AS grp,
       |  CAST(n_files AS BIGINT) AS n_files,
       |  CAST(group_bytes AS BIGINT) AS group_bytes,
       |  CAST(group_bytes * 1000000 // $CompactTarget AS BIGINT) AS fill_ppm,
       |  CAST(CASE WHEN grp = max(grp) OVER (PARTITION BY source)
       |    THEN 1 ELSE 0 END AS BIGINT) AS is_tail
       |FROM g ORDER BY source, grp""".stripMargin

  private val q281 = GraftQuery(
    "q281_compaction_plan",
    compactionPlanOracleSql) { (s, d) =>
    val groups = fileOffsets(s, d)
      .select(col("source"),
        expr(s"(cum - bytes) div ${CompactTarget}").as("grp"),
        col("bytes"))
      .groupBy("source", "grp")
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("group_bytes"))
    groups
      .select(col("source"), col("grp"), col("n_files"), col("group_bytes"),
        expr(s"(group_bytes * 1000000) div ${CompactTarget}")
          .as("fill_ppm"),
        when(col("grp") === max(col("grp"))
          .over(Window.partitionBy("source")), 1L).otherwise(0L).as("is_tail"))
      .orderBy("source", "grp")
  }

  /** The target sizes q283 sweeps (half / design / 2× / 4× the q281
    * constant — the knob a layout owner actually tunes).
    */
  private val SweepTargets = Seq(CompactTarget / 2, CompactTarget,
    CompactTarget * 2, CompactTarget * 4)

  /** q283: compaction target-size SWEEP — q277's config-sweep discipline
    * applied to file layout: for each candidate target size, the packing
    * outcome (groups, non-tail fill, oversize groups, files per group)
    * that decides the target before the rewrite job runs. The per-source
    * byte offsets are computed ONCE ([[fileOffsets]] — a file's offset
    * does not depend on the target) and the 4-row target table is
    * broadcast-crossed onto the group assignment, so sweeping 4 configs
    * costs one extra small-key aggregate, not 4 corpus passes.
    *
    * `nontail_fill_ppm` is the tuning signal: non-tail groups should sit
    * near 1e6 (full); a target smaller than the largest single file shows
    * up as `oversize_groups` (a group whose FIRST file already exceeds
    * the target — next-fit never splits a file). Tail groups are one per
    * source by construction and excluded from the fill metric.
    */
  private val q283 = GraftQuery(
    "q283_compaction_sweep",
    s"""WITH f AS ($ingestFilesSql),
       |$fileOffsetsSql,
       |t(target) AS (VALUES ${SweepTargets.map(t => s"($t)").mkString(", ")}),
       |g AS (
       |  SELECT t.target, source, (cum - bytes) // t.target AS grp,
       |    count(*) AS n_files, sum(bytes) AS gb
       |  FROM c CROSS JOIN t GROUP BY 1, 2, 3),
       |gt AS (
       |  SELECT target, source, grp, n_files, gb,
       |    CASE WHEN grp = max(grp) OVER (PARTITION BY target, source)
       |      THEN 1 ELSE 0 END AS is_tail
       |  FROM g)
       |SELECT CAST(target AS BIGINT) AS target,
       |  CAST(count(*) AS BIGINT) AS n_groups,
       |  CAST(sum(1 - is_tail) AS BIGINT) AS nontail_groups,
       |  CAST(CASE WHEN sum(1 - is_tail) = 0 THEN 0
       |    ELSE sum(CASE WHEN is_tail = 0 THEN gb ELSE 0 END) * 1000000
       |      // (sum(1 - is_tail) * target) END AS BIGINT)
       |    AS nontail_fill_ppm,
       |  CAST(sum(CASE WHEN gb > target THEN 1 ELSE 0 END) AS BIGINT)
       |    AS oversize_groups,
       |  CAST(sum(n_files) * 100 // count(*) AS BIGINT)
       |    AS files_per_group_x100
       |FROM gt GROUP BY target ORDER BY target""".stripMargin) { (s, d) =>
    val targets = s.createDataFrame(SweepTargets.map(Tuple1(_)))
      .toDF("target")
    val groups = fileOffsets(s, d)
      .crossJoin(broadcast(targets))
      .select(col("target"), col("source"),
        expr("(cum - bytes) div target").as("grp"),
        col("bytes"))
      .groupBy("target", "source", "grp")
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("gb"))
      .withColumn("is_tail",
        when(col("grp") === max(col("grp"))
          .over(Window.partitionBy("target", "source")), 1L).otherwise(0L))
    groups.groupBy("target")
      .agg(count(lit(1)).as("n_groups"),
        sum(lit(1L) - col("is_tail")).as("nontail_groups"),
        sum(when(col("is_tail") === 0, col("gb")).otherwise(0L))
          .as("__nt_bytes"),
        sum(when(col("gb") > col("target"), 1L).otherwise(0L))
          .as("oversize_groups"),
        sum(col("n_files")).as("__files"))
      .select(col("target"), col("n_groups"), col("nontail_groups"),
        when(col("nontail_groups") === 0, 0L)
          .otherwise(expr("(__nt_bytes * 1000000) div (nontail_groups * target)"))
          .as("nontail_fill_ppm"),
        col("oversize_groups"),
        expr("(__files * 100) div n_groups").as("files_per_group_x100"))
      .orderBy("target")
  }

  // ---- zone-map / data-skipping audit (q285) ---------------------------

  /** Files per zone-map group (gate-scale stand-in for one parquet
    * file/row-group; the arithmetic is size-agnostic).
    */
  private val ZoneGroup = 50L

  /** The range-predicate workload q285 scores pruning against — narrow,
    * medium, point-ish, and open-tail probes over `n_chars`.
    */
  private val ZonePreds = Seq((0L, 50L, 99L), (1L, 100L, 199L),
    (2L, 250L, 260L), (3L, 400L, 10000L))


  /** floor(log2(x)) for x ≥ 1 as pure CASE arithmetic valid in both
    * dialects (no libm, engine-exact) — the hllRankArith trick pointed
    * at size tiers. `bits` must cover the largest value (2^bits).
    */
  private[graft] def log2Tier(x: String, bits: Int): String =
    s"(${(1 to bits).map(k => s"(CASE WHEN $x >= ${1L << k} THEN 1 ELSE 0 END)")
      .mkString(" + ")})"

  /** q303's merge trigger: a (source, tier) with at least this many
    * runs is merged this round (Cassandra STCS's min_threshold).
    */
  private val TierMinRuns = 4

  /** q303: SIZE-TIERED merge policy — the OTHER table-maintenance verb
    * beside q281's next-fit defrag: the LSM/STCS discipline
    * (Cassandra size-tiered, RocksDB universal) that merges only
    * similarly-sized runs, so total write amplification stays
    * O(log(total/run)) instead of the rewrite-everything-per-round a
    * naive compactor pays. Over the same ingest-file manifest as
    * q281: tier = floor(log2(bytes)) via [[log2Tier]] (CASE
    * arithmetic, engine-exact — no libm), a (source, tier) holding ≥
    * [[TierMinRuns]] runs merges ALL of them into one output run whose
    * tier is floor(log2(Σ bytes)) — the output pins the PROMOTION
    * (out_tier > tier whenever a merge fires, which is what
    * guarantees termination) and the round's rewrite bytes, i.e. the
    * write-amplification denominator a policy comparison reads.
    *
    * Scale shape: one partial agg from file grain to (source, tier) —
    * everything after is tier-grain metadata (≤ sources × ~log(max
    * bytes) rows). No windows at all: unlike next-fit, STCS needs no
    * ordering, which is exactly why LSM stores use it at ingest rates
    * where maintaining global order is unaffordable.
    */
  /** q303's oracle, shared verbatim with its streaming twin q309. */
  private[graft] val stcsOracleSql: String =
    s"""WITH f AS ($ingestFilesSql),
       |t AS (
       |  SELECT source, ${log2Tier("bytes", 20)} AS tier, bytes FROM f),
       |g AS (
       |  SELECT source, tier, CAST(count(*) AS BIGINT) AS n_runs,
       |    CAST(sum(bytes) AS BIGINT) AS tier_bytes
       |  FROM t GROUP BY 1, 2)
       |SELECT source, CAST(tier AS BIGINT) AS tier, n_runs, tier_bytes,
       |  CAST(CASE WHEN n_runs >= $TierMinRuns THEN 1 ELSE 0 END AS BIGINT)
       |    AS merges,
       |  CAST(CASE WHEN n_runs >= $TierMinRuns
       |    THEN ${log2Tier("tier_bytes", 40)} ELSE tier END AS BIGINT)
       |    AS out_tier,
       |  CAST(CASE WHEN n_runs >= $TierMinRuns THEN tier_bytes ELSE 0 END
       |    AS BIGINT) AS rewrite_bytes
       |FROM g ORDER BY source, tier""".stripMargin

  /** The STCS merge-decision epilogue over the finalized (source, tier,
    * n_runs, tier_bytes) rollup — shared verbatim between batch q303
    * and streaming q309 (the q288/q290 `waterfillOf` discipline), so
    * the two paths cannot diverge in the policy arithmetic.
    */
  private[graft] def stcsOf(g: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    g.select(col("source"), col("tier").cast("long").as("tier"),
        col("n_runs"), col("tier_bytes"),
        when(col("n_runs") >= TierMinRuns, 1L).otherwise(0L).as("merges"),
        when(col("n_runs") >= TierMinRuns,
          expr(log2Tier("tier_bytes", 40)).cast("long"))
          .otherwise(col("tier").cast("long")).as("out_tier"),
        when(col("n_runs") >= TierMinRuns, col("tier_bytes")).otherwise(0L)
          .as("rewrite_bytes"))
      .orderBy("source", "tier")

  private val q303 = GraftQuery(
    "q303_size_tiered_merge", stcsOracleSql) { (s, d) =>
    stcsOf(ingestFiles(s, d)
      .withColumn("tier", expr(log2Tier("bytes", 20)))
      .groupBy("source", "tier")
      .agg(count(lit(1)).as("n_runs"), sum(col("bytes")).as("tier_bytes")))
  }

  // ---- per-zone bloom skipping for point predicates (q307) -------------

  /** q307's geometry: events grouped per 50-row zone (small enough that
    * a user's ~0.7%% event share leaves most zones untouched — the
    * regime where point-key skipping exists to be won), one 1024-bit
    * bloom per zone over `user_id` with k=2 hashes from the shared
    * [[graft.operators.CorpusStats.CmRows]] affine family, probed by a
    * fixed 4-user workload.
    */
  private val ZoneBloomRows = 50L
  private val ZoneBloomBits = 1024L
  private val ZoneBloomK = 2
  private val ZoneBloomProbes = Seq(1L, 7L, 42L, 99L)

  /** q307: per-zone BLOOM skipping — the data-skipping statistic q285's
    * zone maps structurally CANNOT provide: a point predicate
    * (`user_id = u`) on a high-cardinality key that is UNCLUSTERED in
    * the layout sees every zone's [min,max] straddle the probe value,
    * so footer min/max stats prune nothing (the output's zones_minmax
    * column measures exactly that); a small per-zone bloom over the
    * same key prunes almost everything, at the cost of the measured
    * false-positive zones the output pins beside the exact zone count
    * (fp_zones ≥ 0 — one-sided, like every bloom). This is the
    * Parquet/Delta column-bloom decision made from measurement: which
    * keys earn a bloom = where minmax_skip ≈ 0 while bloom_skip ≈ 1.
    *
    * Scale shape: zone stats and set-bits are one partial aggregate
    * each (set-bit table ≤ zones × k × probe-distinct cells, DISTINCT
    * at zone grain); probes are a 4-row grid; every join after the
    * first aggregate is metadata-sized. The same [[CorpusStats
    * .cmRowsValues]] seeds serve both dialects.
    */
  private val q307 = GraftQuery(
    "q307_zone_bloom_skipping",
    s"""WITH e AS (
       |  SELECT (event_id // $ZoneBloomRows) AS zone, user_id FROM events),
       |zs AS (SELECT zone, min(user_id) AS mn, max(user_id) AS mx
       |  FROM e GROUP BY 1),
       |nz AS (SELECT CAST(count(*) AS BIGINT) AS zones_total FROM zs),
       |seeds(r, aa, cc) AS (VALUES ${graft.operators.CorpusStats.cmRowsValues}),
       |bits AS (
       |  SELECT DISTINCT zone, s.r,
       |    (((user_id % 2147483648) * s.aa + s.cc) % 2147483648)
       |      % $ZoneBloomBits AS cell
       |  FROM e CROSS JOIN seeds s WHERE s.r < $ZoneBloomK),
       |ps(u) AS (VALUES ${ZoneBloomProbes.map(u => s"($u)").mkString(", ")}),
       |pc AS (
       |  SELECT p.u, s.r,
       |    (((p.u % 2147483648) * s.aa + s.cc) % 2147483648)
       |      % $ZoneBloomBits AS cell
       |  FROM ps p CROSS JOIN seeds s WHERE s.r < $ZoneBloomK),
       |bh AS (
       |  SELECT p.u, b.zone FROM pc p
       |  JOIN bits b ON b.r = p.r AND b.cell = p.cell
       |  GROUP BY 1, 2 HAVING count(*) = $ZoneBloomK),
       |bl AS (SELECT u, CAST(count(*) AS BIGINT) AS zones_bloom
       |  FROM bh GROUP BY 1),
       |ex AS (SELECT p.u, CAST(count(DISTINCT e.zone) AS BIGINT)
       |    AS zones_exact
       |  FROM ps p JOIN e ON e.user_id = p.u GROUP BY 1),
       |mm AS (SELECT p.u, CAST(count(*) AS BIGINT) AS zones_minmax
       |  FROM ps p JOIN zs z ON z.mn <= p.u AND z.mx >= p.u GROUP BY 1)
       |SELECT CAST(p.u AS BIGINT) AS u, nz.zones_total,
       |  coalesce(mm.zones_minmax, 0) AS zones_minmax,
       |  coalesce(ex.zones_exact, 0) AS zones_exact,
       |  coalesce(bl.zones_bloom, 0) AS zones_bloom,
       |  coalesce(bl.zones_bloom, 0) - coalesce(ex.zones_exact, 0)
       |    AS fp_zones,
       |  CAST((nz.zones_total - coalesce(bl.zones_bloom, 0)) * 1000000
       |    // nz.zones_total AS BIGINT) AS bloom_skip_ppm,
       |  CAST((nz.zones_total - coalesce(mm.zones_minmax, 0)) * 1000000
       |    // nz.zones_total AS BIGINT) AS minmax_skip_ppm
       |FROM ps p CROSS JOIN nz
       |LEFT JOIN bl ON bl.u = p.u LEFT JOIN ex ON ex.u = p.u
       |LEFT JOIN mm ON mm.u = p.u ORDER BY u""".stripMargin) { (s, d) =>
    val Cs = graft.operators.CorpusStats
    val e = Tables.events(s, d)
      .select(expr(s"event_id div $ZoneBloomRows").as("zone"), col("user_id"))
    val zs = e.groupBy("zone").agg(min(col("user_id")).as("mn"),
      max(col("user_id")).as("mx"))
    val nz = zs.agg(count(lit(1)).as("zones_total"))
    val seeds = broadcast(s.createDataFrame(Cs.CmRows.take(ZoneBloomK))
      .toDF("r", "aa", "cc"))
    def cellOf(v: org.apache.spark.sql.Column) =
      pmod(pmod(pmod(v, lit(2147483648L)) * col("aa") + col("cc"),
        lit(2147483648L)), lit(ZoneBloomBits))
    val bits = e.crossJoin(seeds)
      .select(col("zone"), col("r"), cellOf(col("user_id")).as("cell"))
      .distinct()
    val ps = broadcast(s.createDataFrame(ZoneBloomProbes.map(Tuple1(_)))
      .toDF("u"))
    val pc = ps.crossJoin(seeds)
      .select(col("u"), col("r"), cellOf(col("u")).as("cell"))
    val bl = pc.join(bits, Seq("r", "cell"))
      .groupBy("u", "zone").agg(count(lit(1)).as("hits"))
      .where(col("hits") === ZoneBloomK)
      .groupBy("u").agg(count(lit(1)).as("zones_bloom"))
    val ex = ps.join(e, col("user_id") === col("u"))
      .groupBy("u").agg(count_distinct(col("zone")).as("zones_exact"))
    val mm = ps.join(zs, col("mn") <= col("u") && col("mx") >= col("u"))
      .groupBy("u").agg(count(lit(1)).as("zones_minmax"))
    ps.crossJoin(broadcast(nz))
      .join(bl, Seq("u"), "left").join(ex, Seq("u"), "left")
      .join(mm, Seq("u"), "left")
      .select(col("u"), col("zones_total"),
        coalesce(col("zones_minmax"), lit(0L)).as("zones_minmax"),
        coalesce(col("zones_exact"), lit(0L)).as("zones_exact"),
        coalesce(col("zones_bloom"), lit(0L)).as("zones_bloom"),
        (coalesce(col("zones_bloom"), lit(0L))
          - coalesce(col("zones_exact"), lit(0L))).as("fp_zones"),
        expr("((zones_total - coalesce(zones_bloom, 0)) * 1000000)"
          + " div zones_total").as("bloom_skip_ppm"),
        expr("((zones_total - coalesce(zones_minmax, 0)) * 1000000)"
          + " div zones_total").as("minmax_skip_ppm"))
      .orderBy("u")
  }

  /** q285: zone-map data-skipping audit — the min/max-statistics pruning
    * measurement behind every clustering/z-order/sort-order decision: the
    * same corpus grouped into ZoneGroup-file groups under TWO layouts
    * (arrival order vs clustered by the predicate column), per-group
    * min/max zone maps, and for each workload predicate the groups a
    * footer-stats scan must read. `skipped_ppm` is the layout's value
    * (arrival order skips ~nothing — every group's min/max spans the
    * domain; clustered skips all but the overlapping stripe), and
    * `rows_scanned` vs `rows_matched` is the residual scan amplification
    * the layout leaves on the table. The clustered rank is ONE banded
    * global cumulative ([[Banded.cumSums]] — q270's exact-rank
    * discipline, no single-task window); all predicate work happens at
    * GROUP grain (corpus/ZoneGroup rows) with the 4-row workload
    * broadcast, except the exact `rows_matched` selectivity audit — one
    * conditional rollup over the narrow (doc_id, n_chars) projection.
    *
    * At 100 TB this is the audit that decides whether a rewrite
    * (q281/q283's compaction, plus a sort) pays for itself: multiply
    * `skipped_ppm` by the workload's scan volume.
    */
  private val q285 = GraftQuery(
    "q285_zonemap_skipping",
    s"""WITH docs AS (SELECT doc_id, n_chars FROM documents),
       |a AS (SELECT 'arrival' AS layout, doc_id // $ZoneGroup AS grp, n_chars
       |  FROM docs),
       |r AS (SELECT n_chars,
       |    row_number() OVER (ORDER BY n_chars, doc_id) AS rk FROM docs),
       |c AS (SELECT 'clustered' AS layout, (rk - 1) // $ZoneGroup AS grp,
       |    n_chars FROM r),
       |g AS (SELECT layout, grp, min(n_chars) AS mn, max(n_chars) AS mx,
       |    count(*) AS n
       |  FROM (SELECT * FROM a UNION ALL SELECT * FROM c) GROUP BY 1, 2),
       |p(pid, lo, hi) AS (VALUES ${ZonePreds.map(p =>
          s"(${p._1}, ${p._2}, ${p._3})").mkString(", ")}),
       |m AS (SELECT pid, CAST(sum(CASE WHEN n_chars BETWEEN lo AND hi
       |      THEN 1 ELSE 0 END) AS BIGINT) AS rows_matched
       |  FROM docs CROSS JOIN p GROUP BY 1)
       |SELECT layout, CAST(p.pid AS BIGINT) AS pid,
       |  CAST(p.lo AS BIGINT) AS lo, CAST(p.hi AS BIGINT) AS hi,
       |  CAST(count(*) AS BIGINT) AS n_groups,
       |  CAST(sum(CASE WHEN mx >= lo AND mn <= hi THEN 1 ELSE 0 END)
       |    AS BIGINT) AS scanned_groups,
       |  CAST((count(*) - sum(CASE WHEN mx >= lo AND mn <= hi
       |      THEN 1 ELSE 0 END)) * 1000000 // count(*) AS BIGINT)
       |    AS skipped_ppm,
       |  CAST(sum(CASE WHEN mx >= lo AND mn <= hi THEN n ELSE 0 END)
       |    AS BIGINT) AS rows_scanned,
       |  m.rows_matched
       |FROM g CROSS JOIN p JOIN m ON m.pid = p.pid
       |GROUP BY layout, p.pid, p.lo, p.hi, m.rows_matched
       |ORDER BY layout, pid""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    val preds = s.createDataFrame(ZonePreds).toDF("pid", "lo", "hi")
    val arrival = docs.select(lit("arrival").as("layout"),
      expr(s"doc_id div $ZoneGroup").as("grp"), col("n_chars"))
    val clustered = Banded.cumSums(docs, Nil,
        Seq(col("n_chars"), col("doc_id")), expr("n_chars div 64"),
        Seq(Banded.CumSpec("rk", lit(1L))))
      .select(lit("clustered").as("layout"),
        expr(s"(rk - 1) div $ZoneGroup").as("grp"), col("n_chars"))
    val zoneMaps = arrival.unionByName(clustered)
      .groupBy("layout", "grp")
      .agg(min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"),
        count(lit(1)).as("n"))
    val matched = docs.crossJoin(broadcast(preds))
      .groupBy("pid")
      .agg(sum(when(col("n_chars").between(col("lo"), col("hi")), 1L)
        .otherwise(0L)).as("rows_matched"))
    zoneMaps.crossJoin(broadcast(preds))
      .groupBy("layout", "pid", "lo", "hi")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("mx") >= col("lo") && col("mn") <= col("hi"), 1L)
          .otherwise(0L)).as("scanned_groups"),
        sum(when(col("mx") >= col("lo") && col("mn") <= col("hi"), col("n"))
          .otherwise(0L)).as("rows_scanned"))
      .join(broadcast(matched), Seq("pid"))
      .select(col("layout"), col("pid"), col("lo"), col("hi"),
        col("n_groups"), col("scanned_groups"),
        expr("((n_groups - scanned_groups) * 1000000) div n_groups")
          .as("skipped_ppm"),
        col("rows_scanned"), col("rows_matched"))
      .orderBy("layout", "pid")
  }

  // ---- max-min fair (waterfill) budget allocation (q288) ---------------

  /** q288's budget as a fraction of total capacity — 95% puts the water
    * level above the small sources' caps, exercising both regimes.
    */
  private val WaterfillNum = 95L
  private val WaterfillDen = 100L

  /** q288: max-min fair token-budget allocation (waterfilling) — the
    * third mixture-budgeting verb next to proportional (q223) and
    * temperature (q261): pour the budget into sources lowest-first until
    * the water level λ is reached; a source holds min(cap, λ). The
    * integer-exact election: sources sorted by (cap, source), for each
    * boundary i the candidate level = (B − prefix_{i−1}) div (n−i+1);
    * the FIRST i whose level undercuts its own cap is the waterline
    * (everything before it is capped), and the division remainder goes
    * to the first `rem` uncapped sources (+1 each) — Hamilton's rule,
    * q223's discipline — so Σ alloc == min(B, Σ cap) EXACTLY, which
    * float waterfilling never guarantees. B ≥ total capacity degrades
    * to everyone-capped (the election finds no row; the LEFT join keeps
    * the output total).
    *
    * Scale shape: capacity is ONE corpus rollup to source grain;
    * everything after (windows, election, allocation) runs on the
    * source-grain table — metadata-sized at any corpus size. The 1-row
    * election broadcast-crosses back on, the audited q223 shape.
    */
  /** q288's oracle, shared verbatim with its streaming twin q290. */
  private[graft] val waterfillOracleSql =
    s"""WITH cap AS (
       |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS cap
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(sum(cap) AS BIGINT) AS total,
       |    CAST(count(*) AS BIGINT) AS n FROM cap),
       |b AS (SELECT CAST(total * $WaterfillNum // $WaterfillDen AS BIGINT)
       |    AS budget FROM tot),
       |o AS (SELECT source, cap,
       |    row_number() OVER (ORDER BY cap, source) AS i,
       |    sum(cap) OVER (ORDER BY cap, source ROWS UNBOUNDED PRECEDING)
       |      - cap AS pprev
       |  FROM cap),
       |lv AS (SELECT o.i, o.cap,
       |    (b.budget - o.pprev) // (t.n - o.i + 1) AS level,
       |    (b.budget - o.pprev) % (t.n - o.i + 1) AS rem
       |  FROM o CROSS JOIN b CROSS JOIN tot t),
       |el AS (SELECT min(i) AS ei FROM lv WHERE level < cap),
       |ew AS (SELECT lv.level, lv.rem, el.ei FROM lv JOIN el ON lv.i = el.ei)
       |SELECT o.source, o.cap,
       |  CAST(CASE WHEN ew.ei IS NULL OR o.i < ew.ei THEN o.cap
       |    WHEN o.i - ew.ei < ew.rem THEN ew.level + 1
       |    ELSE ew.level END AS BIGINT) AS alloc,
       |  CAST(CASE WHEN ew.ei IS NULL OR o.i < ew.ei THEN 1 ELSE 0 END
       |    AS BIGINT) AS capped,
       |  CAST(coalesce(ew.level, 0) AS BIGINT) AS level
       |FROM o LEFT JOIN ew ON TRUE
       |ORDER BY source""".stripMargin

  private val q288 = GraftQuery(
    "q288_waterfill_budget", waterfillOracleSql) { (s, d) =>
    waterfillOf(Tables.documents(s, d)
      .groupBy("source").agg(sum(col("n_chars")).as("cap")))
  }

  /** The waterfill election epilogue on a source-grain (source, cap)
    * frame — shared verbatim between batch q288 and streaming q290 (the
    * q254/q267 labor split: the stream owns the capacity rollup, the
    * metadata-sized election runs on the finalized table).
    */
  private[graft] def waterfillOf(
      cap: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tot = cap.agg(sum(col("cap")).as("total"), count(lit(1)).as("n"))
      .select(col("total"), col("n"),
        expr(s"(total * $WaterfillNum) div $WaterfillDen").as("budget"))
    val w = Window.orderBy(col("cap"), col("source"))
    // source-grain frame: the global window is metadata-sized by
    // construction (one row per source), not a corpus window
    val o = cap
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("pprev",
        coalesce(sum(col("cap")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val lv = o.crossJoin(broadcast(tot))
      .select(col("source"), col("cap"), col("i"),
        expr("(budget - pprev) div (n - i + 1)").as("level"),
        expr("(budget - pprev) % (n - i + 1)").as("rem"))
    val el = lv.where(col("level") < col("cap"))
      .agg(min(col("i")).as("ei"))
    val ew = lv.join(broadcast(el), col("i") === col("ei"))
      .select(col("level"), col("rem"), col("ei"))
    lv.select(col("source"), col("cap"), col("i"))
      .crossJoin(broadcast(ew))
      .select(col("source"), col("cap"),
        when(col("i") < col("ei"), col("cap"))
          .when(col("i") - col("ei") < col("rem"), col("level") + 1)
          .otherwise(col("level")).as("alloc"),
        when(col("i") < col("ei"), 1L).otherwise(0L).as("capped"),
        col("level"))
      .unionByName(
        // B >= total capacity: no election row — everyone capped
        lv.select(col("source"), col("cap"), col("i"))
          .join(broadcast(el.where(col("ei").isNull)), lit(true))
          .select(col("source"), col("cap"), col("cap").as("alloc"),
            lit(1L).as("capped"), lit(0L).as("level")))
      .orderBy("source")
  }

  // ---- z-order vs single-key skipping comparison (q293) ----------------

  /** q293's predicate workload: a source-only range, an n_chars-only
    * range (q138's box bounds), and the 2-dimensional box — NULL bound =
    * unconstrained dimension.
    */
  private val ZSkipPreds = Seq(
    (0L, Some(10L), Some(13L), None: Option[Long], None: Option[Long]),
    (1L, None: Option[Long], None: Option[Long], Some(200L), Some(400L)),
    (2L, Some(10L), Some(13L), Some(200L), Some(400L)))

  /** Files per group and per-dimension equidepth buckets for q293. */
  private val ZSkipGroup = 20L
  private val ZSkipBuckets = 16L

  /** q293: z-order vs single-key SKIPPING comparison — q285's zone-map
    * audit extended to the multi-dimension decision q138's layout makes:
    * the same corpus grouped into [[ZSkipGroup]]-file groups under THREE
    * layouts (sorted by source index, sorted by n_chars, z-ordered on
    * both), and per workload predicate (source-only / n_chars-only / the
    * 2-d box) the groups a min/max-stats scan must read. The measured
    * tradeoff IS the reason z-order exists: each single-key sort skips
    * ~everything for its own dimension and NOTHING for the other
    * (skipped_ppm 0), while the z-curve is the only layout that prunes
    * on BOTH single-dimension predicates (paying a little on each).
    *
    * The z-value interleaves per-dimension EQUIDEPTH RANK BUCKETS
    * ([[ZSkipBuckets]] each, q240's exact-rank discipline), not raw
    * values — the production z-order detail (Delta's OSS z-order
    * interleaves per-column range-partition ids the same way): raw
    * interleave lets the wider dimension's bits dominate (n_chars spans
    * 10 bits to the source index's 5) and the "z-order" silently
    * degenerates into that dimension's plain sort — measured here first,
    * fixed by normalization.
    *
    * Scale shape: three banded global ranks (q270's discipline — the
    * corpus never serializes through one window task; the two
    * normalization ranks are REUSED as the two single-key layout ranks),
    * one group-grain min/max rollup per layout, the 3-row workload
    * broadcast, and one conditional rows_matched rollup over the narrow
    * (si, nc) projection.
    */
  private val q293 = GraftQuery(
    "q293_zorder_skipping",
    s"""WITH zd AS (
       |  SELECT doc_id, CAST(substr(source, 4) AS INTEGER) AS si,
       |    least(n_chars, ${(1 << ZBits) - 1}) AS nc
       |  FROM documents),
       |r AS (SELECT doc_id, si, nc,
       |    row_number() OVER (ORDER BY si, doc_id) AS rsi,
       |    row_number() OVER (ORDER BY nc, doc_id) AS rnc,
       |    count(*) OVER () AS n
       |  FROM zd),
       |zz AS (SELECT doc_id, si, nc, rsi, rnc,
       |    (rsi - 1) * $ZSkipBuckets // n AS bsi,
       |    (rnc - 1) * $ZSkipBuckets // n AS bnc
       |  FROM r),
       |z2 AS (SELECT doc_id, si, nc, rsi, rnc,
       |    ${zSqlDuck("bsi", "bnc")} AS z FROM zz),
       |rs AS (SELECT 'by_source' AS layout, si, nc,
       |    (rsi - 1) // $ZSkipGroup AS grp FROM z2),
       |rn AS (SELECT 'by_nchars' AS layout, si, nc,
       |    (rnc - 1) // $ZSkipGroup AS grp FROM z2),
       |rz AS (SELECT 'zorder' AS layout, si, nc,
       |    (row_number() OVER (ORDER BY z, doc_id) - 1) // $ZSkipGroup
       |      AS grp FROM z2),
       |g AS (SELECT layout, grp,
       |    min(si) AS simin, max(si) AS simax,
       |    min(nc) AS ncmin, max(nc) AS ncmax, count(*) AS n
       |  FROM (SELECT * FROM rs UNION ALL SELECT * FROM rn
       |        UNION ALL SELECT * FROM rz)
       |  GROUP BY 1, 2),
       |p(pid, silo, sihi, nclo, nchi) AS (VALUES ${ZSkipPreds.map { q =>
          def f(o: Option[Long]) = o.map(_.toString).getOrElse("NULL")
          s"(${q._1}, ${f(q._2)}, ${f(q._3)}, ${f(q._4)}, ${f(q._5)})"
        }.mkString(", ")}),
       |m AS (SELECT pid, CAST(sum(CASE WHEN
       |      (silo IS NULL OR (si BETWEEN silo AND sihi))
       |      AND (nclo IS NULL OR (nc BETWEEN nclo AND nchi))
       |    THEN 1 ELSE 0 END) AS BIGINT) AS rows_matched
       |  FROM zz CROSS JOIN p GROUP BY 1)
       |SELECT layout, CAST(p.pid AS BIGINT) AS pid,
       |  CAST(count(*) AS BIGINT) AS n_groups,
       |  CAST(sum(CASE WHEN (silo IS NULL OR (simax >= silo AND simin <= sihi))
       |      AND (nclo IS NULL OR (ncmax >= nclo AND ncmin <= nchi))
       |    THEN 1 ELSE 0 END) AS BIGINT) AS scanned_groups,
       |  CAST((count(*) - sum(CASE WHEN
       |      (silo IS NULL OR (simax >= silo AND simin <= sihi))
       |      AND (nclo IS NULL OR (ncmax >= nclo AND ncmin <= nchi))
       |    THEN 1 ELSE 0 END)) * 1000000 // count(*) AS BIGINT)
       |    AS skipped_ppm,
       |  CAST(sum(CASE WHEN (silo IS NULL OR (simax >= silo AND simin <= sihi))
       |      AND (nclo IS NULL OR (ncmax >= nclo AND ncmin <= nchi))
       |    THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
       |  m.rows_matched
       |FROM g CROSS JOIN p JOIN m ON m.pid = p.pid
       |GROUP BY layout, p.pid, m.rows_matched
       |ORDER BY layout, pid""".stripMargin) { (s, d) =>
    val zd = Tables.documents(s, d)
      .select(col("doc_id"),
        substring(col("source"), 4, 8).cast("int").as("si"),
        least(col("n_chars"), lit((1L << ZBits) - 1)).as("nc"))
    val nRow = zd.agg(count(lit(1)).as("n"))
    // the two normalization ranks double as the two single-key layouts
    val r1 = Banded.cumSums(zd, Nil, Seq(col("si"), col("doc_id")),
      col("si"), Seq(Banded.CumSpec("rsi", lit(1L))))
    val r2 = Banded.cumSums(r1, Nil, Seq(col("nc"), col("doc_id")),
      expr("nc div 64"), Seq(Banded.CumSpec("rnc", lit(1L))))
    val zz = r2.crossJoin(broadcast(nRow))
      .select(col("doc_id"), col("si"), col("nc"), col("rsi"), col("rnc"),
        expr(s"((rsi - 1) * $ZSkipBuckets) div n").as("bsi"),
        expr(s"((rnc - 1) * $ZSkipBuckets) div n").as("bnc"))
    val z2 = zz.select(col("doc_id"), col("si"), col("nc"),
      col("rsi"), col("rnc"),
      expr(zSqlSpark("bsi", "bnc")).cast("long").as("z"))
    val r3 = Banded.cumSums(z2, Nil, Seq(col("z"), col("doc_id")),
      expr(s"z div $ZSkipBuckets"), Seq(Banded.CumSpec("rz", lit(1L))))
    def layoutOf(name: String, rk: String) =
      r3.select(lit(name).as("layout"),
        expr(s"($rk - 1) div $ZSkipGroup").as("grp"),
        col("si"), col("nc"))
    val g = layoutOf("by_source", "rsi")
      .unionByName(layoutOf("by_nchars", "rnc"))
      .unionByName(layoutOf("zorder", "rz"))
      .groupBy("layout", "grp")
      .agg(min(col("si")).as("simin"), max(col("si")).as("simax"),
        min(col("nc")).as("ncmin"), max(col("nc")).as("ncmax"),
        count(lit(1)).as("n"))
    val preds = s.createDataFrame(ZSkipPreds)
      .toDF("pid", "silo", "sihi", "nclo", "nchi")
    val surviveG = (col("silo").isNull ||
        (col("simax") >= col("silo") && col("simin") <= col("sihi"))) &&
      (col("nclo").isNull ||
        (col("ncmax") >= col("nclo") && col("ncmin") <= col("nchi")))
    val matchR = (col("silo").isNull ||
        col("si").between(col("silo"), col("sihi"))) &&
      (col("nclo").isNull || col("nc").between(col("nclo"), col("nchi")))
    val matched = zz.crossJoin(broadcast(preds))
      .groupBy("pid")
      .agg(sum(when(matchR, 1L).otherwise(0L)).as("rows_matched"))
    g.crossJoin(broadcast(preds))
      .groupBy("layout", "pid")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(surviveG, 1L).otherwise(0L)).as("scanned_groups"),
        sum(when(surviveG, col("n")).otherwise(0L)).as("rows_scanned"))
      .join(broadcast(matched), Seq("pid"))
      .select(col("layout"), col("pid"), col("n_groups"),
        col("scanned_groups"),
        expr("((n_groups - scanned_groups) * 1000000) div n_groups")
          .as("skipped_ppm"),
        col("rows_scanned"), col("rows_matched"))
      .orderBy("layout", "pid")
  }

  // ---- Hilbert vs z-order skipping comparison (q374) --------------------

  /** One Hilbert xy2d step (the Wikipedia loop body at half-size `sv`
    * over an `n`-wide grid) as three plain-arithmetic SQL expressions
    * over columns (hx, hy, hd) — CASE + integer arithmetic only, so ONE
    * generated text runs identically in Spark and DuckDB (the zArith
    * discipline). The quadrant code (3·rx)⊕ry is replaced by the
    * equivalent 3·rx + ry − 2·rx·ry (exact on the {0,1}² domain),
    * avoiding the engines' divergent XOR syntax; the rotation composes
    * flip-then-swap into one projection layer per step.
    */
  private[operators] def hilbertStep(sv: Long, n: Long): (String, String, String) = {
    val rx = s"(CASE WHEN (hx & $sv) > 0 THEN 1 ELSE 0 END)"
    val ry = s"(CASE WHEN (hy & $sv) > 0 THEN 1 ELSE 0 END)"
    val d = s"hd + ${sv * sv} * (3 * $rx + $ry - 2 * $rx * $ry)"
    val x = s"CASE WHEN $ry = 0 THEN " +
      s"(CASE WHEN $rx = 1 THEN ${n - 1} - hy ELSE hy END) ELSE hx END"
    val y = s"CASE WHEN $ry = 0 THEN " +
      s"(CASE WHEN $rx = 1 THEN ${n - 1} - hx ELSE hx END) ELSE hy END"
    (x, y, d)
  }

  /** Half-size schedule for the [[ZSkipBuckets]]-wide Hilbert grid. */
  private[operators] def hilbertHalves: Seq[Long] =
    Iterator.iterate(ZSkipBuckets / 2)(_ / 2).takeWhile(_ > 0).toSeq

  /** q374: HILBERT vs Z-ORDER skipping — the second space-filling curve
    * beside q293's, measured on the IDENTICAL workload, bucketing, and
    * group size so the two curves read as one decision table: the
    * Hilbert curve never jumps (every consecutive pair of cells is
    * grid-adjacent, unlike the Z-curve's diagonal seams), so its
    * same-group cells tile tighter boxes and a 2-d box predicate should
    * scan fewer groups at equal everything else. MEASURED at sf0.01
    * (16×16 bucket grid, 20-row groups): Hilbert scans 5 groups to the
    * Z-curve's 8 on the 2-d box and 8 to 11 on the source-only range,
    * tying on n_chars-only — the no-jump property is worth ~30% of the
    * scanned groups exactly where the curve shape matters, and nothing
    * where one dimension's sort dominates; second-order next to bucket
    * normalization (q293's finding), which is why production engines
    * ship Z-order first and Hilbert as the tuning step.
    *
    * The index is computed by [[hilbertStep]] — one projection layer
    * per bit level (4 at 16 buckets), plain integer CASE arithmetic,
    * bijective on the grid (pinned against the reference recursion in
    * HilbertSpec) — and the layout rank rides the same Banded global
    * rank as every layout here.
    *
    * Scale shape: q293's — banded ranks, group-grain min/max rollup,
    * 3-row workload broadcast; the Hilbert chain adds 4 narrow
    * map-side projections, nothing keyed.
    */
  private val q374 = GraftQuery(
    "q374_hilbert_skipping", {
      val hChain = {
        var prev = "h0"
        hilbertHalves.zipWithIndex.map { case (sv, i) =>
          val (xE, yE, dE) = hilbertStep(sv, ZSkipBuckets)
          val cte = s"""h${i + 1} AS (SELECT doc_id, si, nc, z,
             |    $xE AS hx, $yE AS hy, $dE AS hd FROM $prev)""".stripMargin
          prev = s"h${i + 1}"
          cte
        }.mkString(",\n")
      }
      val hLast = s"h${hilbertHalves.size}"
      s"""WITH zd AS (
       |  SELECT doc_id, CAST(substr(source, 4) AS INTEGER) AS si,
       |    least(n_chars, ${(1 << ZBits) - 1}) AS nc
       |  FROM documents),
       |r AS (SELECT doc_id, si, nc,
       |    row_number() OVER (ORDER BY si, doc_id) AS rsi,
       |    row_number() OVER (ORDER BY nc, doc_id) AS rnc,
       |    count(*) OVER () AS n
       |  FROM zd),
       |zz AS (SELECT doc_id, si, nc,
       |    (rsi - 1) * $ZSkipBuckets // n AS bsi,
       |    (rnc - 1) * $ZSkipBuckets // n AS bnc
       |  FROM r),
       |h0 AS (SELECT doc_id, si, nc, ${zSqlDuck("bsi", "bnc")} AS z,
       |    bsi AS hx, bnc AS hy, 0 AS hd FROM zz),
       |$hChain,
       |rz AS (SELECT 'zorder' AS layout, si, nc,
       |    (row_number() OVER (ORDER BY z, doc_id) - 1) // $ZSkipGroup
       |      AS grp FROM $hLast),
       |rh AS (SELECT 'hilbert' AS layout, si, nc,
       |    (row_number() OVER (ORDER BY hd, doc_id) - 1) // $ZSkipGroup
       |      AS grp FROM $hLast),
       |g AS (SELECT layout, grp,
       |    min(si) AS simin, max(si) AS simax,
       |    min(nc) AS ncmin, max(nc) AS ncmax, count(*) AS n
       |  FROM (SELECT * FROM rz UNION ALL SELECT * FROM rh)
       |  GROUP BY 1, 2),
       |p(pid, silo, sihi, nclo, nchi) AS (VALUES ${ZSkipPreds.map { q =>
          def f(o: Option[Long]) = o.map(_.toString).getOrElse("NULL")
          s"(${q._1}, ${f(q._2)}, ${f(q._3)}, ${f(q._4)}, ${f(q._5)})"
        }.mkString(", ")}),
       |m AS (SELECT pid, CAST(sum(CASE WHEN
       |      (silo IS NULL OR (si BETWEEN silo AND sihi))
       |      AND (nclo IS NULL OR (nc BETWEEN nclo AND nchi))
       |    THEN 1 ELSE 0 END) AS BIGINT) AS rows_matched
       |  FROM zz CROSS JOIN p GROUP BY 1)
       |SELECT layout, CAST(p.pid AS BIGINT) AS pid,
       |  CAST(count(*) AS BIGINT) AS n_groups,
       |  CAST(sum(CASE WHEN (silo IS NULL OR (simax >= silo AND simin <= sihi))
       |      AND (nclo IS NULL OR (ncmax >= nclo AND ncmin <= nchi))
       |    THEN 1 ELSE 0 END) AS BIGINT) AS scanned_groups,
       |  CAST((count(*) - sum(CASE WHEN
       |      (silo IS NULL OR (simax >= silo AND simin <= sihi))
       |      AND (nclo IS NULL OR (ncmax >= nclo AND ncmin <= nchi))
       |    THEN 1 ELSE 0 END)) * 1000000 // count(*) AS BIGINT)
       |    AS skipped_ppm,
       |  CAST(sum(CASE WHEN (silo IS NULL OR (simax >= silo AND simin <= sihi))
       |      AND (nclo IS NULL OR (ncmax >= nclo AND ncmin <= nchi))
       |    THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
       |  m.rows_matched
       |FROM g CROSS JOIN p JOIN m ON m.pid = p.pid
       |GROUP BY layout, p.pid, m.rows_matched
       |ORDER BY layout, pid""".stripMargin
    }) { (s, d) =>
    val zd = Tables.documents(s, d)
      .select(col("doc_id"),
        substring(col("source"), 4, 8).cast("int").as("si"),
        least(col("n_chars"), lit((1L << ZBits) - 1)).as("nc"))
    val nRow = zd.agg(count(lit(1)).as("n"))
    val r1 = Banded.cumSums(zd, Nil, Seq(col("si"), col("doc_id")),
      col("si"), Seq(Banded.CumSpec("rsi", lit(1L))))
    val r2 = Banded.cumSums(r1, Nil, Seq(col("nc"), col("doc_id")),
      expr("nc div 64"), Seq(Banded.CumSpec("rnc", lit(1L))))
    val zz = r2.crossJoin(broadcast(nRow))
      .select(col("doc_id"), col("si"), col("nc"),
        expr(s"((rsi - 1) * $ZSkipBuckets) div n").as("bsi"),
        expr(s"((rnc - 1) * $ZSkipBuckets) div n").as("bnc"))
    var h = zz.select(col("doc_id"), col("si"), col("nc"),
      expr(zSqlSpark("bsi", "bnc")).cast("long").as("z"),
      col("bsi").as("hx"), col("bnc").as("hy"), lit(0L).as("hd"))
    hilbertHalves.foreach { sv =>
      val (xE, yE, dE) = hilbertStep(sv, ZSkipBuckets)
      h = h.select(col("doc_id"), col("si"), col("nc"), col("z"),
        expr(xE).as("hx"), expr(yE).as("hy"), expr(dE).as("hd"))
    }
    val rz = Banded.cumSums(h, Nil, Seq(col("z"), col("doc_id")),
      expr(s"z div $ZSkipBuckets"), Seq(Banded.CumSpec("rz", lit(1L))))
    val rh = Banded.cumSums(rz, Nil, Seq(col("hd"), col("doc_id")),
      expr(s"hd div $ZSkipBuckets"), Seq(Banded.CumSpec("rh", lit(1L))))
    def layoutOf(name: String, rk: String) =
      rh.select(lit(name).as("layout"),
        expr(s"($rk - 1) div $ZSkipGroup").as("grp"),
        col("si"), col("nc"))
    val g = layoutOf("zorder", "rz")
      .unionByName(layoutOf("hilbert", "rh"))
      .groupBy("layout", "grp")
      .agg(min(col("si")).as("simin"), max(col("si")).as("simax"),
        min(col("nc")).as("ncmin"), max(col("nc")).as("ncmax"),
        count(lit(1)).as("n"))
    val preds = s.createDataFrame(ZSkipPreds)
      .toDF("pid", "silo", "sihi", "nclo", "nchi")
    val surviveG = (col("silo").isNull ||
        (col("simax") >= col("silo") && col("simin") <= col("sihi"))) &&
      (col("nclo").isNull ||
        (col("ncmax") >= col("nclo") && col("ncmin") <= col("nchi")))
    val matchR = (col("silo").isNull ||
        col("si").between(col("silo"), col("sihi"))) &&
      (col("nclo").isNull || col("nc").between(col("nclo"), col("nchi")))
    val matched = zz.crossJoin(broadcast(preds))
      .groupBy("pid")
      .agg(sum(when(matchR, 1L).otherwise(0L)).as("rows_matched"))
    g.crossJoin(broadcast(preds))
      .groupBy("layout", "pid")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(surviveG, 1L).otherwise(0L)).as("scanned_groups"),
        sum(when(surviveG, col("n")).otherwise(0L)).as("rows_scanned"))
      .join(broadcast(matched), Seq("pid"))
      .select(col("layout"), col("pid"), col("n_groups"),
        col("scanned_groups"),
        expr("((n_groups - scanned_groups) * 1000000) div n_groups")
          .as("skipped_ppm"),
        col("rows_scanned"), col("rows_matched"))
      .orderBy("layout", "pid")
  }

  // ---- Neyman (variance-optimal) stratified allocation (q324) ----------

  /** q324's sampling budget — odd and non-divisible by the stratum count
    * so the largest-remainder arm is exercised at every SF (q261's
    * convention). */
  private val NeyN = 97L

  /** q324: NEYMAN variance-optimal stratified allocation — the third
    * allocation verb next to proportional q223 and temperature q261, and
    * the one a 100 TB stats job should actually use: slots ∝ N_h·S_h
    * (Neyman 1934), so high-variance strata get oversampled and the
    * stratified-mean variance Σ (N_h/N)²·S_h²/n_h is minimized at fixed
    * budget. Fully integer-exact end-to-end: per-stratum variance stays
    * the RATIONAL s2num/s2den = (N_h·Σx²−(Σx)²)/(N_h(N_h−1)), S_h enters
    * the weight as isqrt(s2num·10⁶ div s2den) (float sqrt seeds, one
    * integer correction step decides — q261's isqrt), both allocations
    * are Hamilton largest-remainder (Σ alloc == budget EXACTLY), and the
    * achieved variances are scaled integer divisions summed exactly. The
    * proportional allocation rides beside Neyman with its measured
    * variance, so the output is the decision table "what does
    * variance-awareness buy": on this near-homoskedastic synthetic
    * corpus ~0.5% — the honest q294-style reading — while a corpus with
    * a high-variance stratum shows the full Neyman gain.
    *
    * Scale shape: the only corpus-grain work is ONE rollup to source
    * grain (3 partial-agg BIGINT sums); weights, both Hamilton ranks
    * (k-row unpartitioned windows over the source-cardinality frame —
    * q223's justification), and the variance epilogue all run on
    * metadata-grain frames with 1-row broadcast totals. At 10¹² chars
    * per stratum the nh²·s2num·10⁶ numerator needs DECIMAL(38)/HUGEINT
    * headroom (q237's discipline) — rescale before it exceeds it.
    */
  /** q324's oracle, shared verbatim by the streaming twin q330. */
  private[graft] val neymanOracleSql: String =
    s"""WITH st AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS nh,
       |    CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS sx,
       |    CAST(sum(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT))
       |      AS BIGINT) AS sxx
       |  FROM documents GROUP BY 1),
       |s2 AS (
       |  SELECT source, nh, nh * sxx - sx * sx AS s2num,
       |    nh * (nh - 1) AS s2den
       |  FROM st),
       |w0 AS (SELECT *, (s2num * 1000000) // s2den AS a,
       |    CAST(floor(sqrt(CAST((s2num * 1000000) // s2den AS DOUBLE)))
       |      AS BIGINT) AS g
       |  FROM s2),
       |w AS (SELECT source, nh, s2num, s2den,
       |    nh * (CASE WHEN (g+1)*(g+1) <= a THEN g+1
       |         WHEN g*g > a THEN g-1 ELSE g END) AS w
       |  FROM w0),
       |tw AS (SELECT CAST(sum(w) AS BIGINT) AS totw,
       |    CAST(sum(nh) AS BIGINT) AS totn FROM w),
       |q AS (SELECT w.*, tw.totn,
       |    ($NeyN * w.w) // tw.totw AS flw, ($NeyN * w.w) % tw.totw AS fracw,
       |    ($NeyN * w.nh) // tw.totn AS flp, ($NeyN * w.nh) % tw.totn AS fracp
       |  FROM w CROSS JOIN tw),
       |k AS (SELECT $NeyN - CAST(sum(flw) AS BIGINT) AS remw,
       |    $NeyN - CAST(sum(flp) AS BIGINT) AS remp FROM q),
       |rk AS (SELECT q.*,
       |    row_number() OVER (ORDER BY fracw DESC, source) AS rw,
       |    row_number() OVER (ORDER BY fracp DESC, source) AS rp
       |  FROM q),
       |alloc AS (
       |  SELECT rk.source, rk.nh, rk.w, rk.s2num, rk.s2den, rk.totn,
       |    CAST(rk.flw + CASE WHEN rk.rw <= k.remw THEN 1 ELSE 0 END
       |      AS BIGINT) AS an,
       |    CAST(rk.flp + CASE WHEN rk.rp <= k.remp THEN 1 ELSE 0 END
       |      AS BIGINT) AS ap
       |  FROM rk CROSS JOIN k),
       |v AS (
       |  SELECT source, nh, w, an, ap, s2num // s2den AS s2,
       |    CASE WHEN an > 0 THEN (CAST(nh AS HUGEINT) * nh * s2num * 1000000)
       |      // (CAST(s2den AS HUGEINT) * an * totn * totn) END AS vn,
       |    CASE WHEN ap > 0 THEN (CAST(nh AS HUGEINT) * nh * s2num * 1000000)
       |      // (CAST(s2den AS HUGEINT) * ap * totn * totn) END AS vp
       |  FROM alloc),
       |tot AS (SELECT CAST(sum(vn) AS BIGINT) AS var_ney_e6,
       |  CAST(sum(vp) AS BIGINT) AS var_prop_e6 FROM v)
       |SELECT v.source, v.nh AS n_docs, CAST(v.s2 AS BIGINT) AS s2_chars,
       |  CAST(v.w AS BIGINT) AS weight, v.an AS alloc_neyman,
       |  v.ap AS alloc_prop, tot.var_ney_e6, tot.var_prop_e6
       |FROM v CROSS JOIN tot ORDER BY v.source""".stripMargin

  /** q324's integer-exact Neyman/proportional election + variance
    * epilogue over the source-grain (source, nh, sx, sxx) rollup —
    * shared verbatim with the streaming twin q330. Self-joins its
    * input; metadata-grain throughout.
    */
  private[graft] def neymanOf(st: DataFrame): DataFrame = {
    val s2 = st.select(col("source"), col("nh"),
      (col("nh") * col("sxx") - col("sx") * col("sx")).as("s2num"),
      (col("nh") * (col("nh") - 1)).as("s2den"))
    val w = s2
      .withColumn("a", expr("(s2num * 1000000) div s2den"))
      .withColumn("g", floor(sqrt(col("a").cast("double"))).cast("long"))
      .select(col("source"), col("nh"), col("s2num"), col("s2den"),
        (col("nh") *
          when((col("g") + 1) * (col("g") + 1) <= col("a"), col("g") + 1)
            .when(col("g") * col("g") > col("a"), col("g") - 1)
            .otherwise(col("g"))).as("w"))
    // dual Hamilton election (Neyman weight vs raw proportional) via the
    // shared kernel; totn rides alongside for the variance epilogue
    val alloc = hamiltonOf(w, "source", NeyN, "w" -> "an", "nh" -> "ap")
      .crossJoin(broadcast(w.agg(sum("nh").as("totn"))))
    // Spark's Decimal `/` rounds; the oracle's `//` floors — so both
    // variance contributions use `div` on DECIMAL(38,0) operands.
    val v2 = alloc.select(col("source"), col("nh"), col("w"), col("an"),
      col("ap"), expr("s2num div s2den").as("s2"),
      when(col("an") > 0, expr(
        "CAST((CAST(nh AS DECIMAL(38,0)) * nh * s2num * 1000000) div " +
          "(CAST(s2den AS DECIMAL(38,0)) * an * totn * totn) AS BIGINT)"))
        .as("vn"),
      when(col("ap") > 0, expr(
        "CAST((CAST(nh AS DECIMAL(38,0)) * nh * s2num * 1000000) div " +
          "(CAST(s2den AS DECIMAL(38,0)) * ap * totn * totn) AS BIGINT)"))
        .as("vp"))
    val tot = v2.agg(sum("vn").as("var_ney_e6"), sum("vp").as("var_prop_e6"))
    v2.crossJoin(broadcast(tot))
      .select(col("source"), col("nh").as("n_docs"),
        col("s2").cast("long").as("s2_chars"), col("w").as("weight"),
        col("an").as("alloc_neyman"), col("ap").as("alloc_prop"),
        col("var_ney_e6").cast("long").as("var_ney_e6"),
        col("var_prop_e6").cast("long").as("var_prop_e6"))
      .orderBy("source")
  }

  private val q324 = GraftQuery(
    "q324_neyman_allocation", neymanOracleSql) { (s, d) =>
    neymanOf(Tables.documents(s, d)
      .select(col("source"), col("n_chars").cast("long").as("x"))
      .groupBy("source").agg(count(lit(1)).as("nh"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx")))
  }

  // ---- RAG chunk-size sweep (q345) -----------------------------------------

  /** q345: CHUNK-SIZE sweep for retrieval ingestion — the OTHER
    * context-budget decision next to q315's training-packing sweep: a
    * RAG pipeline slices documents into fixed C-token chunks, and C
    * trades SENTENCE FRAGMENTATION (a sentence straddling a chunk
    * boundary loses its meaning to both chunks — retrieval quality
    * cost, falls as C grows) against TAIL PADDING (the last chunk of
    * each doc is under-full — embedding/storage cost, rises as C
    * grows). Per C ∈ {16, 32, 64}: chunk count, mean fill, padding
    * share, and the split-sentence rate — on this corpus 94% of
    * sentences split at C=16 vs 39% at C=64 while padding triples, the
    * measured elbow a pipeline picks its chunker from.
    *
    * Exactness: word counts, offsets, chunk math are all BIGINT; both
    * engines tokenize identically (split on '. ' then ' '); ppm are
    * floored integer divisions.
    *
    * Scale shape: one sentence explode (map-side), ONE per-doc window
    * for the running word offset (partitioned by doc_id — bounded by
    * document length, never corpus-wide), a 3-row grid broadcast, and
    * two hash aggregates (doc grain, then grid grain).
    */
  private val q345 = GraftQuery(
    "q345_chunking_sweep",
    """WITH sp AS (
      |  SELECT doc_id, string_split(text, '. ') AS ss FROM documents),
      |sent AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS si,
      |    len(string_split(ss[CAST(i AS INTEGER)], ' ')) AS wc
      |  FROM sp, LATERAL unnest(range(1, len(ss) + 1)) t(i)),
      |off AS (
      |  SELECT doc_id, si, wc,
      |    coalesce(sum(wc) OVER (PARTITION BY doc_id ORDER BY si
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
      |  FROM sent),
      |grid AS (SELECT CAST(c AS BIGINT) AS c
      |  FROM (VALUES (16), (32), (64)) t(c)),
      |per AS (
      |  SELECT g.c, o.doc_id,
      |    CAST(count(*) AS BIGINT) AS n_sent,
      |    CAST(sum(CASE WHEN o.start // g.c <> (o.start + o.wc - 1) // g.c
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_split,
      |    CAST(sum(o.wc) AS BIGINT) AS n_words
      |  FROM off o CROSS JOIN grid g GROUP BY 1, 2),
      |agg AS (
      |  SELECT c, CAST(sum((n_words + c - 1) // c) AS BIGINT) AS n_chunks,
      |    CAST(sum((n_words + c - 1) // c * c - n_words) AS BIGINT) AS pad,
      |    CAST(sum(n_words) AS BIGINT) AS words,
      |    CAST(sum(n_split) AS BIGINT) AS splits,
      |    CAST(sum(n_sent) AS BIGINT) AS sents
      |  FROM per GROUP BY 1)
      |SELECT c AS chunk_tokens, n_chunks,
      |  CAST(words * 1000000 // n_chunks AS BIGINT) AS mean_fill_e6,
      |  CAST(pad * 1000000 // (n_chunks * c) AS BIGINT) AS pad_ppm,
      |  CAST(splits * 1000000 // sents AS BIGINT) AS split_sent_ppm
      |FROM agg ORDER BY chunk_tokens""".stripMargin) { (s, d) =>
    val sent = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(split(col("text"), "\\. ")).as(Seq("i0", "sv")))
      .select(col("doc_id"), (col("i0") + 1).cast("long").as("si"),
        size(split(col("sv"), " ")).cast("long").as("wc"))
    val wOff = Window.partitionBy("doc_id").orderBy("si")
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = sent.withColumn("start",
      coalesce(sum(col("wc")).over(wOff), lit(0L)))
    import s.implicits._
    val grid = broadcast(Seq(16L, 32L, 64L).toDF("c"))
    off.crossJoin(grid)
      .groupBy("c", "doc_id")
      .agg(count(lit(1)).as("n_sent"),
        sum(when(expr("start div c") =!= expr("(start + wc - 1) div c"), 1L)
          .otherwise(0L)).as("n_split"),
        sum(col("wc")).as("n_words"))
      .groupBy("c")
      .agg(sum(expr("(n_words + c - 1) div c")).as("n_chunks"),
        sum(expr("(n_words + c - 1) div c * c - n_words")).as("pad"),
        sum(col("n_words")).as("words"),
        sum(col("n_split")).as("splits"),
        sum(col("n_sent")).as("sents"))
      .select(col("c").as("chunk_tokens"), col("n_chunks"),
        expr("(words * 1000000) div n_chunks").as("mean_fill_e6"),
        expr("(pad * 1000000) div (n_chunks * c)").as("pad_ppm"),
        expr("(splits * 1000000) div sents").as("split_sent_ppm"))
      .orderBy("chunk_tokens")
  }

  /** q395: PACKED-SEQUENCE ATTENTION-WASTE AUDIT — the number that
    * decides whether a training run needs document-boundary attention
    * masks: q268's concat-and-chunk packing puts fragments of unrelated
    * documents into the same [[ChunkTokens]]-token sequence, and a
    * plain causal mask lets every token attend across those boundaries
    * — cross-document pairs are compute SPENT on attention that is
    * contamination, not context. Per packed sequence, fragment lengths
    * fall out of the SAME cumulative-interval overlap q268 reads
    * (doc interval [cum−tok, cum) × sequence interval [k·C, (k+1)·C)),
    * intra-document pairs are Σ frag·(frag+1)/2, the causal total is
    * T·(T+1)/2, and the difference is the wasted/contaminating pair
    * count — reported per shard with its ppm share. All integer
    * arithmetic on the one per-shard token cumulative.
    *
    * MEASURED at sf0.01: cross_ppm ≈ 870,000 on every shard — these
    * short documents (~65 tokens) pack ~8 to a sequence, so SEVEN
    * EIGHTHS of the causal-mask attention budget lands across document
    * boundaries; the audit is the case for block-diagonal masks (or
    * best-fit packing) stated as one number a training owner reads.
    *
    * Scale shape: q268's — per-shard windows at dataloader-shard
    * parallelism, a ≤2-row sequence explode per document (docs are
    * shorter than [[ChunkTokens]] here; generally ceil(tok/C)+1), and
    * shard-grain rollups.
    */
  private val q395 = GraftQuery(
    "q395_pack_attention_audit",
    s"""WITH $packedCumCtes,
       |fu AS (
       |  SELECT shard, doc_id, cum, tok,
       |    unnest(range(CAST((cum - tok) // $ChunkTokens AS BIGINT),
       |      CAST(((cum - 1) // $ChunkTokens) + 1 AS BIGINT))) AS k
       |  FROM c),
       |f AS (
       |  SELECT shard, doc_id, k AS seq,
       |    least(cum, (k + 1) * $ChunkTokens)
       |      - greatest(cum - tok, k * $ChunkTokens) AS frag
       |  FROM fu),
       |sq AS (
       |  SELECT shard, seq, CAST(sum(frag) AS BIGINT) AS t,
       |    CAST(sum(frag * (frag + 1) // 2) AS BIGINT) AS intra
       |  FROM f GROUP BY 1, 2)
       |SELECT CAST(shard AS INTEGER) AS shard,
       |  CAST(count(*) AS BIGINT) AS n_seqs,
       |  CAST(sum(t * (t + 1) // 2) AS BIGINT) AS total_pairs,
       |  CAST(sum(intra) AS BIGINT) AS intra_pairs,
       |  CAST(sum(t * (t + 1) // 2 - intra) AS BIGINT) AS cross_pairs,
       |  CAST(sum(t * (t + 1) // 2 - intra) * 1000000
       |    // sum(t * (t + 1) // 2) AS BIGINT) AS cross_ppm
       |FROM sq GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val frags = packedCum(s, d)
      .withColumn("k", explode(sequence(
        expr(s"(cum - tok) div $ChunkTokens"),
        expr(s"(cum - 1) div $ChunkTokens"))))
      .select(col("shard"), col("k").as("seq"),
        (least(col("cum"), (col("k") + 1) * ChunkTokens)
          - greatest(col("cum") - col("tok"), col("k") * ChunkTokens))
          .as("frag"))
    val sq = frags.groupBy("shard", "seq")
      .agg(sum(col("frag")).as("t"),
        sum(expr("(frag * (frag + 1)) div 2")).as("intra"))
    sq.groupBy("shard")
      .agg(count(lit(1)).as("n_seqs"),
        sum(expr("(t * (t + 1)) div 2")).as("total_pairs"),
        sum(col("intra")).as("intra_pairs"),
        sum(expr("(t * (t + 1)) div 2 - intra")).as("cross_pairs"))
      .select(col("shard").cast("int").as("shard"), col("n_seqs"),
        col("total_pairs"), col("intra_pairs"), col("cross_pairs"),
        expr("(cross_pairs * 1000000) div total_pairs").as("cross_ppm"))
      .orderBy("shard")
  }

  /** q396's localized-erasure fixture: the q150 deletion bucket (LCG
    * bucket 9 of the doc-id space), restricted to ONE dataloader shard —
    * the "one delivery received erasures" scenario whose change a
    * Merkle manifest must localize.
    */
  private val MerkleErasedShard = 5

  /** Tree depth derived from the SHARED shard knob, with the
    * power-of-two requirement the even/odd pair join relies on — a
    * non-power [[ShufShards]] would silently drop the unpaired node at
    * each level in BOTH engines (no gate catches same-wrong-both-sides),
    * so it must fail at class-init instead.
    */
  private val MerkleLevels: Int = {
    require(ShufShards > 0 && (ShufShards & (ShufShards - 1)) == 0,
      s"q396's Merkle pair join needs power-of-two shards, got $ShufShards")
    java.lang.Integer.numberOfTrailingZeros(ShufShards)
  }

  /** q396: MERKLE SHARD MANIFEST — the corpus-versioning layer above
    * q248's flat digests: per dataloader shard a commutative content
    * digest (the shared row-hash summed mod 2⁶¹−1, layout/order/engine
    * independent), then a binary hash tree over the shard axis (parent
    * = PolyHash of its children's digest texts). Two versions are
    * manifested side by side — the full corpus and a LIVE version with
    * one shard's deletion-bucket docs erased — and the changed flag per
    * node shows the property the tree exists for: the erasure perturbs
    * EXACTLY the ⌈log₂ shards⌉+1 nodes on one root path (4 of 15 here),
    * so two 100 TB replicas locate their divergence in O(log shards)
    * digest comparisons instead of a shard-by-shard scan — the
    * anti-entropy walk every replicated data lake runs.
    *
    * Scale shape: one map-side hash per row, partial-aggregated to
    * shard grain; the tree is shards-sized metadata (log-depth chained
    * joins on node ids).
    */
  /** Shared Merkle generators (q396 batch manifest, q397 streaming
    * leaf maintenance): row/parent hash texts, the per-version oracle
    * CTE chain, and the Spark leaf/level builders.
    */
  private val merkleRowHSql: String = PolyHash.oracleSql(
    "(CAST(doc_id AS VARCHAR)||'|'||lang||'|'||" +
      "CAST(n_chars AS VARCHAR)||'|'||text)")

  private val merkleParentHSql: String = PolyHash.oracleSql(
    "(CAST(a.dig AS VARCHAR)||':'||CAST(b.dig AS VARCHAR))")

  /** Oracle CTE chain for one corpus version: leaves lv0`sfx` through
    * root lv[[MerkleLevels]]`sfx` over `documents` filtered by `where`.
    */
  private def merkleChainSql(sfx: String, where: String): String = {
    val levels = (0 until MerkleLevels).map { i =>
      s"""lv${i + 1}$sfx AS (
         |  SELECT a.node // 2 AS node, $merkleParentHSql AS dig
         |  FROM lv$i$sfx a JOIN lv$i$sfx b ON b.node = a.node + 1
         |  WHERE a.node % 2 = 0)""".stripMargin
    }.mkString(",\n")
    s"""r$sfx AS (
       |  SELECT ${lcgSql("doc_id", SampleA, SampleC)} % $ShufShards
       |      AS node,
       |    $merkleRowHSql AS h
       |  FROM documents$where),
       |lv0$sfx AS (
       |  SELECT s.node, coalesce(g.dig, 0) AS dig
       |  FROM range(0, $ShufShards) s(node)
       |  LEFT JOIN (
       |    SELECT node, CAST(sum(CAST(h AS HUGEINT))
       |      % 2305843009213693951 AS BIGINT) AS dig
       |    FROM r$sfx GROUP BY 1) g ON g.node = s.node),
       |$levels""".stripMargin
  }

  private def merkleShardCol = (lcg(col("doc_id"), SampleA, SampleC)
    % ShufShards).cast("long")

  private def merkleRowHCol = PolyHash.hash(concat(
    col("doc_id").cast("string"), lit("|"), col("lang"), lit("|"),
    col("n_chars").cast("string"), lit("|"), col("text")))

  /** Dense 8-leaf frame (node, dig) from a documents frame. */
  private def merkleLeafOf(s: SparkSession,
      ds: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    s.range(ShufShards).toDF("node")
      .join(ds.select(merkleShardCol.as("node"), merkleRowHCol.as("h"))
        .groupBy("node")
        .agg(expr("CAST(sum(CAST(h AS DECIMAL(38,0)))" +
          " % 2305843009213693951 AS BIGINT)").as("dig")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("dig"), lit(0L)).as("dig"))

  /** All tree levels bottom-up from a dense (node, dig) leaf frame. */
  private def merkleLevelsOf(
      leaf: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.DataFrame] =
    (0 until MerkleLevels).scanLeft(leaf) { case (lv, _) =>
      lv.where(col("node") % 2 === 0)
        .select((col("node") / 2).cast("long").as("node"),
          col("dig").as("da"))
        .join(lv.where(col("node") % 2 === 1)
          .select(((col("node") - 1) / 2).cast("long").as("node"),
            col("dig").as("db")), "node")
        .select(col("node"), PolyHash.hash(concat(
          col("da").cast("string"), lit(":"), col("db").cast("string")))
          .as("dig"))
    }


  /** Streaming-safe Merkle leaf maintenance (q397's plan): arriving
    * document files feed the ONE stateful operator — the per-shard
    * digest sum in complete mode (commutative, so state is one DECIMAL
    * per shard at any arrival rate/order); the Mersenne reduction and
    * the hash tree are the dims-sized read-back epilogue.
    */
  private[graft] def merkleStreamPlan(
      docsStream: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docsStream.select(merkleShardCol.as("node"), merkleRowHCol.as("h"))
      .groupBy("node")
      .agg(expr("sum(CAST(h AS DECIMAL(38,0)))").as("sdig"))

  /** Read-back for [[merkleStreamPlan]]'s sink: dense leaves → tree →
    * (level, node, digest) rows.
    */
  private[graft] def merkleStreamReadback(s: SparkSession,
      sunk: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val leaf = s.range(ShufShards).toDF("node")
      .join(sunk.select(col("node"),
        expr("CAST(sdig % 2305843009213693951 AS BIGINT)").as("dig")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("dig"), lit(0L)).as("dig"))
    merkleLevelsOf(leaf).zipWithIndex.map { case (lv, i) =>
      lv.select(lit(i).cast("int").as("level"), col("node"),
        col("dig").as("digest"))
    }.reduce(_.unionByName(_)).orderBy("level", "node")
  }

  /** q397's oracle: the full-corpus Merkle tree recomputed from scratch
    * ([[merkleChainSql]]'s base chain) at (level, node, digest) grain.
    */
  private[graft] val merkleStreamOracle: String = {
    val allLv = (0 to MerkleLevels).map { i =>
      s"""SELECT CAST($i AS INTEGER) AS level,
         |  CAST(node AS BIGINT) AS node, dig AS digest FROM lv${i}b"""
        .stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH ${merkleChainSql("b", "")}
       |$allLv
       |ORDER BY level, node""".stripMargin
  }

  private val q396 = GraftQuery(
    "q396_merkle_manifest", {
      def chain(sfx: String, where: String): String =
        merkleChainSql(sfx, where)
      val erased = s"(${lcgSql("doc_id", SplitA, SplitC)}) % 10 >= 9" +
        s" AND ${lcgSql("doc_id", SampleA, SampleC)} % $ShufShards" +
        s" = $MerkleErasedShard"
      val allLv = (0 to MerkleLevels).map { i =>
        s"""SELECT CAST($i AS INTEGER) AS level,
           |  CAST(b.node AS BIGINT) AS node,
           |  b.dig AS digest_base, l.dig AS digest_live,
           |  b.dig <> l.dig AS changed
           |FROM lv${i}b b JOIN lv${i}l l ON l.node = b.node""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH ${chain("b", "")},
         |${chain("l", s"\n  WHERE NOT ($erased)")}
         |$allLv
         |ORDER BY level, node""".stripMargin
    }) { (s, d) =>
    val docs = Tables.documents(s, d)
    val erased = (lcg(col("doc_id"), SplitA, SplitC) % 10 >= 9) &&
      merkleShardCol === MerkleErasedShard
    def tree(ds: org.apache.spark.sql.DataFrame) =
      merkleLevelsOf(merkleLeafOf(s, ds))
    val base = tree(docs)
    val live = tree(docs.where(!erased))
    base.zip(live).zipWithIndex.map { case ((b, l), i) =>
      b.select(col("node"), col("dig").as("digest_base"))
        .join(l.select(col("node"), col("dig").as("digest_live")), "node")
        .select(lit(i).cast("int").as("level"), col("node"),
          col("digest_base"), col("digest_live"),
          (col("digest_base") =!= col("digest_live")).as("changed"))
    }.reduce(_.unionByName(_)).orderBy("level", "node")
  }

  val queries: Seq[GraftQuery] =
    Seq(q57, q58, q59, q64, q81, q96, q97, q99, q117, q125, q128, q129, q135,
      q138, q142, q161, q165, q177, q202, q223, q234, q235, q242, q243,
      q248, q253, q261, q268, q273, q281, q283, q285, q288, q293, q301,
      q303, q307, q315, q318, q324, q345, q374, q395, q396)
}
