package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{GraftQuery, Tables}
import graft.functions.PolyHash

/** Corpus-level statistics and audit operators a training-data pipeline
  * runs before a corpus ships — cross-split contamination (q65),
  * heavy-hitter n-grams (q66), TF-IDF salient terms (q67), and
  * per-cluster embedding-space statistics (q68). No reference analog
  * (openalloc/FINporter stops at per-row transforms); these extend the
  * Table-B "beyond the reference" surface alongside operators/Pipeline.
  *
  * Scale design notes, per query:
  *   - q65: the contamination join runs on the 8-byte poly-hash of each
  *     8-gram in BOTH engines (never the gram string), so the shuffle
  *     carries (hash, doc_id, split) triples; grams are deduped per doc
  *     before the join. A pathologically hot gram (boilerplate) widens
  *     one bucket — [[contaminationPairs]]'s `maxGramDf` guard drops
  *     grams above a document-frequency cap BEFORE the join (they are by
  *     definition not identifying), the same routing the minhash path
  *     uses for hot band buckets (Similarity.minhashCandidates).
  *   - q66: distinct-per-doc explode → partial+final count on the gram,
  *     then TakeOrderedAndProject (top-k never sorts the full corpus).
  *   - q67: two hash aggregations (doc-term, then term), a broadcast of
  *     the 1-row corpus count, and a per-doc window — ranking is the
  *     deterministic integer order (tf desc, df asc, term asc), so no
  *     float comparison decides a row's survival; the float score is
  *     output-only.
  *   - q68: dim-wise centroid via posexplode + partial-aggregated
  *     (label, dim) sums — 64× row expansion of narrow rows, the
  *     standard Spark vector-aggregate shape. Per-vector norms are one
  *     l2r fold per row. Dispersion avoids joining centroids back to
  *     vectors entirely (parallel-axis theorem: E|v−c|² = E|v|² − |c|²),
  *     so the whole query is two aggregation passes and a 10-row join.
  */
object CorpusStats {

  private val GramN = 8
  private val TestBucketFloor = 90
  private val TrainBucketCeil = 80

  /** doc_id, split bucket, poly-hash per distinct word-`n`-gram of
    * lower(text) — column `h`. r18: the gram build, the distinct pass,
    * and the per-gram hash are ONE codegen kernel
    * ([[graft.functions.GramHashKernels.distinct]], chain-folded — no
    * joined strings, no interpreted per-token lambda, no separate
    * array_distinct); every consumer only ever hashed `g`, so the
    * column contract narrowed to the hash (same values, same
    * multiplicity — the kernel dedupes on the token tuple and emits
    * hash-collision duplicates exactly like distinct-then-hash did).
    */
  private def docGrams(s: org.apache.spark.sql.SparkSession, d: String,
      n: Int): org.apache.spark.sql.DataFrame = {
    // r18 (2nd pass): fan the raw documents out before the gram-hash
    // kernel + explode — the corpus table is one scan task at test scale
    // (single row group), so the per-document kernel pass otherwise runs
    // on ONE core (Similarity.fanOut's scaladoc; the same repartition-to-
    // defaultParallelism recipe, scale-adaptive by construction).
    Similarity.fanOut(
        Tables.documents(s, d).select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        (Pipeline.lcg(col("doc_id"), Pipeline.SplitA, Pipeline.SplitC) % 100)
          .as("sb"),
        split(lower(col("text")), "\\s+").as("ts"))
      .select(col("doc_id"), col("sb"),
        explode(PolyHash.distinctGramHashes(col("ts"), n)).as("h"))
  }

  private def oracleGrams(n: Int): String = {
    val joined = (0 until n).map(j => if (j == 0) "ts[i]" else s"ts[i+$j]")
      .mkString("||' '||")
    s"""toks AS (
       |  SELECT doc_id,
       |    (${Pipeline.lcgSql("doc_id", Pipeline.SplitA, Pipeline.SplitC)}) % 100 AS sb,
       |    string_split_regex(lower(text), '\\s+') AS ts
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, sb, unnest(list_distinct(CASE WHEN len(ts) >= $n
       |    THEN list_transform(range(1, len(ts) - ${n - 2}), i -> $joined)
       |    ELSE [] END)) AS g
       |  FROM toks)""".stripMargin
  }

  /** Test×train gram-hash join with an optional hot-gram guard — the
    * executable form of the q65 scale note above.
    *
    * @param hashed (doc_id, sb, h) rows: one per (document, distinct gram
    *   hash), sb the document's 0-99 split bucket
    * @param maxGramDf hot-gram guard for the 100 TB path: one boilerplate
    *   gram (license text, nav chrome) shared by d documents expands
    *   d_te × d_tr join rows, and real crawls have millions-wide df on
    *   such grams. With a cap, grams whose document frequency exceeds it
    *   are dropped before the join (NOT silently: the df column is
    *   computed per gram, so callers can report what was routed around —
    *   a gram in millions of documents identifies boilerplate, not
    *   contamination). None (the registered-query setting) joins all.
    */
  private[operators] def contaminationPairs(
      hashed: org.apache.spark.sql.DataFrame,
      maxGramDf: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val guarded = maxGramDf match {
      case None => hashed
      case Some(cap) =>
        val dfreq = hashed.groupBy("h").agg(count(lit(1)).as("__gram_df"))
        hashed.join(dfreq, Seq("h"))
          .where(col("__gram_df") <= cap)
          .drop("__gram_df")
    }
    val te = guarded.where(col("sb") >= TestBucketFloor)
      .select(col("doc_id"), col("h"))
    val tr = guarded.where(col("sb") < TrainBucketCeil)
      .select(col("doc_id").as("train_doc_id"), col("h").as("h_tr"))
    te.join(tr, col("h") === col("h_tr"))
  }

  /** q65: train→test contamination audit — for every test-split document,
    * how many of its distinct word-8-grams also occur in any train-split
    * document, and how many train documents share at least one. The
    * decontamination pass every pretraining corpus runs against its eval
    * sets; 8-grams are the standard unit (long enough to be identifying,
    * short enough to survive light paraphrase). The split is q58's, from
    * the same LCG constants.
    */
  private val q65 = GraftQuery(
    "q65_split_contamination",
    s"""WITH ${oracleGrams(GramN)},
       |hashed AS (
       |  SELECT doc_id, sb, ${PolyHash.oracleSql("g")} AS h FROM grams)
       |SELECT te.doc_id AS doc_id,
       |  count(DISTINCT te.h) AS n_shared_grams,
       |  count(DISTINCT tr.doc_id) AS n_train_docs
       |FROM hashed te JOIN hashed tr ON te.h = tr.h
       |WHERE te.sb >= $TestBucketFloor AND tr.sb < $TrainBucketCeil
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val hashed = docGrams(s, d, GramN)
      .select(col("doc_id"), col("sb"), col("h"))
    contaminationPairs(hashed)
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("h")).as("n_shared_grams"),
        count_distinct(col("train_doc_id")).as("n_train_docs"))
      .orderBy("doc_id")
  }

  /** q66: heavy-hitter bigrams by document frequency — the corpus-stat
    * that surfaces boilerplate (headers, license blurbs) for removal.
    * Distinct-per-doc so a gram spammed inside one document counts once.
    */
  private val q66 = GraftQuery(
    "q66_ngram_heavyhitters",
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts FROM documents),
      |grams AS (
      |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(ts) >= 2
      |    THEN list_transform(range(1, len(ts)), i -> ts[i]||' '||ts[i+1])
      |    ELSE [] END)) AS g
      |  FROM toks)
      |SELECT g AS gram, count(*) AS df
      |FROM grams GROUP BY g ORDER BY df DESC, gram LIMIT 20""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("ts"))
      .select(explode(when(size(col("ts")) >= 2,
        array_distinct(expr(
          "transform(sequence(1, size(ts) - 1), " +
            "i -> concat_ws(' ', element_at(ts, i), element_at(ts, i + 1)))")))
        .otherwise(expr("CAST(array() AS array<string>)"))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("gram"))
      .limit(20)
  }

  /** q67: top-3 TF-IDF terms per document. Survival of a row is decided
    * by the all-integer order (tf desc, df asc, term asc) — the float
    * score is computed only for output, with both engines evaluating the
    * identical double expression (explicit casts: DuckDB bare numeric
    * literals are DECIMAL and would change the arithmetic).
    */
  private val q67 = GraftQuery(
    "q67_tfidf_top_terms",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |ranked AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, n.n_docs,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS rnk
      |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n)
      |SELECT doc_id, term, tf, df,
      |  round(tf * ln(CAST(n_docs + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)), 6) AS score
      |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val tf = docs
      .select(col("doc_id"),
        explode(split(lower(col("text")), "\\s+")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tf") *
          log((col("n_docs") + 1).cast("double") / (col("df") + 1).cast("double")),
          6).as("score"))
      .orderBy("doc_id", "rnk")
  }

  private val EmbDim = 64

  /** q68: per-label embedding-space statistics — cluster size, centroid
    * norm, and within-cluster dispersion (mean squared distance to the
    * centroid, via E|v−c|² = E|v|² − |c|², so no centroid-to-vector
    * join). The sanity dashboard for an embedding table feeding the ANN
    * tiers (q30/q44/q45): a collapsed cluster shows dispersion ≈ 0, a
    * meaningless one shows centroid_norm ≈ 0.
    */
  private val q68 = GraftQuery(
    "q68_embedding_centroids",
    s"""WITH dims AS (
       |  SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
       |  FROM embeddings, range(1, ${EmbDim + 1}) t(i)),
       |cent AS (
       |  SELECT label, pos, sum(v) / count(*) AS m FROM dims GROUP BY 1, 2),
       |cnorm AS (
       |  SELECT label, sum(m * m) AS sum_m2 FROM cent GROUP BY 1),
       |norms AS (
       |  SELECT label,
       |    list_reduce(list_transform(range(1, ${EmbDim + 1}),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
       |      (x, y) -> x + y) AS vn2
       |  FROM embeddings),
       |vstats AS (
       |  SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
       |    avg(vn2) AS avg_vn2
       |  FROM norms GROUP BY 1)
       |SELECT c.label AS label, v.n_vectors,
       |  round(sqrt(c.sum_m2), 6) AS centroid_norm,
       |  round(v.avg_vn2 - c.sum_m2, 6) AS dispersion
       |FROM cnorm c JOIN vstats v ON c.label = v.label
       |ORDER BY label""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val cnorm = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg((sum(col("x").cast("double")) / count(lit(1))).as("m"))
      .groupBy("label").agg(sum(col("m") * col("m")).as("sum_m2"))
    val vstats = e
      .select(col("label"),
        expr("aggregate(embedding, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
          .as("vn2"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vectors"), avg(col("vn2")).as("avg_vn2"))
    cnorm.join(vstats, "label")
      .select(col("label"), col("n_vectors"),
        round(sqrt(col("sum_m2")), 6).as("centroid_norm"),
        round(col("avg_vn2") - col("sum_m2"), 6).as("dispersion"))
      .orderBy("label")
  }

  /** The bloom-pruned decontamination plan behind q77, parameterized so
    * tests can prove the result is INDEPENDENT of the filter's false-
    * positive rate (the bloom prunes, the exact join decides).
    *
    * The 100 TB shape this encodes: the blocklist (every distinct 8-gram
    * hash of the held-out split) is far too large to broadcast as a hash
    * join build side at web scale (10⁹ grams ≈ tens of GB), but fits as
    * a bloom filter (~1.2 GB at 1% fpp). The filter is built with ONE
    * pass over the blocklist (`stat.bloomFilter` aggregates per-partition
    * filters, no collect of keys), broadcast as an expression literal,
    * and applied map-side to the train-side gram stream BEFORE its
    * shuffle — so the exact confirming semi-join receives only
    * true hits + fpp·|train grams| rows instead of the full corpus.
    * Bloom filters have no false negatives, so kept/dropped is exactly
    * the anti/semi-join answer at any fpp.
    */
  /** The held-out split's distinct gram-hash blocklist — an offline
    * artifact (count → bloom build → exact confirm all read it); the
    * registry persist is the local stand-in for writing it to storage
    * once. Released via `Artifacts.release(session)`.
    */
  private def bloomBlocklist(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.Artifacts.checkpointedDf(s, s"q77_blocklist:$d") {
      docGrams(s, d, GramN)
        .select(col("sb"), col("h"))
        .where(col("sb") >= TestBucketFloor)
        .select("h").distinct()
    }

  /** Contaminated train doc_ids under the bloom-pruned plan (one column:
    * `contaminated_doc_id`) — the shared core of the q77 manifest and the
    * decontaminated-corpus write.
    */
  private[operators] def bloomContaminated(
      s: org.apache.spark.sql.SparkSession, d: String,
      fpp: Double): org.apache.spark.sql.DataFrame = {
    val hashed = docGrams(s, d, GramN)
      .select(col("doc_id"), col("sb"), col("h"))
    val blocklist = bloomBlocklist(s, d)
    // broadcast-handle probe: the plan literal is one int — the filter
    // itself ships via torrent broadcast, never through the LogicalPlan
    // (a 10⁹-key filter is ~1.2 GB; as a plan literal it would be copied
    // per transformation and serialized into every task binary). The
    // handle is memoized per (session, dir, fpp) and destroyed by
    // Artifacts.release — repeated runs reuse ONE broadcast instead of
    // leaking one per invocation.
    // observe metrics publish the prune ratio (total grams vs bloom
    // survivors) in-flight — at 100 TB the ratio IS the operator's value
    // proposition, so a run reports it without a second pass.
    val handle = graft.functions.BloomFilterFunctions
      .cachedHandle(s, s"q77_bloom:$d:$fpp") {
        blocklist.stat.bloomFilter("h", math.max(blocklist.count(), 1L), fpp)
      }
    hashed.where(col("sb") < TrainBucketCeil)
      .select(col("doc_id"), col("h"))
      .observe("q77_train_grams", count(lit(1)).as("n_train_grams"))
      .where(graft.functions.BloomFilterFunctions.probeHandle(handle, col("h")))
      .observe("q77_bloom_candidates", count(lit(1)).as("n_candidates"))
      .join(blocklist, Seq("h"), "left_semi")
      .select(col("doc_id").as("contaminated_doc_id")).distinct()
  }

  /** The train-split roster (doc_id, source) — q58's split constants, one
    * source of truth with the contamination audit.
    */
  private[operators] def trainRoster(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
      .where(Pipeline.lcg(col("doc_id"), Pipeline.SplitA, Pipeline.SplitC) % 100
        < TrainBucketCeil)

  private[operators] def bloomDecontaminate(
      s: org.apache.spark.sql.SparkSession, d: String,
      fpp: Double): org.apache.spark.sql.DataFrame = {
    val contaminated = bloomContaminated(s, d, fpp)
    trainRoster(s, d)
      .join(contaminated, col("doc_id") === col("contaminated_doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_train"),
        count(col("contaminated_doc_id")).as("n_dropped"),
        (count(lit(1)) - count(col("contaminated_doc_id"))).as("n_kept"))
      .orderBy("source")
  }

  /** Materialize the DECONTAMINATED training corpus — the terminal stage
    * q77 stops short of: the full document rows of every train-split
    * document that shares no held-out gram, written partitioned by
    * (lang, source) like [[Pipeline.writeCleanCorpus]] so downstream
    * consumers prune partitions at the scan (the test asserts the
    * read-back PartitionFilters). The corpus side is filtered by the
    * map-side bloom probe + exact semi-join confirm before the write —
    * the 100 TB rows stream from scan to sink, never shuffled for the
    * roster anti-join (doc_id equi-joins only).
    */
  def writeDecontaminatedCorpus(s: org.apache.spark.sql.SparkSession,
      d: String, outDir: String, fpp: Double = 0.03): Unit = {
    val kept = trainRoster(s, d)
      .join(bloomContaminated(s, d, fpp),
        col("doc_id") === col("contaminated_doc_id"), "left_anti")
      .select("doc_id")
    Tables.documents(s, d)
      .join(kept, Seq("doc_id"), "left_semi")
      .write.mode("overwrite").partitionBy("lang", "source").parquet(outDir)
  }

  /** q77: bloom-pruned train-split decontamination manifest — per source,
    * how many train documents survive after dropping every document that
    * shares ≥1 distinct word-8-gram with the held-out split (q65's
    * contamination criterion turned into the corpus-prep action). The
    * registered fpp is 3%; correctness does not depend on it (see
    * [[bloomDecontaminate]] — the oracle is the plain semi-join).
    */
  private val q77 = GraftQuery(
    "q77_bloom_decontaminate",
    s"""WITH ${oracleGrams(GramN)},
       |hashed AS (
       |  SELECT doc_id, sb, ${PolyHash.oracleSql("g")} AS h FROM grams),
       |blocklist AS (SELECT DISTINCT h FROM hashed WHERE sb >= $TestBucketFloor),
       |hit AS (
       |  SELECT DISTINCT doc_id FROM hashed
       |  WHERE sb < $TrainBucketCeil AND h IN (SELECT h FROM blocklist)),
       |roster AS (
       |  SELECT doc_id, source FROM documents
       |  WHERE (${Pipeline.lcgSql("doc_id", Pipeline.SplitA, Pipeline.SplitC)}) % 100
       |    < $TrainBucketCeil)
       |SELECT r.source AS source, CAST(count(*) AS BIGINT) AS n_train,
       |  CAST(count(hit.doc_id) AS BIGINT) AS n_dropped,
       |  CAST(count(*) - count(hit.doc_id) AS BIGINT) AS n_kept
       |FROM roster r LEFT JOIN hit ON r.doc_id = hit.doc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    bloomDecontaminate(s, d, fpp = 0.03)
  }

  /** q89: substring-level duplication audit — for every document, how many
    * of its distinct word-8-grams occur in at least one OTHER document, as
    * a parts-per-million ratio. This is the corpus-internal counterpart of
    * q65's cross-split contamination (same gram unit, same hash-join
    * shape) and the measurement behind span-level dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"): a
    * document whose grams are mostly shared is boilerplate or a near-copy
    * even when no single whole-doc fingerprint matches (q43) and no
    * minhash band collides (q31).
    *
    * Scale shape: grams are deduped per doc map-side, the document
    * frequency is ONE hash aggregate on the 8-byte poly-hash (partial
    * aggregation collapses per-partition repeats before the exchange),
    * and the join back to (doc, gram) rows is an equi-join on that hash —
    * row count stays at Σ distinct-grams-per-doc, never pairs. A hot
    * boilerplate gram widens nothing here (unlike q65's test×train join):
    * its df row joins back once per occurrence. The ratio is integer
    * arithmetic (ppm via BIGINT div), so no float decides a value.
    */
  private val q89 = GraftQuery(
    "q89_dup_gram_audit",
    s"""WITH ${oracleGrams(GramN)},
       |hashed AS (
       |  SELECT doc_id, ${PolyHash.oracleSql("g")} AS h FROM grams),
       |dfreq AS (SELECT h, count(*) AS gdf FROM hashed GROUP BY 1)
       |SELECT hashed.doc_id AS doc_id,
       |  CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(sum(CASE WHEN d.gdf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
       |  CAST(sum(CASE WHEN d.gdf >= 2 THEN 1 ELSE 0 END) * 1000000 AS BIGINT)
       |    // CAST(count(*) AS BIGINT) AS dup_ppm
       |FROM hashed JOIN dfreq d ON hashed.h = d.h
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val hashed = docGrams(s, d, GramN)
      .select(col("doc_id"), col("h"))
    val dfreq = hashed.groupBy("h").agg(count(lit(1)).as("gdf"))
    hashed.join(dfreq, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("gdf") >= 2, 1L).otherwise(0L)).as("n_dup_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_dup_grams"),
        expr("(n_dup_grams * 1000000L) div n_grams").as("dup_ppm"))
      .orderBy("doc_id")
  }

  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val Bm25Terms = Seq("dup", "merge", "window")
  private val Bm25TopK = 20

  /** The BM25 serving artifacts — the FULL inverted index materialized
    * once per (session, dir) and shared by every retrieval batch:
    * postings (term, doc_id, tf) over EVERY token, per-document lengths,
    * and the 1-row corpus stats. Before round 10, q90 re-exploded and
    * re-aggregated the whole corpus per invocation; a retrieval layer
    * amortizes that: the index build (one explode + one (term, doc_id)
    * hash aggregate — the classic inverted-index shape, partial aggs
    * collapsing per-partition repeats before the exchange) is paid once,
    * and each query batch then costs a term-filtered probe of the
    * postings leaf plus broadcast-sized df/stats joins. Checkpointed
    * leaves (not live lineage) for the q91-family reason: consumers'
    * plans stay small. Release via [[graft.Artifacts.release]].
    */
  private def bm25Index(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) =
    graft.Artifacts.cached[(DataFrame, DataFrame, DataFrame)](
        s, s"bm25_index:$d") {
      val docs = Tables.documents(s, d)
      val (postings, relP) = graft.Artifacts.leafDf(
        docs.select(col("doc_id"),
            explode(split(lower(col("text")), "\\s+")).as("term"))
          .groupBy("term", "doc_id").agg(count(lit(1)).as("tf")))
      val (dl, relL) = graft.Artifacts.leafDf(
        docs.select(col("doc_id"),
          size(split(lower(col("text")), "\\s+")).cast("long").as("dl")))
      val (stats, relS) = graft.Artifacts.leafDf(
        dl.agg(count(lit(1)).as("n_docs"),
          (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl")))
      ((postings, dl, stats), () => { relP(); relL(); relS() })
    }

  /** q90: BM25 retrieval — score every document against a fixed query
    * term set and return the top-[[Bm25TopK]]. The serving-side
    * counterpart of q67's TF-IDF (corpus salience): BM25 adds tf
    * saturation (k1) and document-length normalization (b·dl/avgdl),
    * which is what a retrieval layer over a training corpus actually
    * ranks with. The query mixes one rare term ('dup' — the planted
    * duplicate marker, high idf) with two common ones, so ranking is
    * decided by genuine idf/tf/length interaction.
    *
    * Determinism: every per-term score is one fixed-shape double
    * expression over integers plus `avgdl` (an exact-integer sum divided
    * once), identical text in both engines; the per-document SUM over the
    * ≤3 term scores is an ORDER-PINNED left fold (sorted by term), never
    * a shuffle-order float sum — so top-k survival is decided on
    * bit-identical doubles (the q56/q71 argument, applied to scoring).
    *
    * Scale shape (since round 10): the query serves from the
    * MATERIALIZED [[bm25Index]] artifacts — postings/lengths/stats built
    * once per session, so a retrieval batch pays only a term-filtered
    * probe of the postings leaf (never re-tokenizing the corpus),
    * |terms|-row df and 1-row `N`/`avgdl` broadcasts, and a
    * TakeOrderedAndProject top-k — never a full sort. PlanSpec pins that
    * the serving plan contains no Generate (no re-explode) and no
    * documents-table scan.
    */
  /** The BM25 scoring CTE chain (ends in `folded(doc_id, score)` with
    * the RAW double score), shared by q90 and the retrieval compositions
    * q112/q113 — one scoring definition, three gated consumers.
    */
  private val bm25OracleCtes: String = bm25OracleCtesFrom("documents")

  /** [[bm25OracleCtes]] over an arbitrary document-shaped source CTE —
    * q150 scores the LIVE (post-delete) subset; the zero-arg delegate
    * keeps every existing oracle's text byte-identical.
    */
  private def bm25OracleCtesFrom(src: String): String =
    s"""dl AS (
       |  SELECT doc_id, CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS dl
       |  FROM $src),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |toks AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
       |  FROM $src),
       |tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks
       |  WHERE term IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
       |  GROUP BY 1, 2),
       |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT tf.doc_id, tf.term,
       |    ln(CAST(1 AS DOUBLE) + (CAST(s.n_docs - d.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
       |        / (CAST(d.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
       |      * (CAST(tf.tf AS DOUBLE) * CAST(${Bm25K1 + 1.0} AS DOUBLE))
       |      / (CAST(tf.tf AS DOUBLE) + CAST($Bm25K1 AS DOUBLE)
       |         * (CAST(${1.0 - Bm25B} AS DOUBLE)
       |            + CAST($Bm25B AS DOUBLE) * CAST(l.dl AS DOUBLE) / s.avgdl)) AS sc
       |  FROM tf JOIN dfreq d ON tf.term = d.term
       |  JOIN dl l ON tf.doc_id = l.doc_id CROSS JOIN stats s),
       |folded AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(sc ORDER BY term)),
       |      (acc, x) -> acc + x) AS score
       |  FROM scored GROUP BY 1)""".stripMargin

  /** Engine twin of [[bm25OracleCtes]]: (doc_id, score) with the RAW
    * double BM25 score, served from the materialized [[bm25Index]]. The
    * per-document SUM over the ≤|terms| term scores is an ORDER-PINNED
    * left fold (sorted by term), never a shuffle-order float sum.
    */
  private def bm25Scores(s: SparkSession, d: String): DataFrame = {
    val (postings, dl, stats) = bm25Index(s, d)
    bm25ScoreFrames(postings, dl, stats)
  }

  /** The BM25 scoring plan over ANY (postings, lengths, stats) frames —
    * in-session artifacts (q90/q112/q113) or the written index files
    * (q122). One scoring definition for every serving surface.
    */
  /** Per-(doc, term) BM25 contribution — the pre-fold grain
    * [[bm25ScoreFrames]] sums and the block-max audit (q390) takes
    * block maxima over; ONE scoring expression for both.
    */
  private def bm25TermScores(postings: DataFrame, dl: DataFrame,
      stats: DataFrame): DataFrame = {
    val tf = postings.where(col("term").isin(Bm25Terms: _*))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("sc",
        log(lit(1.0) + ((col("n_docs") - col("df")).cast("double") + lit(0.5))
            / (col("df").cast("double") + lit(0.5)))
          * (col("tf").cast("double") * lit(Bm25K1 + 1.0))
          / (col("tf").cast("double") + lit(Bm25K1)
             * (lit(1.0 - Bm25B)
                + lit(Bm25B) * col("dl").cast("double") / col("avgdl"))))
      .select("doc_id", "term", "sc")
  }

  /** Per-doc BM25 total from a precomputed term-scores frame — the
    * order-pinned fold alone, so callers holding a checkpointed
    * [[bm25TermScores]] (q390) don't rebuild the scoring subtree.
    */
  private def bm25FoldScores(termScores: DataFrame): DataFrame =
    termScores
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("term"), col("sc")))).as("scs"))
      .select(col("doc_id"),
        expr("aggregate(scs, 0D, (acc, s) -> acc + s.sc)").as("score"))

  private def bm25ScoreFrames(postings: DataFrame, dl: DataFrame,
      stats: DataFrame): DataFrame =
    bm25FoldScores(bm25TermScores(postings, dl, stats))

  /** q90's oracle text, shared verbatim by its cold-start twin q122
    * (files == artifact == DuckDB).
    */
  private val bm25ServeOracle: String =
    s"""WITH $bm25OracleCtes
       |SELECT doc_id, round(score, 6) AS score FROM folded
       |ORDER BY score DESC, doc_id LIMIT $Bm25TopK""".stripMargin

  private val q90 = GraftQuery(
    "q90_bm25_retrieval", bm25ServeOracle) { (s, d) =>
    bm25Scores(s, d)
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  /** The inverted index WRITTEN to storage — the text-retrieval analog
    * of the vector tier's written IVF index (q105): postings laid out by
    * term range (repartitionByRange + sortWithinPartitions, so a term
    * probe prunes whole files/row-groups on parquet min/max footer
    * stats — the storage-level equivalent of an index seek), doc-length
    * table laid out by doc_id for the scoring join, and the 1-row corpus
    * stats. Together the three tables are serving-complete: a cold
    * process answers any query batch from these files alone.
    */
  private[operators] def writtenBm25Index(s: SparkSession, d: String): String =
    graft.Artifacts.cached[String](s, s"written_bm25:$d") {
      val (postings, dl, stats) = bm25Index(s, d)
      val base = java.nio.file.Files.createTempDirectory("graft_bm25_index")
      postings.repartitionByRange(8, col("term"))
        .sortWithinPartitions("term")
        .write.mode("overwrite").parquet(s"$base/postings")
      dl.repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(s"$base/lengths")
      stats.write.mode("overwrite").parquet(s"$base/stats")
      (base.toString, () => {
        org.apache.commons.io.FileUtils.deleteDirectory(base.toFile); ()
      })
    }

  /** q122: COLD-START BM25 serving — q90's retrieval answered reading
    * ONLY [[writtenBm25Index]]'s files (a fresh process with the same
    * directory builds the same plan): the term probe reaches the
    * postings scan as a pushed `In` filter over the range-laid files,
    * df/stats ride broadcasts, and the corpus text is never touched.
    * Hash-gated on q90's oracle, so the storage round-trip of the whole
    * retrieval tier is value-exact — the same files==artifact contract
    * the vector index proves via q105.
    */
  private val q122 = GraftQuery(
    "q122_cold_bm25_serve", bm25ServeOracle) { (s, d) =>
    val base = writtenBm25Index(s, d)
    bm25ScoreFrames(
        s.read.parquet(s"$base/postings"),
        s.read.parquet(s"$base/lengths"),
        s.read.parquet(s"$base/stats"))
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  /** The BM25 index as a VERSIONED segment store — the lexical tier gets
    * the lifecycle the vector tier has had since q94/q110/q114/q118:
    *
    *   v1 = [base]              — the accumulated corpus (doc_id % 4 != 0)
    *   v2 = [base, delta1]      — after appending today's shard (% 4 == 0)
    *   v3 = [compacted]         — after folding delta1 into the base
    *
    * Append protocol: ONLY the arriving shard is tokenized — its
    * postings/lengths become an immutable delta segment (term-range-laid
    * like the base, so per-segment footer pruning survives), and the
    * commit is manifest rows, never a base rewrite. The two corpus stats
    * are handled differently and deliberately:
    *   - `df` (document frequency) is NOT stored per segment at all — it
    *     is derived at serve time from the term-probed postings union
    *     (segments partition the doc space, so the union's per-term count
    *     IS the exact global df; |terms| rows, nothing to merge).
    *   - `n_docs`/`avgdl` are stored per segment as the MERGEABLE exact
    *     integers (n_docs, sum_dl) and combined at resolve with one final
    *     division — bit-identical to a full rebuild's single division,
    *     which is what lets q143 gate against the full-corpus oracle.
    * Compaction (v3) unions the disjoint segments and rewrites one
    * term-range layout — an O(index) postings merge that never touches
    * document text.
    */
  private[operators] def versionedBm25(s: SparkSession, d: String): String =
    graft.Artifacts.cached[String](s, s"bm25_versions:$d") {
      val base = java.nio.file.Files.createTempDirectory("graft_bm25_versions")
      val docs = Tables.documents(s, d)
      def writeSeg(part: DataFrame, seg: String): Unit = {
        part.select(col("doc_id"),
            explode(split(lower(col("text")), "\\s+")).as("term"))
          .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
          .repartitionByRange(4, col("term")).sortWithinPartitions("term")
          .write.mode("overwrite").parquet(s"$base/$seg/postings")
        part.select(col("doc_id"),
            size(split(lower(col("text")), "\\s+")).cast("long").as("dl"))
          .repartitionByRange(2, col("doc_id")).sortWithinPartitions("doc_id")
          .write.mode("overwrite").parquet(s"$base/$seg/lengths")
        s.read.parquet(s"$base/$seg/lengths")
          .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
          .write.mode("overwrite").parquet(s"$base/$seg/stats")
      }
      writeSeg(docs.where(col("doc_id") % 4 =!= 0), "segments/base")
      writeSeg(docs.where(col("doc_id") % 4 === 0), "segments/delta1")
      def segRead(seg: String, t: String): DataFrame =
        s.read.parquet(s"$base/segments/$seg/$t")
      segRead("base", "postings").unionByName(segRead("delta1", "postings"))
        .repartitionByRange(4, col("term")).sortWithinPartitions("term")
        .write.mode("overwrite").parquet(s"$base/segments/compacted/postings")
      segRead("base", "lengths").unionByName(segRead("delta1", "lengths"))
        .repartitionByRange(2, col("doc_id")).sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(s"$base/segments/compacted/lengths")
      s.read.parquet(s"$base/segments/compacted/lengths")
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        .write.mode("overwrite").parquet(s"$base/segments/compacted/stats")
      s.createDataFrame(Seq(
          (1, "segment", "segments/base"),
          (2, "segment", "segments/base"), (2, "segment", "segments/delta1"),
          (3, "segment", "segments/compacted")))
        .toDF("version", "kind", "path")
        .coalesce(1).write.mode("overwrite").parquet(s"$base/manifest")
      (base.toString, () => {
        org.apache.commons.io.FileUtils.deleteDirectory(base.toFile); ()
      })
    }

  /** Resolve a BM25 snapshot version into serving frames: postings and
    * lengths are segment unions; stats merge the per-segment exact
    * integers with ONE final division (`sum(sum_dl)::double / sum(n_docs)`
    * — the same operands a full rebuild divides, so `avgdl` is
    * bit-identical across v1-rebuild/v2-append/v3-compaction).
    */
  private[graft] def bm25Resolve(s: SparkSession, base: String,
      version: Int): (DataFrame, DataFrame, DataFrame) = {
    val (postings, dl, raw) = bm25ResolveRaw(s, base, version)
    (postings, dl, finishBm25Stats(raw))
  }

  /** [[bm25Resolve]] with the stats left as the MERGEABLE exact integers
    * (n_docs, sum_dl) — q150's delete-serve subtracts the dead docs'
    * contribution from these before the one final division.
    */
  private[graft] def bm25ResolveRaw(s: SparkSession, base: String,
      version: Int): (DataFrame, DataFrame, DataFrame) = {
    val segs = s.read.parquet(s"$base/manifest")
      .where(col("version") === version && col("kind") === "segment")
      .select("path").collect().map(_.getString(0)).toSeq
    require(segs.nonEmpty, s"no BM25 segments for version $version")
    def union(t: String): DataFrame =
      segs.map(p => s.read.parquet(s"$base/$p/$t")).reduce(_.unionByName(_))
    val raw = union("stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
    (union("postings"), union("lengths"), raw)
  }

  private def finishBm25Stats(raw: DataFrame): DataFrame =
    raw.select(col("n_docs"),
      (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))

  private def bm25VersionServe(s: SparkSession, d: String,
      version: Int): DataFrame = {
    val (postings, dl, stats) = bm25Resolve(s, versionedBm25(s, d), version)
    bm25ScoreFrames(postings, dl, stats)
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  /** q143: BM25 APPEND serving — the query batch answered at v2 (base +
    * delta1) must be value-indistinguishable from a full rebuild over
    * the whole corpus, so it gates on q90/q122's full-corpus oracle
    * verbatim. That equality is exactly the append correctness claim:
    * derived-at-serve df over the segment union equals global df, and
    * the merged (n_docs, sum_dl) division equals the rebuild's avgdl
    * bit-for-bit. Scale shape: appending a shard tokenizes ONLY the
    * shard; serving pays the same pushed term probe per segment
    * (PlanSpec pins the In-filter on every postings scan).
    */
  private val q143 = GraftQuery(
    "q143_bm25_append_serve", bm25ServeOracle) { (s, d) =>
    bm25VersionServe(s, d, version = 2)
  }

  /** The q150 document-tombstone set: LCG bucket 9 of the doc_id space
    * (~10%) — the deterministic stand-in for a takedown/deletion log,
    * which in production is an arbitrary external id list (the engine
    * path consumes a DataFrame of ids, mirroring
    * [[Similarity.serveQuantized]]'s contract).
    */
  private def docTombstoned(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Pipeline.lcg(c, Pipeline.SplitA, Pipeline.SplitC) % 10 >= 9
  private def docTombSql(idExpr: String): String =
    s"(${Pipeline.lcgSql(idExpr, Pipeline.SplitA, Pipeline.SplitC)}) % 10 >= 9"

  /** q150: BM25 DELETE serving — the lexical tier's tombstone mask,
    * completing its lifecycle (append q143, compaction q144): a deletion
    * list arrives and serving must exclude those documents IMMEDIATELY,
    * with exact live-subset scoring and no postings rewrite. Three
    * pieces make it exact: postings/lengths are broadcast-anti-joined
    * against the id list (df then derives at serve time from the MASKED
    * postings, so per-term document frequency is the live value for
    * free), and the corpus stats are the stored mergeable integers MINUS
    * the dead documents' (count, sum_dl) contribution — one subtraction
    * and one division, bit-identical to a full rebuild over the live
    * subset, which is exactly what the oracle computes. At 100 TB the
    * mask cost is the delete-list broadcast; nothing rescans text and
    * nothing rewrites segments (physical deletion is compaction's job,
    * q144's mechanism).
    */
  private val q150 = GraftQuery(
    "q150_bm25_delete_serve",
    s"""WITH live AS (
       |  SELECT * FROM documents WHERE NOT (${docTombSql("doc_id")})),
       |${bm25OracleCtesFrom("live")}
       |SELECT doc_id, round(score, 6) AS score FROM folded
       |ORDER BY score DESC, doc_id LIMIT $Bm25TopK""".stripMargin) { (s, d) =>
    val base = versionedBm25(s, d)
    val (postings, dl, raw) = bm25ResolveRaw(s, base, version = 3)
    val tomb = dl.select("doc_id").where(docTombstoned(col("doc_id")))
    val dead = dl.join(broadcast(tomb), Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).as("n_dead"), sum(col("dl")).as("sum_dead"))
    val liveStats = raw.crossJoin(dead)
      .select((col("n_docs") - col("n_dead")).as("n_docs"),
        ((col("sum_dl") - col("sum_dead")).cast("double")
          / (col("n_docs") - col("n_dead"))).as("avgdl"))
    bm25ScoreFrames(
        postings.join(broadcast(tomb), Seq("doc_id"), "left_anti"),
        dl.join(broadcast(tomb), Seq("doc_id"), "left_anti"),
        liveStats)
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  /** q144: BM25 COMPACTION serving — v3 (the one merged segment) must be
    * value-indistinguishable from v2 (base + delta1), gated on the same
    * full-corpus oracle. Compaction exists to cap the per-query segment
    * fan-out a daily append accretes (k segments = k probes + a k-way
    * union); the gate proves the rewrite changed layout, not values.
    */
  private val q144 = GraftQuery(
    "q144_bm25_compacted_serve", bm25ServeOracle) { (s, d) =>
    bm25VersionServe(s, d, version = 3)
  }

  /** The q162 edited-document set: LCG bucket 8 of the doc_id space
    * (~10%, disjoint from q150's delete bucket 9) — the deterministic
    * stand-in for a re-crawled/re-written document batch. The serving
    * path itself takes arbitrary (ids, updated docs) frames.
    */
  private def docEdited(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Pipeline.lcg(c, Pipeline.SplitA, Pipeline.SplitC) % 10 === 8
  private def docEditSql(idExpr: String): String =
    s"(${Pipeline.lcgSql(idExpr, Pipeline.SplitA, Pipeline.SplitC)}) % 10 = 8"

  /** Deterministic updated text for the edit batch — appends tokens that
    * hit all three probe terms, so the upsert moves tf, dl, df AND avgdl
    * at once (the gate exercises every stat the index stores).
    */
  private val UpsertSuffix = " merge dup window"

  /** BM25 UPSERT serving over arbitrary (ids, updated-docs) frames —
    * tombstone + append composed for the lexical tier, mirroring the
    * vector tier's q145: the old encodings are broadcast-anti-masked out
    * of the stored postings/lengths, the NEW text (and only it) is
    * tokenized into delta frames, and the corpus stats are the stored
    * mergeable integers minus the dead contribution plus the new one —
    * one subtraction, one addition, one final division, bit-identical to
    * a full rebuild over the updated corpus. df needs no bookkeeping at
    * all: it derives at serve time from the (masked ∪ delta) postings
    * union. At 100 TB the upsert cost is the edit-batch tokenize plus
    * the id-list broadcast; the base segments are never rewritten.
    */
  private def bm25UpsertServe(s: SparkSession, d: String,
      ids: DataFrame, updated: DataFrame): DataFrame = {
    val base = versionedBm25(s, d)
    val (postings, dl, raw) = bm25ResolveRaw(s, base, version = 3)
    val dead = dl.join(broadcast(ids), Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).as("n_dead"), sum(col("dl")).as("sum_dead"))
    val newPostings = updated
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    val newDl = updated.select(col("doc_id"),
      size(split(lower(col("text")), "\\s+")).cast("long").as("dl"))
    val added = newDl.agg(count(lit(1)).as("n_new"), sum(col("dl")).as("sum_new"))
    val stats = raw.crossJoin(dead).crossJoin(added)
      .select((col("n_docs") - col("n_dead") + col("n_new")).as("n_docs"),
        ((col("sum_dl") - col("sum_dead") + col("sum_new")).cast("double")
          / (col("n_docs") - col("n_dead") + col("n_new"))).as("avgdl"))
    bm25ScoreFrames(
      postings.join(broadcast(ids), Seq("doc_id"), "left_anti")
        .unionByName(newPostings),
      dl.join(broadcast(ids), Seq("doc_id"), "left_anti")
        .unionByName(newDl),
      stats)
  }

  /** q162: BM25 UPSERT serving — a re-written document batch (new text
    * for ~10% of the corpus) is visible IMMEDIATELY: old encodings
    * masked, new encodings ranked, stats exact. The oracle is a full
    * BM25 rebuild over the updated corpus, so the gate proves the
    * composed tombstone+append path is value-indistinguishable from
    * re-indexing from scratch — the upsert correctness claim. This
    * completes the lexical tier's lifecycle symmetry with the vector
    * tier: append q143 ↔ q94, delete q150 ↔ q110, compaction q144 ↔
    * q114, upsert q162 ↔ q145.
    */
  private val q162 = GraftQuery(
    "q162_bm25_upsert_serve",
    s"""WITH upd AS (
       |  SELECT doc_id,
       |    CASE WHEN ${docEditSql("doc_id")} THEN text || '$UpsertSuffix'
       |         ELSE text END AS text
       |  FROM documents),
       |${bm25OracleCtesFrom("upd")}
       |SELECT doc_id, round(score, 6) AS score FROM folded
       |ORDER BY score DESC, doc_id LIMIT $Bm25TopK""".stripMargin) { (s, d) =>
    val ids = Tables.documents(s, d).select("doc_id")
      .where(docEdited(col("doc_id")))
    val updated = Tables.documents(s, d).where(docEdited(col("doc_id")))
      .select(col("doc_id"), concat(col("text"), lit(UpsertSuffix)).as("text"))
    bm25UpsertServe(s, d, ids, updated)
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  /** Pseudo-relevance-feedback depth: the semantic query vector is the
    * per-dimension mean of the top-[[PrfFbK]] BM25 hits' embeddings
    * (Rocchio with α=0, β=1 — classic PRF).
    */
  private val PrfFbK = 5

  /** Reciprocal-rank-fusion constant (the standard k=60 from Cormack et
    * al.'s RRF formulation): score = Σ 1/(k + rank) over the lists that
    * contain the document.
    */
  private val RrfK = 60

  /** The PRF CTE chain shared by q112/q113, continuing
    * [[bm25OracleCtes]]: raw-score BM25 ranks (`bmrank`), the feedback
    * centroid (per-dimension mean over the top-[[PrfFbK]] hits, folded
    * in doc_id order), and the corpus-wide semantic cosine (`sem`).
    * Every float fold is order-pinned (doc_id order for the centroid,
    * dimension order for dot/norms), so both engines produce
    * bit-identical doubles and rank survival is deterministic.
    */
  private val prfOracleCtes: String =
    s"""bmrank AS (
       |  SELECT doc_id, score,
       |    row_number() OVER (ORDER BY score DESC, doc_id) AS r
       |  FROM folded),
       |fb AS (SELECT doc_id FROM bmrank WHERE r <= $PrfFbK),
       |fbe AS (
       |  SELECT f.doc_id AS doc_id,
       |    list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM fb f JOIN embeddings e ON e.vec_id = f.doc_id),
       |cend AS (
       |  SELECT j, list_reduce(list(v[j] ORDER BY doc_id), (x, y) -> x + y)
       |    / count(*) AS cj
       |  FROM fbe CROSS JOIN range(1, ${EmbDim + 1}) t(j) GROUP BY j),
       |cen AS (SELECT list(cj ORDER BY j) AS c FROM cend
       |  HAVING count(*) > 0),
       |sem AS (
       |  SELECT e.vec_id AS doc_id,
       |    list_reduce(list_transform(range(1, ${EmbDim + 1}),
       |        i -> cn.c[i] * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y)
       |      / (sqrt(list_reduce(list_transform(range(1, ${EmbDim + 1}),
       |            i -> cn.c[i] * cn.c[i]), (x, y) -> x + y))
       |         * sqrt(list_reduce(list_transform(range(1, ${EmbDim + 1}),
       |            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
       |            (x, y) -> x + y))) AS cos
       |  FROM embeddings e CROSS JOIN cen cn)""".stripMargin

  /** Engine twin of [[prfOracleCtes]]: the corpus ranked by cosine to
    * the PRF feedback centroid, top-[[Bm25TopK]] with dense 1-based
    * ranks. The centroid is a 1-row broadcast built from [[PrfFbK]]
    * id-joined embeddings (per-dimension fold in doc_id order); the
    * semantic pass is ONE map over the embedding table (dot/norm folds
    * in dimension order — matching the oracle's `list_reduce` exactly)
    * followed by TakeOrderedAndProject — no corpus shuffle, no global
    * sort, so the shape survives a 100× corpus. The final rank window
    * runs on the k surviving rows only.
    */
  private def prfSemanticRanked(s: SparkSession, d: String): DataFrame = {
    val fb = bm25Scores(s, d)
      .orderBy(col("score").desc, col("doc_id")).limit(PrfFbK)
      .select("doc_id")
    val fbe = Tables.embeddings(s, d)
      .select(col("vec_id").as("doc_id"), col("embedding"))
      .join(broadcast(fb), "doc_id")
    // an EMPTY feedback set (every lexical hit lacks a vector — a real
    // condition on a corpus whose embedding tier trails ingest) means
    // there is no centroid and no semantic evidence: emit zero rows
    // rather than divide by zero (surfaced by the sf1 scaling run;
    // oracle twin guard: cen's HAVING count(*) > 0)
    val cen = fbe
      .agg(sort_array(collect_list(struct(col("doc_id"), col("embedding")))).as("ds"))
      .where(size(col("ds")) > 0)
      .select(expr(
        s"""transform(
           |  aggregate(ds, array_repeat(CAST(0 AS DOUBLE), $EmbDim),
           |    (acc, x) -> zip_with(acc, x.embedding, (a, b) -> a + CAST(b AS DOUBLE))),
           |  v -> v / CAST(size(ds) AS DOUBLE))""".stripMargin).as("c"))
    Tables.embeddings(s, d)
      .select(col("vec_id").as("doc_id"), col("embedding"))
      .crossJoin(broadcast(cen))
      .withColumn("dot", expr(
        "aggregate(zip_with(c, embedding, (cj, xj) -> cj * CAST(xj AS DOUBLE)), 0D, (a, x) -> a + x)"))
      .withColumn("nc", expr("aggregate(c, 0D, (a, x) -> a + x * x)"))
      .withColumn("ne", expr(
        "aggregate(embedding, 0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"))
      .withColumn("cos", col("dot") / (sqrt(col("nc")) * sqrt(col("ne"))))
      .orderBy(col("cos").desc, col("doc_id")).limit(Bm25TopK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cos").desc, col("doc_id"))))
      .select(col("doc_id"), col("rank"), col("cos"))
  }

  /** q112: pseudo-relevance-feedback SEMANTIC re-rank — the dense half
    * of a hybrid retrieval stack when the query has no embedding of its
    * own: take the BM25 top-[[PrfFbK]] as relevance feedback, average
    * their embeddings into a query centroid (Rocchio), and rank the
    * whole corpus by cosine to it. Composes the materialized BM25 index
    * (lexical tier) with the embedding table (dense tier) — retrieval
    * quality work a training-data pipeline runs to mine semantically
    * related documents from a keyword seed.
    */
  private val q112 = GraftQuery(
    "q112_prf_semantic",
    s"""WITH $bm25OracleCtes,
       |$prfOracleCtes
       |SELECT doc_id, rank, round(cos, 6) AS sem_sim FROM (
       |  SELECT doc_id, cos,
       |    row_number() OVER (ORDER BY cos DESC, doc_id) AS rank
       |  FROM sem) t
       |WHERE rank <= $Bm25TopK ORDER BY rank""".stripMargin) { (s, d) =>
    prfSemanticRanked(s, d)
      .select(col("doc_id"), col("rank"), round(col("cos"), 6).as("sem_sim"))
      .orderBy("rank")
  }

  /** q113: HYBRID retrieval by reciprocal-rank fusion — the standard way
    * production search fuses a lexical (BM25) and a dense (embedding)
    * ranking without score calibration: rrf(d) = Σ_lists 1/([[RrfK]] +
    * rank_list(d)). Ranks are integers, the fused score a fixed two-term
    * double sum (lexical term first), so fusion is deterministic given
    * the two deterministic input rankings. Absent ranks are emitted as 0
    * (never null) and contribute nothing. Both input lists are
    * top-[[Bm25TopK]] frames (k rows each), so the fusion join is
    * trivially broadcast-sized regardless of corpus scale — all the
    * heavy lifting happened in the two ranking tiers.
    */
  private val q113 = GraftQuery(
    "q113_hybrid_rrf",
    s"""WITH $bm25OracleCtes,
       |$prfOracleCtes,
       |lex AS (SELECT doc_id, r AS r_lex FROM bmrank WHERE r <= $Bm25TopK),
       |semr AS (
       |  SELECT doc_id, rank AS r_sem FROM (
       |    SELECT doc_id,
       |      row_number() OVER (ORDER BY cos DESC, doc_id) AS rank
       |    FROM sem) t
       |  WHERE rank <= $Bm25TopK),
       |fused AS (
       |  SELECT coalesce(l.doc_id, s2.doc_id) AS doc_id,
       |    coalesce(l.r_lex, 0) AS r_lex, coalesce(s2.r_sem, 0) AS r_sem,
       |    coalesce(CAST(1 AS DOUBLE) / ($RrfK + l.r_lex), CAST(0 AS DOUBLE))
       |      + coalesce(CAST(1 AS DOUBLE) / ($RrfK + s2.r_sem), CAST(0 AS DOUBLE)) AS rrf
       |  FROM lex l FULL OUTER JOIN semr s2 ON l.doc_id = s2.doc_id)
       |SELECT doc_id, r_lex, r_sem, round(rrf, 6) AS rrf_score
       |FROM fused ORDER BY rrf DESC, doc_id""".stripMargin) { (s, d) =>
    val lex = bm25Scores(s, d)
      .orderBy(col("score").desc, col("doc_id")).limit(Bm25TopK)
      .withColumn("r_lex",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("r_lex"))
    val semr = prfSemanticRanked(s, d).select(col("doc_id"), col("rank").as("r_sem"))
    lex.join(semr, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(RrfK) + col("r_lex")), lit(0.0))
          + coalesce(lit(1.0) / (lit(RrfK) + col("r_sem")), lit(0.0)))
      .orderBy(col("rrf").desc, col("doc_id"))
      .select(col("doc_id"),
        coalesce(col("r_lex"), lit(0)).as("r_lex"),
        coalesce(col("r_sem"), lit(0)).as("r_sem"),
        round(col("rrf"), 6).as("rrf_score"))
  }

  /** q95: document↔embedding alignment — join the text table to the
    * vector table on id and aggregate per (lang, label): how many
    * documents of each language landed in each embedding cluster, with
    * an integer-folded norm sum as the drift gauge. This is the
    * referential-integrity + alignment audit a multimodal corpus needs
    * before training (every text row must pair with exactly one vector;
    * a lang×label cell that empties or a norm sum that jumps between
    * snapshots flags an embedding-refresh bug). Aggregates are
    * integer-only (per-row norm folded left-to-right then floored to
    * micro units BEFORE the sum), so no shuffle-order float addition
    * decides a value — the q27 trick applied to vector stats.
    *
    * Scale: one id equi-join (both sides bucket/co-partition on the id
    * at 100 TB — no broadcast assumption) and one partial+final hash
    * aggregate on a ~|langs|·|labels| key space.
    */
  private val q95 = GraftQuery(
    "q95_doc_vec_align",
    s"""WITH vn AS (
       |  SELECT vec_id, label,
       |    CAST(floor(list_reduce(list_transform(range(1, ${EmbDim + 1}),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
       |      (x, y) -> x + y) * 1000000) AS BIGINT) AS vn2_micro
       |  FROM embeddings)
       |SELECT d.lang AS lang, v.label AS label,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(v.vn2_micro) AS BIGINT) AS sum_norm2_micro
       |FROM documents d JOIN vn v ON d.doc_id = v.vec_id
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val vn = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        floor(expr(
          "aggregate(embedding, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
          * 1000000).cast("long").as("vn2_micro"))
    Tables.documents(s, d).select(col("doc_id"), col("lang"))
      .join(vn, col("doc_id") === col("vec_id"))
      .groupBy("lang", "label")
      .agg(count(lit(1)).as("n_docs"), sum(col("vn2_micro")).as("sum_norm2_micro"))
      .orderBy("lang", "label")
  }

  // ---- mergeable sketches (q139–q141) ----

  /** DuckDB twin of `poly_hash(w)` over a word column `$w` — the shared
    * fold(acc·31+cp) % 1e9+7 kernel (graft.functions.PolyHashKernel). */
  private[graft] def polyHashDuck(w: String): String =
    s"""list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(1, length($w) + 1),
       |                       i -> CAST(ascii($w[i]) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % 1000000007)""".stripMargin

  /** Count-min sizing and per-row affine seeds: d=4 rows × w=64 buckets;
    * row r maps a token hash h to bucket ((h·A_r + C_r) mod 2^31) mod 64.
    * The seed table is emitted as literal VALUES in both engines, so the
    * sketch content is identical by construction.
    */
  private[graft] val CmRows: Seq[(Int, Long, Long)] = Seq(
    (0, 1588635695L, 1013904223L),
    (1, 1103515245L, 12345L),
    (2, 747796405L, 2891336453L % 2147483648L),
    (3, 1181783497L, 980097109L))
  private[graft] val CmW = 64
  private[graft] def cmRowsValues: String =
    CmRows.map { case (r, a, c) => s"($r, $a, $c)" }.mkString(", ")

  /** q139: count-min sketch BUILD — the mergeable frequency summary a
    * 100 TB pipeline keeps instead of an exact vocabulary count when the
    * key space is unbounded. The whole sketch is a 4×64 integer grid;
    * per-partition grids merge by cell-wise ADDITION, which is exactly
    * what partial+final hash aggregation does — so `groupBy(r, c).sum`
    * IS the distributed sketch merge, no custom accumulator needed. The
    * corpus is first reduced to (word, freq) — the only corpus-sized
    * shuffle (q133's discipline) — then each VOCABULARY entry fans out
    * to its d cells with its frequency as weight. The grid is
    * deterministic integer state, so the gate hash-pins every cell.
    */
  private val q139 = GraftQuery(
    "q139_countmin_sketch",
    s"""WITH toks AS (
       |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |tf AS (
       |  SELECT w, count(*) AS f FROM toks WHERE w <> '' GROUP BY 1),
       |hashed AS (
       |  SELECT f, ${polyHashDuck("w")} AS h
       |  FROM tf),
       |seeds(r, a, c) AS (VALUES $cmRowsValues),
       |cells AS (
       |  SELECT s.r, ((t.h * s.a + s.c) % 2147483648) % $CmW AS cell, t.f
       |  FROM hashed t CROSS JOIN seeds s)
       |SELECT r, cell, CAST(sum(f) AS BIGINT) AS n
       |FROM cells GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val seeds = s.createDataFrame(CmRows).toDF("r", "a", "c")
    val tf = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("f"))
      .select(PolyHash.hash(col("w")).as("h"), col("f"))
    tf.crossJoin(broadcast(seeds))
      .select(col("r"),
        pmod(pmod(col("h") * col("a") + col("c"), lit(2147483648L)), lit(CmW))
          .as("cell"),
        col("f"))
      .groupBy("r", "cell").agg(sum(col("f")).as("n"))
      .orderBy("r", "cell")
  }

  /** Probe tokens for q140 — present in the fixture vocabulary. */
  private val CmProbes = Seq("join", "hash", "spark", "window", "the", "vector")

  /** q140: count-min POINT QUERIES against q139's sketch — est(w) =
    * min over rows of the probed cell, beside the exact count, pinning
    * the sketch's one-sided guarantee (est ≥ exact, never under). The
    * serving shape is what matters at scale: the probe never touches the
    * corpus — it reads the 256-cell grid (here rebuilt by the shared
    * plan; in production the written artifact) and the exact side is a
    * key-filtered aggregate. Overestimate is an integer (collision mass),
    * so the gate is exact.
    */
  private val q140 = GraftQuery(
    "q140_countmin_probe",
    s"""WITH toks AS (
       |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |tf AS (
       |  SELECT w, count(*) AS f FROM toks WHERE w <> '' GROUP BY 1),
       |hashed AS (
       |  SELECT f, ${polyHashDuck("w")} AS h
       |  FROM tf),
       |seeds(r, a, c) AS (VALUES $cmRowsValues),
       |cells AS (
       |  SELECT s.r, ((t.h * s.a + s.c) % 2147483648) % $CmW AS cell,
       |    CAST(sum(t.f) AS BIGINT) AS n
       |  FROM hashed t CROSS JOIN seeds s GROUP BY 1, 2),
       |probes(w) AS (VALUES ${CmProbes.map(p => s"('$p')").mkString(", ")}),
       |ph AS (
       |  SELECT w, ${polyHashDuck("w")} AS h FROM probes),
       |est AS (
       |  SELECT p.w, min(c.n) AS est
       |  FROM ph p CROSS JOIN seeds s
       |  JOIN cells c ON c.r = s.r
       |    AND c.cell = ((p.h * s.a + s.c) % 2147483648) % $CmW
       |  GROUP BY 1)
       |SELECT e.w AS token, e.est AS est,
       |  CAST(coalesce(t.f, 0) AS BIGINT) AS exact,
       |  e.est - CAST(coalesce(t.f, 0) AS BIGINT) AS overestimate
       |FROM est e LEFT JOIN tf t ON t.w = e.w
       |ORDER BY token""".stripMargin) { (s, d) =>
    val seeds = s.createDataFrame(CmRows).toDF("r", "a", "c")
    val tf = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("f"))
    val cells = tf
      .select(PolyHash.hash(col("w")).as("h"), col("f"))
      .crossJoin(broadcast(seeds))
      .select(col("r"),
        pmod(pmod(col("h") * col("a") + col("c"), lit(2147483648L)), lit(CmW))
          .as("cell"),
        col("f"))
      .groupBy("r", "cell").agg(sum(col("f")).as("n"))
    val probes = s.createDataFrame(CmProbes.map(Tuple1(_))).toDF("token")
      .select(col("token"), PolyHash.hash(col("token")).as("h"))
      .crossJoin(broadcast(seeds))
      .select(col("token"),
        col("r").as("pr"),
        pmod(pmod(col("h") * col("a") + col("c"), lit(2147483648L)), lit(CmW))
          .as("pcell"))
    val est = probes
      .join(cells, col("pr") === col("r") && col("pcell") === col("cell"))
      .groupBy("token").agg(min(col("n")).as("est"))
    est.join(tf.withColumnRenamed("w", "token"), Seq("token"), "left")
      .select(col("token"), col("est"),
        coalesce(col("f"), lit(0L)).cast("long").as("exact"),
        (col("est") - coalesce(col("f"), lit(0L))).cast("long")
          .as("overestimate"))
      .orderBy("token")
  }

  /** HLL geometry for q141: 64 registers, rank from the hash bits above
    * the register index, capped at 25 (24 testable trailing-zero bits +
    * 1; a zero suffix saturates the cap). The trailing-zero count is
    * generated as pure `% / CASE` arithmetic VALID IN BOTH DIALECTS, so
    * one string serves the Spark plan (via expr) and the oracle.
    */
  private[graft] val HllM = 64
  private[graft] def hllRankArith(h2: String): String = {
    val terms = (1 to 24).map(i =>
      s"(CASE WHEN $h2 % ${1L << i} = 0 THEN 1 ELSE 0 END)")
    s"(1 + ${terms.mkString(" + ")})"
  }

  /** The per-(source, register) max-rank table — q141's mergeable state
    * as its own oracle, shared verbatim by the streaming twin q300 so
    * the online register table is gated cell-for-cell against a DuckDB
    * rebuild (q163's gate shape for the HLL sketch).
    */
  private[graft] val hllRegisterOracleSql: String =
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
       |dw AS (
       |  SELECT DISTINCT source, w FROM toks WHERE w <> ''),
       |hashed AS (
       |  SELECT source, ${polyHashDuck("w")} AS h
       |  FROM dw),
       |rr AS (
       |  SELECT source, h % $HllM AS reg,
       |    ${hllRankArith(s"(h // $HllM)")} AS rank
       |  FROM hashed)
       |SELECT source, CAST(reg AS BIGINT) AS reg,
       |  CAST(max(rank) AS BIGINT) AS mx
       |FROM rr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q141: HyperLogLog register table + estimate per source — the
    * mergeable distinct-count state. Per (source, register) the MAX rank
    * is kept; register tables merge by cell-wise max (again: partial+
    * final hash aggregation IS the merge). The estimator is computed
    * from INTEGER state only: the harmonic denominator is scaled by 2^25
    * so it is an exact BIGINT sum (powers of two — no float
    * accumulation), and the single float division at the end is
    * bit-deterministic. Exact distinct rides along for the error audit.
    * Raw Flajolet-et-al estimator, no small/large-range correction —
    * the kernel under audit is the register/merge machinery (the
    * corrections are driver-side post-processing of the same state).
    */
  private val q141 = GraftQuery(
    "q141_hll_registers",
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
       |dw AS (
       |  SELECT DISTINCT source, w FROM toks WHERE w <> ''),
       |hashed AS (
       |  SELECT source, ${polyHashDuck("w")} AS h
       |  FROM dw),
       |rr AS (
       |  SELECT source, h % $HllM AS reg,
       |    ${hllRankArith(s"(h // $HllM)")} AS rank
       |  FROM hashed),
       |regs AS (
       |  SELECT source, reg, max(rank) AS mx FROM rr GROUP BY 1, 2),
       |agg AS (
       |  SELECT source, count(*) AS regs_hit,
       |    CAST(sum(CAST(${1L << 25} AS BIGINT) // CAST(power(2, mx) AS BIGINT))
       |      AS BIGINT) AS denom_hit
       |  FROM regs GROUP BY 1),
       |ex AS (
       |  SELECT source, count(*) AS exact_distinct FROM dw GROUP BY 1)
       |SELECT a.source AS source, CAST(a.regs_hit AS BIGINT) AS regs_hit,
       |  CAST(a.denom_hit + ($HllM - a.regs_hit) * ${1L << 25} AS BIGINT)
       |    AS denom_scaled,
       |  round(0.709 * $HllM * $HllM * ${1L << 25}
       |    / (a.denom_hit + ($HllM - a.regs_hit) * ${1L << 25}), 4) AS est,
       |  CAST(e.exact_distinct AS BIGINT) AS exact_distinct
       |FROM agg a JOIN ex e ON e.source = a.source
       |ORDER BY source""".stripMargin) { (s, d) =>
    val dw = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "").distinct()
    val rr = dw
      .select(col("source"), PolyHash.hash(col("w")).as("h"))
      .select(col("source"), pmod(col("h"), lit(HllM.toLong)).as("reg"),
        expr(hllRankArith(s"(h div $HllM)")).as("rank"))
    val regs = rr.groupBy("source", "reg").agg(max(col("rank")).as("mx"))
    val agg = regs.groupBy("source")
      .agg(count(lit(1)).as("regs_hit"),
        sum(expr(s"CAST(${1L << 25} AS BIGINT) div CAST(power(2, mx) AS BIGINT)"))
          .as("denom_hit"))
    val ex = dw.groupBy("source").agg(count(lit(1)).as("exact_distinct"))
    agg.join(ex, "source")
      .select(col("source"), col("regs_hit").cast("long").as("regs_hit"),
        (col("denom_hit") + (lit(HllM.toLong) - col("regs_hit")) * lit(1L << 25))
          .cast("long").as("denom_scaled"),
        round(lit(0.709 * HllM * HllM * (1L << 25))
          / (col("denom_hit") + (lit(HllM.toLong) - col("regs_hit")) * lit(1L << 25)),
          4).as("est"),
        col("exact_distinct").cast("long").as("exact_distinct"))
      .orderBy("source")
  }

  /** q169: HLL MERGE — the property q141's register tables exist FOR:
    * per-source sketches (the thing each shard/day job persists) are
    * max-merged into the global sketch, and the global distinct estimate
    * comes out of the merged 64-cell table WITHOUT rescanning any
    * source. Output pins the merged estimate beside the exact global
    * distinct and the sum of per-source distincts — the gap between the
    * last two is the cross-source overlap a naive "sum the shard
    * counts" rollup double-counts, which is precisely why mergeable
    * sketches (not counts) are what a 100 TB pipeline stores. Same
    * integer-state discipline as q141: cell-wise max IS partial+final
    * aggregation, the harmonic denominator is an exact power-of-two
    * BIGINT sum, and the one float division happens after rounding
    * state is frozen.
    */
  private val q169 = GraftQuery(
    "q169_hll_merged",
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
       |dw AS (
       |  SELECT DISTINCT source, w FROM toks WHERE w <> ''),
       |hashed AS (
       |  SELECT source, ${polyHashDuck("w")} AS h
       |  FROM dw),
       |rr AS (
       |  SELECT source, h % $HllM AS reg,
       |    ${hllRankArith(s"(h // $HllM)")} AS rank
       |  FROM hashed),
       |regs AS (
       |  SELECT source, reg, max(rank) AS mx FROM rr GROUP BY 1, 2),
       |merged AS (
       |  SELECT reg, max(mx) AS mx FROM regs GROUP BY 1),
       |agg AS (
       |  SELECT count(*) AS regs_hit,
       |    CAST(sum(CAST(${1L << 25} AS BIGINT) // CAST(power(2, mx) AS BIGINT))
       |      AS BIGINT) AS denom_hit
       |  FROM merged),
       |exg AS (
       |  SELECT CAST(count(DISTINCT w) AS BIGINT) AS exact_global
       |  FROM toks WHERE w <> ''),
       |exs AS (
       |  SELECT CAST(count(*) AS BIGINT) AS sum_source_distinct FROM dw)
       |SELECT CAST(a.regs_hit AS BIGINT) AS regs_hit,
       |  CAST(a.denom_hit + ($HllM - a.regs_hit) * ${1L << 25} AS BIGINT)
       |    AS denom_scaled,
       |  round(0.709 * $HllM * $HllM * ${1L << 25}
       |    / (a.denom_hit + ($HllM - a.regs_hit) * ${1L << 25}), 4) AS est,
       |  g.exact_global, x.sum_source_distinct
       |FROM agg a CROSS JOIN exg g CROSS JOIN exs x""".stripMargin) { (s, d) =>
    val dw = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "").distinct()
    val regs = dw
      .select(col("source"), PolyHash.hash(col("w")).as("h"))
      .select(col("source"), pmod(col("h"), lit(HllM.toLong)).as("reg"),
        expr(hllRankArith(s"(h div $HllM)")).as("rank"))
      .groupBy("source", "reg").agg(max(col("rank")).as("mx"))
    val agg = regs.groupBy("reg").agg(max(col("mx")).as("mx"))
      .agg(count(lit(1)).as("regs_hit"),
        sum(expr(s"CAST(${1L << 25} AS BIGINT) div CAST(power(2, mx) AS BIGINT)"))
          .as("denom_hit"))
    val exg = dw.select("w").distinct()
      .agg(count(lit(1)).as("exact_global"))
    val exs = dw.agg(count(lit(1)).as("sum_source_distinct"))
    agg.crossJoin(broadcast(exg)).crossJoin(broadcast(exs))
      .select(col("regs_hit").cast("long").as("regs_hit"),
        (col("denom_hit") + (lit(HllM.toLong) - col("regs_hit")) * lit(1L << 25))
          .cast("long").as("denom_scaled"),
        round(lit(0.709 * HllM * HllM * (1L << 25))
          / (col("denom_hit") + (lit(HllM.toLong) - col("regs_hit")) * lit(1L << 25)),
          4).as("est"),
        col("exact_global").cast("long").as("exact_global"),
        col("sum_source_distinct").cast("long").as("sum_source_distinct"))
  }

  /** q225: pairwise source overlap by HLL inclusion-exclusion — the
    * audience-overlap construction: for every pair of sources sharing at
    * least one token, estimate |A∩B| as est(A) + est(B) − est(A∪B),
    * where the union estimate comes from the CELL-WISE MAX of the two
    * register tables (the merge q169 proves) — no rescan of either
    * source, no pairwise data pass. This is why sketch STATE (not
    * counts) is what a 100 TB pipeline persists: overlap between any
    * two shards/days/feeds is answerable later from k-cell tables. The
    * exact overlap rides along as the error audit (a production run
    * drops it — it's the quadratic pass the sketches exist to avoid).
    * Same integer-state discipline as q141: the pair expansion runs on
    * the (sources × 64)-cell register table, the harmonic denominators
    * are exact power-of-two BIGINT sums, and every float is a division
    * or ±-chain over identical doubles in a fixed expression shape —
    * bit-deterministic in both engines. The one corpus-grain pass is
    * the shared (source, token) dedup.
    */
  private val q225 = GraftQuery(
    "q225_hll_overlap",
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
       |dw AS (
       |  SELECT DISTINCT source, w FROM toks WHERE w <> ''),
       |hashed AS (
       |  SELECT source, ${polyHashDuck("w")} AS h
       |  FROM dw),
       |rr AS (
       |  SELECT source, h % $HllM AS reg,
       |    ${hllRankArith(s"(h // $HllM)")} AS rank
       |  FROM hashed),
       |regs AS (
       |  SELECT source, reg, max(rank) AS mx FROM rr GROUP BY 1, 2),
       |agg AS (
       |  SELECT source, count(*) AS regs_hit,
       |    CAST(sum(CAST(${1L << 25} AS BIGINT) // CAST(power(2, mx) AS BIGINT))
       |      AS BIGINT) AS denom_hit
       |  FROM regs GROUP BY 1),
       |est AS (
       |  SELECT source, 0.709 * $HllM * $HllM * ${1L << 25}
       |    / (denom_hit + ($HllM - regs_hit) * ${1L << 25}) AS e
       |  FROM agg),
       |ex AS (
       |  SELECT a.source AS sa, b.source AS sb,
       |    CAST(count(*) AS BIGINT) AS exact_overlap
       |  FROM dw a JOIN dw b ON a.w = b.w AND a.source < b.source
       |  GROUP BY 1, 2),
       |m AS (
       |  SELECT p.sa, p.sb, r.reg, r.mx
       |  FROM (SELECT sa, sb FROM ex) p JOIN regs r ON r.source = p.sa
       |  UNION ALL
       |  SELECT p.sa, p.sb, r.reg, r.mx
       |  FROM (SELECT sa, sb FROM ex) p JOIN regs r ON r.source = p.sb),
       |mm AS (SELECT sa, sb, reg, max(mx) AS mx FROM m GROUP BY 1, 2, 3),
       |aggu AS (
       |  SELECT sa, sb, count(*) AS regs_hit,
       |    CAST(sum(CAST(${1L << 25} AS BIGINT) // CAST(power(2, mx) AS BIGINT))
       |      AS BIGINT) AS denom_hit
       |  FROM mm GROUP BY 1, 2),
       |estu AS (
       |  SELECT sa, sb, 0.709 * $HllM * $HllM * ${1L << 25}
       |    / (denom_hit + ($HllM - regs_hit) * ${1L << 25}) AS eu
       |  FROM aggu)
       |SELECT ex.sa AS source_a, ex.sb AS source_b,
       |  round(ea.e, 4) AS est_a, round(eb.e, 4) AS est_b,
       |  round(eu.eu, 4) AS est_union,
       |  round(ea.e + eb.e - eu.eu, 4) AS est_overlap,
       |  ex.exact_overlap
       |FROM ex JOIN est ea ON ea.source = ex.sa
       |JOIN est eb ON eb.source = ex.sb
       |JOIN estu eu ON eu.sa = ex.sa AND eu.sb = ex.sb
       |ORDER BY source_a, source_b""".stripMargin) { (s, d) =>
    val dw = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "").distinct()
    val regs = dw
      .select(col("source"), PolyHash.hash(col("w")).as("h"))
      .select(col("source"), pmod(col("h"), lit(HllM.toLong)).as("reg"),
        expr(hllRankArith(s"(h div $HllM)")).as("rank"))
      .groupBy("source", "reg").agg(max(col("rank")).as("mx"))
    val denomHit =
      sum(expr(s"CAST(${1L << 25} AS BIGINT) div CAST(power(2, mx) AS BIGINT)"))
    def estCol: org.apache.spark.sql.Column =
      lit(0.709 * HllM * HllM * (1L << 25)) /
        (col("denom_hit") + (lit(HllM.toLong) - col("regs_hit")) * lit(1L << 25))
    val est = regs.groupBy("source")
      .agg(count(lit(1)).as("regs_hit"), denomHit.as("denom_hit"))
      .select(col("source"), estCol.as("e"))
    val ex = dw.as("a")
      .join(dw.as("b"),
        col("a.w") === col("b.w") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
      .agg(count(lit(1)).as("exact_overlap"))
    val pairs = ex.select("sa", "sb")
    val m = pairs
      .join(regs.withColumnRenamed("source", "sa"), "sa")
      .select(col("sa"), col("sb"), col("reg"), col("mx"))
      .unionByName(pairs
        .join(regs.withColumnRenamed("source", "sb"), "sb")
        .select(col("sa"), col("sb"), col("reg"), col("mx")))
    val estU = m.groupBy("sa", "sb", "reg").agg(max(col("mx")).as("mx"))
      .groupBy("sa", "sb")
      .agg(count(lit(1)).as("regs_hit"), denomHit.as("denom_hit"))
      .select(col("sa"), col("sb"), estCol.as("eu"))
    ex.join(est.select(col("source").as("sa"), col("e").as("ea")), "sa")
      .join(est.select(col("source").as("sb"), col("e").as("eb")), "sb")
      .join(estU, Seq("sa", "sb"))
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        round(col("ea"), 4).as("est_a"), round(col("eb"), 4).as("est_b"),
        round(col("eu"), 4).as("est_union"),
        round(col("ea") + col("eb") - col("eu"), 4).as("est_overlap"),
        col("exact_overlap"))
      .orderBy("source_a", "source_b")
  }

  /** q171: EXACT distributed weighted median — per source, the document
    * length at which half the corpus BYTES are in shorter documents (the
    * capacity-planning number a packing/sharding config keys on; the
    * unweighted median answers a different question the moment lengths
    * skew). The approx-percentile sketch (q54) trades exactness for one
    * pass; this is its exact complement: one per-group sort-window
    * cumulative sum, then the crossing row selected by the all-integer
    * test `2·cum ≥ W ∧ 2·(cum−w) < W` — no division, no float rank, so
    * the selected row is identical in any engine and any shuffle order
    * (ties pinned by (length, doc_id)). Scale shape: ONE shuffle on the
    * group key + per-group sort — the same budget as any top-k-per-group
    * — with nothing corpus-sized on the driver.
    */
  private val q171 = GraftQuery(
    "q171_weighted_median",
    """WITH w AS (
      |  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS v,
      |    CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY n_chars, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |    CAST(sum(n_chars) OVER (PARTITION BY source) AS BIGINT) AS tot
      |  FROM documents)
      |SELECT source, v AS median_chars, cum AS cum_at_median,
      |  tot AS total_chars
      |FROM w WHERE 2 * cum >= tot AND 2 * (cum - v) < tot
      |ORDER BY source""".stripMargin) { (s, d) =>
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("n_chars", "doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("source")
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars").cast("long").as("v"),
        sum(col("n_chars")).over(wOrd).cast("long").as("cum"),
        sum(col("n_chars")).over(wAll).cast("long").as("tot"))
      .where(lit(2) * col("cum") >= col("tot")
        && lit(2) * (col("cum") - col("v")) < col("tot"))
      .select(col("source"), col("v").as("median_chars"),
        col("cum").as("cum_at_median"), col("tot").as("total_chars"))
      .orderBy("source")
  }

  /** q214: per-source distribution drift as a chi-square statistic —
    * each source's document-length histogram (200-char bins) tested
    * against the corpus-wide distribution, the drift monitor a
    * multi-feed ingest runs to catch a feed whose content silently
    * changed shape. Chosen over PSI/KL because chi-square is RATIONAL
    * in the counts: each cell term is (o·t − g·n)²/(g·n·t) with an
    * exact BIGINT numerator and denominator, so the only float per
    * cell is one division of identical integers. The per-source sum is
    * an ORDER-PINNED fold over the bin-sorted cell list (q164's
    * determinism trick — a grouped float sum would vary with shuffle
    * order), and the full source×bin grid (including zero-observed
    * cells, which DO contribute) comes from a broadcast cross of the
    * two metadata-sized dimension tables. The corpus pass is the one
    * (source, bin) count.
    */
  private val q214 = GraftQuery(
    "q214_source_drift_chi2",
    """WITH b AS (SELECT source, n_chars // 200 AS bin FROM documents),
      |gc AS (SELECT bin, CAST(count(*) AS BIGINT) AS g FROM b GROUP BY 1),
      |sc AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS o
      |  FROM b GROUP BY 1, 2),
      |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1),
      |nt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM b),
      |cells AS (
      |  SELECT s.source, g.bin,
      |    coalesce(o.o, 0) * t.t - g.g * s.n AS num_root,
      |    g.g * s.n * t.t AS den
      |  FROM ns s CROSS JOIN gc g CROSS JOIN nt t
      |  LEFT JOIN sc o ON o.source = s.source AND o.bin = g.bin),
      |folded AS (
      |  SELECT source,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(CAST(num_root * num_root AS DOUBLE) / CAST(den AS DOUBLE)
      |        ORDER BY bin)),
      |      (a, x) -> a + x) AS chi2,
      |    CAST(count(*) AS BIGINT) AS n_bins
      |  FROM cells GROUP BY 1)
      |SELECT f.source AS source, s.n AS n_docs, f.n_bins - 1 AS dof,
      |  round(f.chi2, 6) AS chi2
      |FROM folded f JOIN ns s ON s.source = f.source
      |ORDER BY f.source""".stripMargin) { (s, d) =>
    val b = Tables.documents(s, d)
      .select(col("source"), expr("n_chars div 200").as("bin"))
    val gc = b.groupBy("bin").agg(count(lit(1)).as("g"))
    val sc = b.groupBy("source", "bin").agg(count(lit(1)).as("o"))
    val ns = b.groupBy("source").agg(count(lit(1)).as("n"))
    val nt = broadcast(b.agg(count(lit(1)).as("t")))
    val cells = ns.crossJoin(broadcast(gc)).crossJoin(nt)
      .join(sc, Seq("source", "bin"), "left")
      .select(col("source"), col("bin"),
        (coalesce(col("o"), lit(0L)) * col("t") - col("g") * col("n"))
          .as("num_root"),
        (col("g") * col("n") * col("t")).as("den"))
    val folded = cells
      .groupBy("source")
      .agg(sort_array(collect_list(struct(col("bin"),
        ((col("num_root") * col("num_root")).cast("double")
          / col("den").cast("double")).as("term")))).as("cs"),
        count(lit(1)).as("n_bins"))
      .select(col("source"),
        expr("aggregate(cs, 0D, (a, x) -> a + x.term)").as("chi2"),
        col("n_bins"))
    folded.join(ns, "source")
      .select(col("source"), col("n").as("n_docs"),
        (col("n_bins") - 1).as("dof"), round(col("chi2"), 6).as("chi2"))
      .orderBy("source")
  }

  /** q216: exact PHRASE search over positional postings — documents
    * containing the consecutive token sequence "row column sort", with
    * match count and first position. This is the lexical capability the
    * BM25 tier (bag-of-words postings, q90/q122) cannot express:
    * phrases need POSITIONS, and the standard positional-index query is
    * two self-equi-joins on (doc, pos+offset) over the postings of the
    * query's terms only. Scale shape: the term filter lands BEFORE the
    * joins (three term-selected posting slices, each df-sized — the
    * corpus-length postings table is never self-joined wholesale), the
    * joins are equi on (doc_id, pos), and in the written-index
    * composition the same slices come off q122's term-range layout with
    * the `In` probe pushed to the files. Tokenization is q90's
    * whitespace contract, positions 1-based in both engines.
    */
  private val q216 = GraftQuery(
    "q216_phrase_search",
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts
      |  FROM documents),
      |flat AS (
      |  SELECT doc_id, s.p AS p, s.t AS t FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(ts) + 1),
      |      i -> {'p': i, 't': ts[i]})) AS s
      |    FROM toks) z),
      |m AS (
      |  SELECT a.doc_id, a.p
      |  FROM flat a
      |  JOIN flat b ON b.doc_id = a.doc_id AND b.p = a.p + 1
      |  JOIN flat c ON c.doc_id = a.doc_id AND c.p = a.p + 2
      |  WHERE a.t = 'row' AND b.t = 'column' AND c.t = 'sort')
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
      |  CAST(min(p) AS BIGINT) AS first_pos
      |FROM m GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
    val flat = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), "\\s+")).as(Seq("p0", "t")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"), col("t"))
    def slice(term: String, off: Int) = flat.where(col("t") === term)
      .select(col("doc_id"), (col("p") - off).as("p"))
    slice("row", 0)
      .join(slice("column", 1), Seq("doc_id", "p"))
      .join(slice("sort", 2), Seq("doc_id", "p"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"), min(col("p")).as("first_pos"))
      .orderBy("doc_id")
  }

  /** q246: intra-document repetition audit — the within-document quality
    * signal next to q89's cross-document one: per doc, total word
    * bigrams (WITH repeats — unlike the dedup family's distinct-gram
    * tables), distinct bigrams, the hottest bigram's count, and two ppm
    * ratios (top-bigram share, repeated-bigram share). High values mark
    * boilerplate/looping text that repetition-based quality filters
    * (the published LM-corpus heuristics) drop before training. Grams
    * ride as 8-byte poly-hashes (hash-as-identity, the q89 contract);
    * the (doc, hash) aggregate collapses repeats map-side before its
    * one exchange, and the per-doc rollup rides the same partitioning.
    * All ratios are BIGINT div — no float decides a value.
    */
  /** q246's oracle, shared verbatim with its streaming twin
    * ([[graft.streaming.StreamingQueries]] q256).
    */
  private[graft] val repetitionOracleSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ts
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, unnest(CASE WHEN len(ts) >= 2
       |    THEN list_transform(range(1, len(ts)), i -> ts[i]||' '||ts[i+1])
       |    ELSE [] END) AS g
       |  FROM toks),
       |h AS (SELECT doc_id, ${PolyHash.oracleSql("g")} AS hg FROM bg),
       |c AS (SELECT doc_id, hg, CAST(count(*) AS BIGINT) AS cnt
       |  FROM h GROUP BY 1, 2),
       |d AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
       |    CAST(count(*) AS BIGINT) AS n_distinct,
       |    CAST(max(cnt) AS BIGINT) AS top_cnt
       |  FROM c GROUP BY 1)
       |SELECT doc_id, n_bigrams, n_distinct, top_cnt,
       |  top_cnt * 1000000 // n_bigrams AS top_ppm,
       |  (n_bigrams - n_distinct) * 1000000 // n_bigrams AS rep_ppm
       |FROM d ORDER BY doc_id""".stripMargin

  private val q246 = GraftQuery(
    "q246_repetition_audit", repetitionOracleSql) { (s, d) =>
    val bg = Tables.documents(s, d)
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("ts"))
      .select(col("doc_id"), explode(when(size(col("ts")) >= 2,
        expr("""transform(sequence(1, size(ts) - 1),
               |  i -> concat_ws(' ', element_at(ts, i), element_at(ts, i + 1)))"""
          .stripMargin))
        .otherwise(expr("CAST(array() AS array<string>)"))).as("g"))
    bg.select(col("doc_id"), PolyHash.hash(col("g")).as("hg"))
      .groupBy("doc_id", "hg").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_bigrams"),
        count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("top_cnt"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
        col("top_cnt"),
        expr("(top_cnt * 1000000) div n_bigrams").as("top_ppm"),
        expr("((n_bigrams - n_distinct) * 1000000) div n_bigrams")
          .as("rep_ppm"))
      .orderBy("doc_id")
  }

  /** q247: source novelty attribution — the marginal-coverage table a
    * curation pipeline reads to decide which sources still add content:
    * every distinct word-8-gram is attributed to its FIRST source in a
    * fixed ingestion order (alphabetical source name here — any total
    * order works, and the fixture's is deterministic), and each source
    * reports how many of its distinct grams it was first to contribute
    * (novelty_ppm = first-contributed / carried). A source near 0 is
    * pure re-crawl of earlier sources; near 10⁶, fresh text. Scale
    * shape: the only corpus-sized work is the (source, gram-hash)
    * distinct — partial-aggregated map-side — and the gram-grain
    * `min(source)` election; both are single hash exchanges on the
    * 8-byte gram hash, with the final report at source grain. This is
    * the submodular-coverage measurement (greedy marginal gain under a
    * fixed order) without any sequential driver loop.
    */
  private val q247 = GraftQuery(
    "q247_source_novelty",
    s"""WITH ${oracleGrams(GramN)},
       |h AS (SELECT DISTINCT d.source AS source,
       |    ${PolyHash.oracleSql("g")} AS hg
       |  FROM grams JOIN documents d USING (doc_id)),
       |f AS (SELECT hg, min(source) AS first_source FROM h GROUP BY 1),
       |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams
       |  FROM h GROUP BY 1),
       |nov AS (SELECT first_source AS source,
       |    CAST(count(*) AS BIGINT) AS n_novel
       |  FROM f GROUP BY 1)
       |SELECT t.source AS source, t.n_grams,
       |  coalesce(n.n_novel, 0) AS n_novel,
       |  coalesce(n.n_novel, 0) * 1000000 // t.n_grams AS novelty_ppm
       |FROM tot t LEFT JOIN nov n ON n.source = t.source
       |ORDER BY t.source""".stripMargin) { (s, d) =>
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    // src is corpus-row-count-sized (one row per document — billions at
    // 100 TB): never broadcast it; a plain shuffled equi-join on doc_id
    // co-partitions with the gram exchange
    val h = docGrams(s, d, GramN)
      .join(src, Seq("doc_id"))
      .select(col("source"), col("h").as("hg"))
      .distinct()
    val f = h.groupBy("hg").agg(min(col("source")).as("first_source"))
    val tot = h.groupBy("source").agg(count(lit(1)).as("n_grams"))
    val nov = f.groupBy("first_source").agg(count(lit(1)).as("n_novel"))
    tot.join(nov, tot("source") === nov("first_source"), "left")
      .select(tot("source").as("source"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr("(n_novel * 1000000) div n_grams"))
      .orderBy("source")
  }

  /** q259: duplicated-SPAN masking — the span-level form of exact-
    * substring dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" §ExactSubstr): q89 counts how many of a
    * document's grams are shared; this query resolves WHERE — each
    * positional word-8-gram occurring in ≥2 distinct documents marks the
    * token interval [i, i+7], overlapping/adjacent intervals are merged
    * into maximal spans (one interval-union window per document), and the
    * output is the per-document masking report a span-removal pass acts
    * on: token count, merged-span count, masked tokens, masked ppm.
    *
    * Scale shape: positional grams are O(tokens) rows riding the 8-byte
    * poly-hash (never the gram string); "duplicated" is decided by ONE
    * (hash, doc) distinct + hash aggregate (partial aggs collapse
    * per-partition repeats before each exchange); the join back to
    * positions is an equi-join on the hash with no fanout (the dup side
    * is distinct hashes). The interval union is a per-document window —
    * partitioned by doc_id, so 100 TB of documents union in parallel and
    * no document's span state crosses an executor. All ratios are BIGINT
    * div; no float decides a value.
    */
  /** Shared by q259/q260: the maximal cross-document duplicated spans —
    * (doc_id, s, e2) token intervals, 1-based inclusive — from the
    * positional-8-gram duplication decision + per-document interval
    * union described on q259.
    */
  private def dupSpans(sp: SparkSession, d: String): DataFrame =
    graft.Artifacts.checkpointedDf(sp, s"dup_spans:$d") {
      dupSpansBuild(sp, d)
    }

  private def dupSpansBuild(sp: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(sp, d)
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("ts"))
    // r18: positions and hashes come from ONE chain-folded codegen pass
    // ([[graft.functions.GramHashKernels.positional]]) — the former
    // interpreted transform built a struct + joined string per token
    val pg = toks.where(size(col("ts")) >= GramN)
      .select(col("doc_id"), posexplode(
        PolyHash.gramHashes(col("ts"), GramN)).as(Seq("i0", "h")))
      .select(col("doc_id"), (col("i0") + 1).cast("long").as("i"), col("h"))
    val dup = pg.select("h", "doc_id").distinct()
      .groupBy("h").agg(count(lit(1)).as("ddf"))
      .where(col("ddf") >= 2).select("h")
    val hit = pg.join(dup, Seq("h"))
      .select(col("doc_id"), col("i"), (col("i") + (GramN - 1)).as("e"))
    val w = Window.partitionBy("doc_id").orderBy("i")
    val prevMax = max(col("e"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    hit
      .withColumn("isnew",
        when(col("i") > coalesce(prevMax, lit(-1L)) + 1, 1L).otherwise(0L))
      .withColumn("island",
        sum(col("isnew")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min(col("i")).as("s"), max(col("e")).as("e2"))
      .select("doc_id", "s", "e2")
  }

  /** The span-derivation CTE chain shared verbatim by the q259 and q260
    * oracles, ending at `spans(doc_id, island, s, e2)`.
    */
  private val spanOracleCtes: String =
    s"""toks AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ts
       |  FROM documents),
       |doctok AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens
       |  FROM toks),
       |pg AS (
       |  SELECT doc_id, i, ${(0 until GramN).map(j =>
             if (j == 0) "ts[i]" else s"ts[i+$j]").mkString("||' '||")} AS g
       |  FROM (SELECT doc_id, unnest(range(1, len(ts) - ${GramN - 2})) AS i, ts
       |        FROM toks WHERE len(ts) >= $GramN)),
       |hashed AS (SELECT doc_id, i, ${PolyHash.oracleSql("g")} AS h FROM pg),
       |dup AS (SELECT h FROM (
       |    SELECT h, count(DISTINCT doc_id) AS ddf FROM hashed GROUP BY 1)
       |  WHERE ddf >= 2),
       |hit AS (SELECT doc_id, i, i + ${GramN - 1} AS e
       |  FROM hashed JOIN dup USING (h)),
       |mark AS (
       |  SELECT doc_id, i, e,
       |    CASE WHEN i > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY i
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
       |      THEN 1 ELSE 0 END AS isnew
       |  FROM hit),
       |isl AS (SELECT doc_id, i, e,
       |    sum(isnew) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM mark),
       |spans AS (SELECT doc_id, island, min(i) AS s, max(e) AS e2
       |  FROM isl GROUP BY 1, 2)""".stripMargin

  private val q259 = GraftQuery(
    "q259_dup_span_mask",
    s"""WITH $spanOracleCtes,
       |perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |    CAST(sum(e2 - s + 1) AS BIGINT) AS masked_tokens
       |  FROM spans GROUP BY 1)
       |SELECT d.doc_id AS doc_id, d.n_tokens,
       |  CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
       |  CAST(coalesce(p.masked_tokens, 0) AS BIGINT) AS masked_tokens,
       |  CAST(coalesce(p.masked_tokens, 0) * 1000000 // d.n_tokens AS BIGINT)
       |    AS masked_ppm
       |FROM doctok d LEFT JOIN perdoc p USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val docTok = Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("n_tokens"))
    val perdoc = dupSpans(s, d)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e2") - col("s") + 1).as("masked_tokens"))
    docTok.join(perdoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("masked_tokens"), lit(0L)).as("masked_tokens"))
      .withColumn("masked_ppm",
        expr("(masked_tokens * 1000000L) div n_tokens"))
      .orderBy("doc_id")
  }

  /** q260: duplicated-span REMOVAL — the pass q259's report describes,
    * actually applied: every token inside a merged duplicated span is
    * dropped, survivors are rejoined in position order, and the cleaned
    * corpus is gated on (kept token count, poly-hash of the cleaned
    * text) per document. Documents that are duplicated END TO END keep
    * zero tokens and leave the corpus entirely (they are absent from the
    * output — whole-document dedup falls out of span removal as the
    * degenerate case), which is exactly ExactSubstr's behavior on full
    * copies.
    *
    * Scale shape: the span table (metadata-sized — merged intervals, not
    * tokens) joins the positional token table on doc_id; the anti
    * condition `p BETWEEN s AND e2` rides that equi-join, so the pairing
    * never leaves the document. Reassembly is one per-doc aggregate
    * (order restored by sorting the collected (p, token) structs — no
    * global sort), and the gate carries an 8-byte hash per document, not
    * the rebuilt text.
    */
  private val q260 = GraftQuery(
    "q260_dup_span_scrub",
    s"""WITH $spanOracleCtes,
       |flat AS (
       |  SELECT doc_id, unnest(range(1, len(ts) + 1)) AS p, ts FROM toks),
       |tok AS (SELECT doc_id, p, ts[p] AS t FROM flat),
       |kept AS (
       |  SELECT k.doc_id, k.p, k.t FROM tok k
       |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
       |    WHERE sp.doc_id = k.doc_id AND k.p BETWEEN sp.s AND sp.e2)),
       |clean AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
       |    string_agg(t, ' ' ORDER BY p) AS ct
       |  FROM kept GROUP BY 1)
       |SELECT doc_id, kept_tokens, ${PolyHash.oracleSql("ct")} AS clean_hash
       |FROM clean ORDER BY doc_id""".stripMargin) { (s, d) =>
    val tok = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), "\\s+")).as(Seq("p0", "t")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"), col("t"))
    val spans = dupSpans(s, d)
    val kept = tok.join(spans,
      tok("doc_id") === spans("doc_id") &&
        col("p") >= col("s") && col("p") <= col("e2"), "left_anti")
    kept.groupBy("doc_id")
      .agg(count(lit(1)).as("kept_tokens"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(p, t))), x -> x.t)"))
          .as("ct"))
      .select(col("doc_id"), col("kept_tokens"),
        PolyHash.hash(col("ct")).as("clean_hash"))
      .orderBy("doc_id")
  }

  // ---- count-min JOIN-SIZE estimation (q282) ---------------------------

  /** Sketch width for q282 — wider than [[CmW]] because the inner-product
    * estimator's collision term is sum_A·sum_B/width: at 64 cells it
    * would swamp the true join size, at 4096 it is a few-percent
    * overestimate on this key distribution. Still 4×4096 BIGINTs per
    * side — a driver-sized, mergeable summary.
    */
  private val CmJoinW = 4096

  /** q282: join-cardinality estimation from count-min sketches — the
    * optimizer-statistics primitive: |A ⋈ B on k| is estimated as
    * min over rows r of Σ_cell cntA[r,cell]·cntB[r,cell] (the AMS/CM
    * inner product), WITHOUT joining the fact tables. Sides here are the
    * click and view frequency vectors of `events` keyed by user_id; each
    * side's sketch is one map-side partial aggregate to d×w cells
    * (mergeable across executors — the same partial+final discipline as
    * q139), the products meet in a sketch-grain join (≤ d·w rows), and
    * the exact join size rides along as the audit. Output pins the
    * one-sided guarantee (est ≥ exact: collision mass only ever ADDS)
    * and the measured overestimate in ppm — at 100 TB the exact side is
    * the thing you no longer compute; the sketch costs two scans and a
    * 16k-cell summary.
    *
    * Integer-exact in both engines: keys fold to [0, 2^31) before the
    * affine row hash (identity for these ids; a 64-bit-id deployment
    * swaps a full-width mix in front, same contract as [[Pipeline]]'s
    * LCG note), counts and products are BIGINTs.
    */
  private val q282 = GraftQuery(
    "q282_cm_join_size",
    s"""WITH a AS (
       |  SELECT user_id, count(*) AS f FROM events
       |  WHERE event_type = 'click' GROUP BY 1),
       |b AS (
       |  SELECT user_id, count(*) AS f FROM events
       |  WHERE event_type = 'view' GROUP BY 1),
       |seeds(r, aa, cc) AS (VALUES $cmRowsValues),
       |ca AS (
       |  SELECT s.r,
       |    (((a.user_id % 2147483648) * s.aa + s.cc) % 2147483648) % $CmJoinW
       |      AS cell,
       |    CAST(sum(a.f) AS BIGINT) AS n
       |  FROM a CROSS JOIN seeds s GROUP BY 1, 2),
       |cb AS (
       |  SELECT s.r,
       |    (((b.user_id % 2147483648) * s.aa + s.cc) % 2147483648) % $CmJoinW
       |      AS cell,
       |    CAST(sum(b.f) AS BIGINT) AS n
       |  FROM b CROSS JOIN seeds s GROUP BY 1, 2),
       |ip AS (
       |  SELECT ca.r, CAST(sum(ca.n * cb.n) AS BIGINT) AS inner_product
       |  FROM ca JOIN cb ON ca.r = cb.r AND ca.cell = cb.cell GROUP BY 1),
       |ex AS (
       |  SELECT CAST(sum(a.f * b.f) AS BIGINT) AS exact
       |  FROM a JOIN b ON a.user_id = b.user_id),
       |est AS (SELECT CAST(min(inner_product) AS BIGINT) AS est FROM ip)
       |SELECT ip.r, ip.inner_product, est.est, ex.exact,
       |  CAST((est.est - ex.exact) * 1000000 // ex.exact AS BIGINT)
       |    AS over_ppm
       |FROM ip CROSS JOIN est CROSS JOIN ex ORDER BY ip.r""".stripMargin) {
    (s, d) =>
      val seeds = s.createDataFrame(CmRows).toDF("r", "aa", "cc")
      def freqs(t: String) = Tables.events(s, d)
        .where(col("event_type") === t)
        .groupBy("user_id").agg(count(lit(1)).as("f"))
      def cells(df: org.apache.spark.sql.DataFrame) = df
        .crossJoin(broadcast(seeds))
        .select(col("r"),
          pmod(pmod(pmod(col("user_id"), lit(2147483648L)) * col("aa")
            + col("cc"), lit(2147483648L)), lit(CmJoinW)).as("cell"),
          col("f"))
        .groupBy("r", "cell").agg(sum(col("f")).as("n"))
      val fa = freqs("click")
      val fb = freqs("view")
      val ip = cells(fa)
        .join(cells(fb).withColumnRenamed("n", "nb"), Seq("r", "cell"))
        .groupBy("r").agg(sum(col("n") * col("nb")).as("inner_product"))
      val est = ip.agg(min(col("inner_product")).as("est"))
      val exact = fa.join(fb.withColumnRenamed("f", "fb"), Seq("user_id"))
        .agg(sum(col("f") * col("fb")).as("exact"))
      ip.crossJoin(broadcast(est)).crossJoin(broadcast(exact))
        .select(col("r"), col("inner_product"), col("est"), col("exact"),
          expr("((est - exact) * 1000000) div exact").as("over_ppm"))
        .orderBy("r")
  }

  // ---- leave-one-out drift attribution (q314) --------------------------

  /** q314: drift ATTRIBUTION — q237 detects drift, this names the
    * culprit: for every source, the exact two-sample KS statistic
    * between that source's `n_chars` distribution and the REST of the
    * corpus (leave-one-out), integer-decided by q237's
    * cross-multiplication — D's numerator is max|N·F_s(v) − n_s·F(v)|
    * (the algebraic collapse of |（N−n_s)F_s − n_s(F−F_s)|), so the
    * per-source ranking that an incident review reads is shuffle-order
    * exact. The source with drift_rank 1 is where the distribution
    * moved — the root-cause verb between "the corpus drifted" (q237/
    * q245) and "roll back that source's last delivery" (q279's verbs).
    *
    * Scale shape: counts reduce to (value, source) grain in one
    * partial agg; the per-source CDF needs F_s at every MERGED value,
    * so the grid is value-DOMAIN × sources (domain-bounded, not
    * corpus-bounded — n_chars is a bounded-length column) and both
    * cumulatives ride [[Banded.cumSums]] (part = source for F_s, band
    * = v div 256) — no single-partition window over the value domain.
    * The ppm multiply runs in DECIMAL(38,0)/HUGEINT (q237's overflow
    * discipline).
    */
  private val q314 = GraftQuery(
    "q314_drift_attribution",
    """WITH g AS (
      |  SELECT CAST(n_chars AS BIGINT) AS v, source,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1, 2),
      |vt AS (SELECT v, CAST(sum(c) AS BIGINT) AS ct FROM g GROUP BY 1),
      |srcs AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM g
      |  GROUP BY 1),
      |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS n FROM vt),
      |grid AS (
      |  SELECT s.source, t.v, coalesce(g.c, 0) AS c
      |  FROM srcs s CROSS JOIN vt t
      |  LEFT JOIN g ON g.source = s.source AND g.v = t.v),
      |fs AS (SELECT source, v,
      |    sum(c) OVER (PARTITION BY source ORDER BY v) AS fs
      |  FROM grid),
      |fg AS (SELECT v, sum(ct) OVER (ORDER BY v) AS f FROM vt),
      |dn AS (
      |  SELECT fs.source,
      |    CAST(max(abs(t.n * fs.fs - s.ns * fg.f)) AS BIGINT) AS d_num
      |  FROM fs JOIN fg ON fg.v = fs.v
      |  JOIN srcs s ON s.source = fs.source CROSS JOIN tot t
      |  GROUP BY 1),
      |res AS (
      |  SELECT d.source, s.ns AS n_docs, d.d_num,
      |    CAST(1000000 * CAST(d.d_num AS HUGEINT)
      |      // (CAST(s.ns AS HUGEINT) * (t.n - s.ns)) AS BIGINT) AS ks_ppm
      |  FROM dn d JOIN srcs s ON s.source = d.source CROSS JOIN tot t)
      |SELECT source, n_docs, d_num, ks_ppm,
      |  CAST(row_number() OVER (ORDER BY ks_ppm DESC, source) AS BIGINT)
      |    AS drift_rank
      |FROM res ORDER BY source""".stripMargin) { (s, d) =>
    val g = Tables.documents(s, d)
      .select(col("n_chars").cast("long").as("v"), col("source"))
      .groupBy("v", "source").agg(count(lit(1)).as("c"))
    val vt = g.groupBy("v").agg(sum(col("c")).as("ct"))
    val srcs = g.groupBy("source").agg(sum(col("c")).as("ns"))
    val tot = broadcast(vt.agg(sum(col("ct")).cast("long").as("n")))
    val grid = broadcast(srcs.select("source")).crossJoin(vt.select("v"))
      .join(g, Seq("source", "v"), "left")
      .select(col("source"), col("v"), coalesce(col("c"), lit(0L)).as("c"))
    val fs = Banded.cumSums(grid, Seq("source"), Seq(col("v")),
      expr("v div 256"), Seq(Banded.CumSpec("fs", col("c"))))
    val fg = Banded.cumSums(vt, Nil, Seq(col("v")), expr("v div 256"),
      Seq(Banded.CumSpec("f", col("ct"))))
    val dn = fs.join(fg.select("v", "f"), "v")
      .join(broadcast(srcs), "source").crossJoin(tot)
      .groupBy("source")
      .agg(max(abs(col("n") * col("fs") - col("ns") * col("f")))
        .cast("long").as("d_num"))
    val res = dn.join(broadcast(srcs), "source").crossJoin(tot)
      .select(col("source"), col("ns").as("n_docs"), col("d_num"),
        expr("""CAST(1000000 * CAST(d_num AS DECIMAL(38,0))
               |  div (CAST(ns AS DECIMAL(38,0)) * (n - ns)) AS BIGINT)"""
          .stripMargin).as("ks_ppm"))
    // source-grain rank: the window runs on ≤|sources| rows
    res.withColumn("drift_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("ks_ppm").desc, col("source"))).cast("long"))
      .orderBy("source")
  }

  // ---- Dirichlet query-likelihood retrieval (q311) ---------------------

  /** q311's Dirichlet smoothing mass (Zhai & Lafferty's standard
    * μ=2000) — injected as the same literal into both dialects.
    */
  private val DirichletMu = 2000.0

  /** q311: DIRICHLET query-likelihood retrieval — the language-model
    * scoring family beside BM25 (Zhai & Lafferty 2001), served from
    * the SAME materialized [[bm25Index]] artifacts so one postings
    * build backs two ranking models: score(q,d) = Σ_t ln((tf_td +
    * μ·p_t)/(dl_d + μ)) with p_t the corpus unigram probability. The
    * structural difference from BM25 that makes this worth auditing
    * separately: a document is scored on EVERY query term including
    * the ones it lacks (absent terms contribute the smoothing mass
    * ln(μ·p_t/(dl+μ))), so long documents are penalized through the
    * denominator rather than BM25's explicit b·dl/avgdl — the two
    * models disagree exactly where length-vs-coverage trades off, and
    * a retrieval stack keeps both (plus RRF q113) for that reason.
    * Same query workload and top-k as q90 for direct comparison.
    *
    * Determinism: per-term scores are fixed-shape double expressions
    * over integers (ctf/|C| divided once), the per-document sum is the
    * ORDER-PINNED sorted fold of q90, top-k ties break on doc_id.
    * Scale shape: docs×|terms| map-side grid from the lengths leaf +
    * 3-row term broadcast, postings probed term-filtered, 1-row
    * corpus-stats broadcast, TakeOrderedAndProject top-k.
    */
  /** The Dirichlet scoring CTE tail — assumes [[bm25OracleCtes]]'s `dl`
    * and `tf` CTEs are in scope (they define exactly the lengths and
    * term-filtered frequencies both models score from; DuckDB plans
    * only the referenced CTEs, so the BM25-specific tail stays free).
    * Ends in `dfolded(doc_id, dscore)` with the RAW double score.
    * Shared by q311 and the disagreement audit q313.
    */
  private val dirichletTailCtes: String =
    s"""tot AS (SELECT CAST(sum(dl) AS BIGINT) AS coll FROM dl),
       |ctf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ctf FROM tf
       |  GROUP BY 1),
       |qt(term) AS (VALUES ${Bm25Terms.map(t => s"('$t')").mkString(", ")}),
       |grid AS (
       |  SELECT d.doc_id, d.dl, q.term,
       |    coalesce(t.tf, 0) AS tf, c.ctf
       |  FROM dl d CROSS JOIN qt q
       |  JOIN ctf c ON c.term = q.term
       |  LEFT JOIN tf t ON t.doc_id = d.doc_id AND t.term = q.term),
       |dsc AS (
       |  SELECT doc_id, term,
       |    ln((CAST(tf AS DOUBLE) + CAST($DirichletMu AS DOUBLE)
       |        * (CAST(ctf AS DOUBLE) / CAST(tot.coll AS DOUBLE)))
       |      / (CAST(dl AS DOUBLE) + CAST($DirichletMu AS DOUBLE))) AS s
       |  FROM grid CROSS JOIN tot),
       |dfolded AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(s ORDER BY term)), (acc, x) -> acc + x) AS dscore
       |  FROM dsc GROUP BY 1)""".stripMargin

  /** Engine twin of [[dirichletTailCtes]]: (doc_id, score) with the RAW
    * double Dirichlet score, served from the materialized
    * [[bm25Index]] artifacts — one postings build, two ranking models.
    */
  private def dirichletScores(s: SparkSession, d: String): DataFrame = {
    val (postings, dl, _) = bm25Index(s, d)
    val tf = postings.where(col("term").isin(Bm25Terms: _*))
    val ctf = broadcast(tf.groupBy("term").agg(sum(col("tf")).as("ctf")))
    val tot = broadcast(dl.agg(sum(col("dl")).as("coll")))
    val qt = broadcast(s.createDataFrame(Bm25Terms.map(Tuple1(_)))
      .toDF("term"))
    val grid = dl.crossJoin(qt)
      .join(ctf, "term")
      .join(tf.withColumnRenamed("tf", "tfv"), Seq("doc_id", "term"),
        "left")
      .select(col("doc_id"), col("term"),
        coalesce(col("tfv"), lit(0L)).as("tf"), col("dl"), col("ctf"))
    grid.crossJoin(tot)
      .withColumn("s",
        log((col("tf").cast("double") + lit(DirichletMu)
            * (col("ctf").cast("double") / col("coll").cast("double")))
          / (col("dl").cast("double") + lit(DirichletMu))))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("term"), col("s"))))
        .as("scs"))
      .select(col("doc_id"),
        expr("aggregate(scs, 0D, (acc, t) -> acc + t.s)").as("score"))
  }

  private val q311 = GraftQuery(
    "q311_lm_dirichlet_retrieval",
    s"""WITH $bm25OracleCtes,
       |$dirichletTailCtes
       |SELECT doc_id, round(dscore, 6) AS score FROM dfolded
       |ORDER BY score DESC, doc_id LIMIT $Bm25TopK""".stripMargin) {
    (s, d) =>
      dirichletScores(s, d)
        .select(col("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(Bm25TopK)
  }

  /** q313: BM25 vs Dirichlet DISAGREEMENT audit — with two ranking
    * models served off one index (q90, q311), the fusion question
    * (does RRF q113 have anything to fuse?) is answered by measuring
    * how differently they rank: top-[[Bm25TopK]] answer-set overlap,
    * and Kendall-τ concordance over the shared documents (q275's
    * rank-fidelity metric applied across SCORERS rather than across
    * compression tiers). High overlap + low τ means the models agree
    * on WHAT is relevant but not in WHICH ORDER — exactly the regime
    * where rank fusion pays; τ ≈ 1 would mean the second scorer adds
    * nothing. Integer-exact: concordant/discordant pair counts over
    * the ≤k-row intersection, ppm at the end.
    *
    * Both top-k lists ride TakeOrderedAndProject; the pair expansion
    * runs on the ≤k-row intersection (≤k² broadcast cross) — the
    * corpus cost is the two scoring passes, both artifact-served.
    */
  private val q313 = GraftQuery(
    "q313_scorer_disagreement",
    s"""WITH $bm25OracleCtes,
       |$dirichletTailCtes,
       |b20 AS (SELECT doc_id, rb FROM (
       |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
       |    AS rb FROM folded) t WHERE rb <= $Bm25TopK),
       |d20 AS (SELECT doc_id, rd FROM (
       |  SELECT doc_id, row_number() OVER (ORDER BY dscore DESC, doc_id)
       |    AS rd FROM dfolded) t WHERE rd <= $Bm25TopK),
       |inter AS (SELECT b20.doc_id, rb, rd FROM b20
       |  JOIN d20 ON d20.doc_id = b20.doc_id),
       |ov AS (SELECT CAST(count(*) AS BIGINT) AS overlap FROM inter),
       |pairs AS (
       |  SELECT a.rb AS rb1, a.rd AS rd1, b.rb AS rb2, b.rd AS rd2
       |  FROM inter a JOIN inter b ON a.doc_id < b.doc_id),
       |cd AS (
       |  SELECT
       |    CAST(sum(CASE WHEN (rb1 - rb2) * (rd1 - rd2) > 0 THEN 1
       |      ELSE 0 END) AS BIGINT) AS concordant,
       |    CAST(sum(CASE WHEN (rb1 - rb2) * (rd1 - rd2) < 0 THEN 1
       |      ELSE 0 END) AS BIGINT) AS discordant,
       |    CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM pairs)
       |SELECT ov.overlap, cd.n_pairs, cd.concordant, cd.discordant,
       |  CAST((cd.concordant - cd.discordant) * 1000000 // cd.n_pairs
       |    AS BIGINT) AS tau_ppm
       |FROM ov CROSS JOIN cd""".stripMargin) { (s, d) =>
    def ranked(scores: DataFrame, rName: String) = {
      val top = scores.orderBy(col("score").desc, col("doc_id"))
        .limit(Bm25TopK)
      // ≤k-row frame: the ranking window is metadata-sized
      top.withColumn(rName, row_number().over(org.apache.spark.sql
        .expressions.Window.orderBy(col("score").desc, col("doc_id"))))
        .select(col("doc_id"), col(rName))
    }
    val inter = ranked(bm25Scores(s, d), "rb")
      .join(ranked(dirichletScores(s, d), "rd"), "doc_id")
      .localCheckpoint()
    val ov = inter.agg(count(lit(1)).as("overlap"))
    val a = inter.select(col("doc_id").as("da"), col("rb").as("rb1"),
      col("rd").as("rd1"))
    val b = inter.select(col("doc_id").as("db"), col("rb").as("rb2"),
      col("rd").as("rd2"))
    val cd = a.join(broadcast(b), col("da") < col("db"))
      .agg(sum(when((col("rb1") - col("rb2")) * (col("rd1") - col("rd2")) > 0,
          1L).otherwise(0L)).as("concordant"),
        sum(when((col("rb1") - col("rb2")) * (col("rd1") - col("rd2")) < 0,
          1L).otherwise(0L)).as("discordant"),
        count(lit(1)).as("n_pairs"))
    ov.crossJoin(broadcast(cd))
      .select(col("overlap"), col("n_pairs"), col("concordant"),
        col("discordant"),
        expr("((concordant - discordant) * 1000000) div n_pairs")
          .as("tau_ppm"))
  }

  // ---- NDV (System-R) join-size estimation (q295) ----------------------

  /** q295: join-cardinality estimation from NDV statistics — the OTHER
    * optimizer formula, beside q282's count-min inner product, run on
    * the SAME join (clicks ⋈ views on user_id) so the two estimators
    * are directly comparable: System-R's |A|·|B| / max(V(A,k), V(B,k))
    * with the NDVs coming from q141's HLL register machinery (here over
    * the [[CmRows]] affine hash of the key — max-rank per register is
    * duplicate-insensitive, so the frequency tables need no DISTINCT
    * pass). This is exactly what a CBO does with column-level NDV
    * stats; the exact join size rides along as the audit, and the
    * honest story the output tells is the formula's known blind spot:
    * System-R assumes uniform key frequency, so under skew it drifts
    * where q282's frequency-weighted inner product does not — which is
    * WHY an optimizer keeps both statistics.
    *
    * Scale shape: each side is one map-side partial aggregate to a
    * 64-cell register table (mergeable by cell-wise max); every
    * combine after that is a 1-row broadcast cross (the audited BNLJ
    * shape). The exact side — the thing you no longer compute at
    * 100 TB — is the q282 equi-join audit. err_ppm is signed via a
    * CASE split so both dialects truncate a nonnegative numerator.
    */
  private val q295 = GraftQuery(
    "q295_ndv_join_estimate",
    s"""WITH a AS (
       |  SELECT user_id, CAST(count(*) AS BIGINT) AS f FROM events
       |  WHERE event_type = 'click' GROUP BY 1),
       |b AS (
       |  SELECT user_id, CAST(count(*) AS BIGINT) AS f FROM events
       |  WHERE event_type = 'view' GROUP BY 1),
       |ra AS (
       |  SELECT h % $HllM AS reg, ${hllRankArith(s"(h // $HllM)")} AS rank
       |  FROM (SELECT ((user_id % 2147483648) * ${CmRows.head._2}
       |    + ${CmRows.head._3}) % 2147483648 AS h FROM a)),
       |rb AS (
       |  SELECT h % $HllM AS reg, ${hllRankArith(s"(h // $HllM)")} AS rank
       |  FROM (SELECT ((user_id % 2147483648) * ${CmRows.head._2}
       |    + ${CmRows.head._3}) % 2147483648 AS h FROM b)),
       |ea AS (
       |  SELECT count(*) AS regs_hit,
       |    CAST(sum(CAST(${1L << 25} AS BIGINT) // CAST(power(2, mx) AS BIGINT))
       |      AS BIGINT) AS denom_hit
       |  FROM (SELECT reg, max(rank) AS mx FROM ra GROUP BY 1)),
       |eb AS (
       |  SELECT count(*) AS regs_hit,
       |    CAST(sum(CAST(${1L << 25} AS BIGINT) // CAST(power(2, mx) AS BIGINT))
       |      AS BIGINT) AS denom_hit
       |  FROM (SELECT reg, max(rank) AS mx FROM rb GROUP BY 1)),
       |na AS (SELECT CAST(sum(f) AS BIGINT) AS n_a,
       |  CAST(count(*) AS BIGINT) AS ndv_a_exact FROM a),
       |nb AS (SELECT CAST(sum(f) AS BIGINT) AS n_b,
       |  CAST(count(*) AS BIGINT) AS ndv_b_exact FROM b),
       |ests AS (
       |  SELECT
       |    round(0.709 * $HllM * $HllM * ${1L << 25}
       |      / (ea.denom_hit + ($HllM - ea.regs_hit) * ${1L << 25}), 4)
       |      AS ndv_a_est,
       |    round(0.709 * $HllM * $HllM * ${1L << 25}
       |      / (eb.denom_hit + ($HllM - eb.regs_hit) * ${1L << 25}), 4)
       |      AS ndv_b_est
       |  FROM ea CROSS JOIN eb),
       |ex AS (
       |  SELECT CAST(sum(a.f * b.f) AS BIGINT) AS exact_join
       |  FROM a JOIN b ON a.user_id = b.user_id),
       |fin AS (
       |  SELECT na.n_a, nb.n_b, na.ndv_a_exact, nb.ndv_b_exact,
       |    e.ndv_a_est, e.ndv_b_est,
       |    CAST(round(na.n_a * nb.n_b
       |      / (CASE WHEN e.ndv_a_est >= e.ndv_b_est THEN e.ndv_a_est
       |              ELSE e.ndv_b_est END)) AS BIGINT) AS est_join,
       |    ex.exact_join
       |  FROM na CROSS JOIN nb CROSS JOIN ests e CROSS JOIN ex)
       |SELECT *,
       |  CASE WHEN est_join >= exact_join
       |    THEN ((est_join - exact_join) * 1000000) // exact_join
       |    ELSE -(((exact_join - est_join) * 1000000) // exact_join)
       |  END AS err_ppm
       |FROM fin""".stripMargin) { (s, d) =>
    def freqs(t: String) = Tables.events(s, d)
      .where(col("event_type") === t)
      .groupBy("user_id").agg(count(lit(1)).as("f"))
    def hllAgg(df: DataFrame) = df
      .select(pmod(pmod(col("user_id"), lit(2147483648L)) * lit(CmRows.head._2)
        + lit(CmRows.head._3), lit(2147483648L)).as("h"))
      .select(pmod(col("h"), lit(HllM.toLong)).as("reg"),
        expr(hllRankArith(s"(h div $HllM)")).as("rank"))
      .groupBy("reg").agg(max(col("rank")).as("mx"))
      .agg(count(lit(1)).as("regs_hit"),
        sum(expr(s"CAST(${1L << 25} AS BIGINT) div CAST(power(2, mx) AS BIGINT)"))
          .as("denom_hit"))
      .select((lit(0.709 * HllM * HllM * (1L << 25))
        / (col("denom_hit") + (lit(HllM.toLong) - col("regs_hit")) * lit(1L << 25))))
    val fa = freqs("click")
    val fb = freqs("view")
    val na = fa.agg(sum(col("f")).as("n_a"),
      count(lit(1)).as("ndv_a_exact"))
    val nb = fb.agg(sum(col("f")).as("n_b"),
      count(lit(1)).as("ndv_b_exact"))
    val ests = hllAgg(fa).toDF("ra").crossJoin(broadcast(hllAgg(fb).toDF("rb")))
      .select(round(col("ra"), 4).as("ndv_a_est"),
        round(col("rb"), 4).as("ndv_b_est"))
    val exact = fa.join(fb.withColumnRenamed("f", "fb"), Seq("user_id"))
      .agg(sum(col("f") * col("fb")).as("exact_join"))
    na.crossJoin(broadcast(nb)).crossJoin(broadcast(ests))
      .crossJoin(broadcast(exact))
      .withColumn("est_join",
        round(col("n_a") * col("n_b")
          / greatest(col("ndv_a_est"), col("ndv_b_est"))).cast("long"))
      .withColumn("err_ppm",
        when(col("est_join") >= col("exact_join"),
          expr("((est_join - exact_join) * 1000000) div exact_join"))
          .otherwise(-expr("((exact_join - est_join) * 1000000) div exact_join")))
  }

  // ---- bloom-filter configuration sweep (q286) -------------------------

  /** The (bits, hashes) grid q286 measures — one saturated corner
    * (m=4096 at this key count), one production-healthy corner (m=65536),
    * each at k∈{2,4}. Literal in both engines via [[bloomCfgValues]].
    */
  private val BloomCfgs = Seq((0L, 4096L, 2L), (1L, 4096L, 4L),
    (2L, 65536L, 2L), (3L, 65536L, 4L))
  private def bloomCfgValues: String =
    BloomCfgs.map(c => s"(${c._1}, ${c._2}, ${c._3})").mkString(", ")

  /** q286: bloom-filter FPR sweep — q277's config-sweep discipline
    * applied to the q77 decontamination filter: for each (m bits,
    * k hashes) configuration, the MEASURED false-positive rate of an
    * explicit bloom filter (set-bit set from the held-out blocklist, the
    * [[CmRows]] affine family as the k hash functions) probed by every
    * train-split gram hash, with the exact membership truth riding
    * along. `false_negatives` is pinned structurally 0 — the bloom
    * guarantee, asserted not assumed — and `fill_ppm` explains WHY a
    * corner misbehaves (at 4096 bits this key count saturates the
    * filter, where adding hashes RAISES the FPR: the k=4 row measures
    * worse than k=2 — the non-monotonicity that makes sweeping, not
    * formula-plugging, the right sizing procedure).
    *
    * Scale shape: set-bits are ≤ Σm rows total and ship as ONE broadcast
    * (a bloom probe must be map-side — the production q77 contract);
    * probe cells fan out k-fold map-side and reduce back to probe grain;
    * the truth join is the plain h equi-join. The blocklist and gram
    * artifacts are shared with q77/q65.
    */
  private val q286 = GraftQuery(
    "q286_bloom_fpr_sweep",
    s"""WITH ${oracleGrams(GramN)},
       |hashed AS (
       |  SELECT doc_id, sb, ${PolyHash.oracleSql("g")} AS h FROM grams),
       |blk AS (SELECT DISTINCT h FROM hashed WHERE sb >= $TestBucketFloor),
       |probes AS (SELECT DISTINCT h FROM hashed WHERE sb < $TrainBucketCeil),
       |seeds(r, aa, cc) AS (VALUES $cmRowsValues),
       |cfgs(cfg, m, k) AS (VALUES $bloomCfgValues),
       |bits AS (
       |  SELECT DISTINCT cfg, c.m, c.k,
       |    ((b.h * s.aa + s.cc) % 2147483648) % c.m AS cell
       |  FROM blk b CROSS JOIN seeds s CROSS JOIN cfgs c WHERE s.r < c.k),
       |fill AS (SELECT cfg, CAST(count(*) AS BIGINT) AS bits_set
       |  FROM bits GROUP BY 1),
       |pc AS (
       |  SELECT c.cfg, p.h, ((p.h * s.aa + s.cc) % 2147483648) % c.m AS cell
       |  FROM probes p CROSS JOIN seeds s CROSS JOIN cfgs c WHERE s.r < c.k),
       |pv AS (
       |  SELECT pc.cfg, pc.h, count(DISTINCT pc.cell) AS nc,
       |    count(DISTINCT CASE WHEN bits.cell IS NOT NULL THEN pc.cell END)
       |      AS nh
       |  FROM pc LEFT JOIN bits ON bits.cfg = pc.cfg AND bits.cell = pc.cell
       |  GROUP BY 1, 2),
       |truth AS (SELECT p.h, CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END
       |    AS pos
       |  FROM probes p LEFT JOIN blk b ON p.h = b.h)
       |SELECT CAST(c.cfg AS BIGINT) AS cfg, CAST(c.m AS BIGINT) AS m,
       |  CAST(c.k AS BIGINT) AS k,
       |  CAST(count(*) AS BIGINT) AS n_probes,
       |  CAST(sum(t.pos) AS BIGINT) AS n_present,
       |  CAST(sum(CASE WHEN t.pos = 1 AND pv.nh < pv.nc THEN 1 ELSE 0 END)
       |    AS BIGINT) AS false_negatives,
       |  CAST(sum(CASE WHEN t.pos = 0 AND pv.nh = pv.nc THEN 1 ELSE 0 END)
       |    AS BIGINT) AS false_positives,
       |  CAST(sum(CASE WHEN t.pos = 0 AND pv.nh = pv.nc THEN 1 ELSE 0 END)
       |      * 1000000
       |    // sum(CASE WHEN t.pos = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS fpr_ppm,
       |  CAST(f.bits_set * 1000000 // c.m AS BIGINT) AS fill_ppm
       |FROM pv JOIN truth t ON t.h = pv.h JOIN cfgs c ON c.cfg = pv.cfg
       |  JOIN fill f ON f.cfg = pv.cfg
       |GROUP BY c.cfg, c.m, c.k, f.bits_set
       |ORDER BY cfg""".stripMargin) { (s, d) =>
    val seeds = s.createDataFrame(CmRows).toDF("r", "aa", "cc")
    val cfgs = s.createDataFrame(BloomCfgs).toDF("cfg", "m", "k")
    val blk = bloomBlocklist(s, d)
    val probes = graft.Artifacts.checkpointedDf(s, s"q286_probes:$d") {
      docGrams(s, d, GramN)
        .where(col("sb") < TrainBucketCeil)
        .select("h").distinct()
    }
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .crossJoin(broadcast(seeds)).crossJoin(broadcast(cfgs))
      .where(col("r") < col("k"))
      .select(col("cfg"), col("m"), col("k"), col("h"),
        expr("((h * aa + cc) % 2147483648) % m").as("cell"))
    val bits = cells(blk).select("cfg", "cell").distinct()
    val fill = bits.groupBy("cfg").agg(count(lit(1)).as("bits_set"))
    // r18: a probe is bloom-POSITIVE iff every one of its k cells is
    // set, so the per-(cfg, probe) reduction is one min() over the hit
    // flags — the former pair of countDistinct aggregates (distinct
    // cells vs distinct HIT cells, compared downstream) forced an
    // Expand over the k-fanned probe stream, doubling the rows into the
    // widest aggregate of the query. nh < nc ⟺ some cell missed ⟺
    // all_hit = 0, so the downstream conditions translate exactly and
    // the oracle's nc/nh formulation is untouched.
    val pv = cells(probes)
      .join(broadcast(bits.withColumn("__hit", lit(1))),
        Seq("cfg", "cell"), "left")
      .groupBy("cfg", "h")
      .agg(min(when(col("__hit").isNotNull, 1).otherwise(0)).as("all_hit"))
    val truth = probes
      .join(blk.withColumn("__pos", lit(1)), Seq("h"), "left")
      .select(col("h"), coalesce(col("__pos"), lit(0)).as("pos"))
    pv.join(truth, Seq("h"))
      .groupBy("cfg")
      .agg(count(lit(1)).as("n_probes"),
        sum(col("pos")).cast("long").as("n_present"),
        sum(when(col("pos") === 1 && col("all_hit") === 0, 1L)
          .otherwise(0L)).as("false_negatives"),
        sum(when(col("pos") === 0 && col("all_hit") === 1, 1L)
          .otherwise(0L)).as("false_positives"))
      .join(broadcast(cfgs), Seq("cfg"))
      .join(broadcast(fill), Seq("cfg"))
      .select(col("cfg"), col("m"), col("k"), col("n_probes"),
        col("n_present"), col("false_negatives"), col("false_positives"),
        expr("(false_positives * 1000000) div (n_probes - n_present)")
          .as("fpr_ppm"),
        expr("(bits_set * 1000000) div m").as("fill_ppm"))
      .orderBy("cfg")
  }

  // ---- greedy max-coverage source selection (q289) ---------------------

  private val GreedyRounds = 5

  /** Oracle CTEs for one greedy round `t`: marginal counts over the
    * remaining pairs, the deterministic argmax (count desc, source), the
    * winner's grams, and the next remaining set (winner's source and
    * covered grams removed).
    */
  private def greedyRoundCtes(t: Int): String = {
    val prev = if (t == 1) "p0" else s"p${t - 1}"
    s"""r$t AS (SELECT source, CAST(count(*) AS BIGINT) AS c FROM $prev
       |  GROUP BY 1),
       |w$t AS (SELECT source, c FROM r$t ORDER BY c DESC, source LIMIT 1),
       |cov$t AS (SELECT DISTINCT h FROM $prev JOIN w$t USING (source)),
       |p$t AS (SELECT a.source, a.h FROM $prev a
       |  WHERE a.source NOT IN (SELECT source FROM w$t)
       |    AND a.h NOT IN (SELECT h FROM cov$t))""".stripMargin
  }

  /** q289: greedy max-coverage source selection — the submodular
    * curation decision q247 only measures: which [[GreedyRounds]] sources
    * to license/crawl/keep for the largest distinct-gram coverage. Each
    * round elects the source with the largest MARGINAL gain (grams not
    * covered by earlier picks) under the deterministic (count desc,
    * source) order — the classic (1−1/e) greedy, the order a curation
    * owner actually buys in. q247 answers "what did source k add in a
    * FIXED ingestion order"; q289 answers "which order should we choose".
    *
    * Scale shape: the corpus reduces ONCE to distinct (source, gram-hash)
    * pairs (the only corpus-sized shuffle, shared artifact); each round
    * is one source-grain aggregate + a 1-row driver argmax (the k-means
    * bounded-collect contract) + an h equi-anti-join, with the shrinking
    * remaining set re-checkpointed so round t never replays rounds
    * 1..t−1. Greedy set cover is inherently R-pass; R is the number of
    * sources being bought, not a data-sized quantity.
    */
  private val q289 = GraftQuery(
    "q289_greedy_coverage",
    s"""WITH ${oracleGrams(GramN)},
       |p0 AS (
       |  SELECT DISTINCT d.source, ${PolyHash.oracleSql("g")} AS h
       |  FROM grams JOIN documents d USING (doc_id)),
       |tot AS (SELECT CAST(count(DISTINCT h) AS BIGINT) AS total FROM p0),
       |${(1 to GreedyRounds).map(greedyRoundCtes).mkString(",\n")},
       |picks AS (${(1 to GreedyRounds).map(t =>
          s"SELECT $t AS round, source, c FROM w$t")
          .mkString(" UNION ALL ")}),
       |cum AS (SELECT round, source, c AS marginal_new_grams,
       |    sum(c) OVER (ORDER BY round ROWS UNBOUNDED PRECEDING)
       |      AS covered_grams
       |  FROM picks)
       |SELECT CAST(round AS BIGINT) AS round, source, marginal_new_grams,
       |  CAST(covered_grams AS BIGINT) AS covered_grams,
       |  CAST(covered_grams * 1000000 // tot.total AS BIGINT)
       |    AS coverage_ppm
       |FROM cum CROSS JOIN tot ORDER BY round""".stripMargin) { (s, d) =>
    val pairs = graft.Artifacts.checkpointedDf(s, s"q289_pairs:$d") {
      docGrams(s, d, GramN)
        .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .select(col("source"), col("h"))
        .distinct()
    }
    val total = pairs.agg(countDistinct(col("h"))).collect()(0).getLong(0)
    var remaining = pairs
    var covered = 0L
    val rows = (1 to GreedyRounds).map { t =>
      val top = remaining.groupBy("source").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("source")).limit(1).collect()(0)
      val (src, c) = (top.getString(0), top.getLong(1))
      val winnerGrams = remaining.where(col("source") === src).select("h")
      remaining = remaining.where(col("source") =!= src)
        .join(winnerGrams, Seq("h"), "left_anti")
        .localCheckpoint()
      covered += c
      (t.toLong, src, c, covered, covered * 1000000L / total)
    }
    s.createDataFrame(rows)
      .toDF("round", "source", "marginal_new_grams", "covered_grams",
        "coverage_ppm")
      .orderBy("round")
  }

  // ---- corpus novelty curve (q292) --------------------------------------

  /** q292: corpus NOVELTY CURVE (Heaps'-law audit) — distinct-gram growth
    * along the ingestion order, in exact doc-count deciles: per decile
    * the gram mentions, the grams seen for the FIRST time, the cumulative
    * distinct total, and the marginal novelty rate (new per mention).
    * q247 attributes novelty to SOURCES in a fixed order; q292 is the
    * TEMPORAL read of the same submodular curve — the diminishing-returns
    * measurement behind "does the next crawl batch still pay for itself".
    * A healthy growing corpus shows slowly decaying novelty_ppm; a
    * plateau (novelty → repetition floor) says more of the same data
    * buys no new coverage.
    *
    * Scale shape: ingestion rank is one banded global cumulative
    * ([[graft.operators.Banded.cumSums]]); each gram reduces to its
    * FIRST decile (one hash aggregate); everything after runs on the
    * 10-row decile grid. The 1-row doc-count broadcast rides the rank
    * frame (audited cross).
    */
  private val q292 = GraftQuery(
    "q292_novelty_curve",
    s"""WITH ${oracleGrams(GramN)},
       |ord AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rk,
       |    count(*) OVER () AS n FROM documents),
       |dd AS (SELECT doc_id, (rk - 1) * 10 // n AS decile FROM ord),
       |gh AS (SELECT grams.doc_id, ${PolyHash.oracleSql("g")} AS h,
       |    dd.decile
       |  FROM grams JOIN dd USING (doc_id)),
       |firstd AS (SELECT h, min(decile) AS fd FROM gh GROUP BY 1),
       |perd AS (SELECT decile, CAST(count(*) AS BIGINT) AS gram_mentions
       |  FROM gh GROUP BY 1),
       |newd AS (SELECT fd AS decile, CAST(count(*) AS BIGINT) AS new_grams
       |  FROM firstd GROUP BY 1),
       |docs AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM dd GROUP BY 1)
       |SELECT CAST(docs.decile AS BIGINT) AS decile, docs.n_docs,
       |  CAST(coalesce(perd.gram_mentions, 0) AS BIGINT) AS gram_mentions,
       |  CAST(coalesce(newd.new_grams, 0) AS BIGINT) AS new_grams,
       |  CAST(sum(coalesce(newd.new_grams, 0)) OVER (ORDER BY docs.decile
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS distinct_cum,
       |  CAST(CASE WHEN coalesce(perd.gram_mentions, 0) = 0 THEN 0
       |    ELSE coalesce(newd.new_grams, 0) * 1000000 // perd.gram_mentions
       |    END AS BIGINT) AS novelty_ppm
       |FROM docs LEFT JOIN perd ON perd.decile = docs.decile
       |  LEFT JOIN newd ON newd.decile = docs.decile
       |ORDER BY decile""".stripMargin) { (s, d) =>
    val ids = Tables.documents(s, d).select(col("doc_id"))
    val n = ids.agg(count(lit(1)).as("n"))
    val dd = Banded.cumSums(ids, Nil, Seq(col("doc_id")),
        expr("doc_id div 4096"), Seq(Banded.CumSpec("rk", lit(1L))))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), expr("((rk - 1) * 10) div n").as("decile"))
    val gh = docGrams(s, d, GramN)
      .join(dd, Seq("doc_id"))
      .select(col("h"), col("decile"))
    val perd = gh.groupBy("decile").agg(count(lit(1)).as("gram_mentions"))
    val newd = gh.groupBy("h").agg(min(col("decile")).as("decile"))
      .groupBy("decile").agg(count(lit(1)).as("new_grams"))
    val docs = dd.groupBy("decile").agg(count(lit(1)).as("n_docs"))
    // 10-row decile grid: the global window is metadata-sized
    val w = org.apache.spark.sql.expressions.Window.orderBy("decile")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs.join(perd, Seq("decile"), "left").join(newd, Seq("decile"), "left")
      .select(col("decile"), col("n_docs"),
        coalesce(col("gram_mentions"), lit(0L)).as("gram_mentions"),
        coalesce(col("new_grams"), lit(0L)).as("new_grams"))
      .withColumn("distinct_cum", sum(col("new_grams")).over(w))
      .withColumn("novelty_ppm",
        when(col("gram_mentions") === 0, 0L)
          .otherwise(expr("(new_grams * 1000000) div gram_mentions")))
      .orderBy("decile")
  }

  // ---- Jensen-Shannon content drift (q329) ------------------------------

  /** q329's per-cell JSD term — ONE expression text shared verbatim
    * between both engines (the q297/q320 identical-IEEE-tree
    * discipline): each (source, token) grid cell contributes
    * ½[p·ln(p/m) + q·ln(q/m)] with p the in-source rate, q the
    * rest-of-corpus rate, m their midpoint; absent sides contribute 0
    * through the CASE guards.
    */
  private val jsdTermSql: String =
    """(CASE WHEN cs > 0
      |   THEN (CAST(cs AS DOUBLE) / CAST(ns AS DOUBLE))
      |     * ln((CAST(cs AS DOUBLE) / CAST(ns AS DOUBLE))
      |       / ((CAST(cs AS DOUBLE) / CAST(ns AS DOUBLE)
      |           + CAST(ct - cs AS DOUBLE) / CAST(nt - ns AS DOUBLE)) / 2.0))
      |   ELSE 0.0 END
      | + CASE WHEN ct - cs > 0
      |   THEN (CAST(ct - cs AS DOUBLE) / CAST(nt - ns AS DOUBLE))
      |     * ln((CAST(ct - cs AS DOUBLE) / CAST(nt - ns AS DOUBLE))
      |       / ((CAST(cs AS DOUBLE) / CAST(ns AS DOUBLE)
      |           + CAST(ct - cs AS DOUBLE) / CAST(nt - ns AS DOUBLE)) / 2.0))
      |   ELSE 0.0 END) / 2.0""".stripMargin

  /** q329: per-source JENSEN-SHANNON content drift — the
    * CONTENT-distribution member of the drift family: q237/q314 compare
    * a numeric column's CDF (KS), q214 a categorical contingency (chi²),
    * q322 ranks a feature (MI); this one measures how far each source's
    * TOKEN distribution sits from the rest of the corpus in the metric
    * retrieval/LM work actually uses — JSD(P‖rest), symmetric, bounded
    * [0, ln 2], finite even where supports differ (where KL blows up).
    * A source near 0 is stylistically interchangeable with the corpus; a
    * source near ln 2 ships a different language/template — the
    * mixture-weighting and dedup-policy input per source.
    *
    * Exactness: leave-one-out rest-rates come from exact BIGINT counts;
    * the only float is the per-CELL term ([[jsdTermSql]], shared
    * verbatim) on the source × vocabulary DOMAIN grid — absent cells
    * present with cs = 0 because a token the source lacks still
    * contributes q·ln(2·q/(p+q)) mass — folded in token order via the
    * order-pinned list pattern, so the double is shuffle-order-free.
    *
    * Scale shape: ONE corpus shuffle to (source, token) grain (partial
    * agg collapses map-side); totals/grid/fold all run on source- and
    * vocabulary-DOMAIN frames (sources × |V| cells) as audited broadcast
    * crosses. With a 100 TB vocabulary, the grid caps to the top-K
    * tokens by corpus frequency (the tail's mass bounds the JSD error) —
    * this fixture's 31-token vocabulary needs no cap.
    */
  private val q329 = GraftQuery(
    "q329_jsd_source_drift",
    s"""WITH tok AS (
       |  SELECT source, unnest(string_split_regex(lower(text), '\\s+')) AS t
       |  FROM documents),
       |st AS (SELECT source, t, CAST(count(*) AS BIGINT) AS cs
       |  FROM tok GROUP BY 1, 2),
       |tt AS (SELECT t, CAST(sum(cs) AS BIGINT) AS ct FROM st GROUP BY 1),
       |sn AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ns
       |  FROM st GROUP BY 1),
       |tn AS (SELECT CAST(sum(ct) AS BIGINT) AS nt FROM tt),
       |grid AS (
       |  SELECT s.source, v.t, s.ns, v.ct, tn.nt, coalesce(st.cs, 0) AS cs
       |  FROM sn s CROSS JOIN tt v CROSS JOIN tn
       |  LEFT JOIN st ON st.source = s.source AND st.t = v.t),
       |terms AS (SELECT source, ns, t, $jsdTermSql AS term FROM grid),
       |ag AS (
       |  SELECT source, any_value(ns) AS n_tokens,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(term ORDER BY t)), (x, y) -> x + y) AS jsd
       |  FROM terms GROUP BY source)
       |SELECT source, n_tokens,
       |  CAST(round(jsd * 1000000) AS BIGINT) AS jsd_vs_rest_e6
       |FROM ag ORDER BY source""".stripMargin) { (s, d) =>
    val tok = Tables.documents(s, d)
      .select(col("source"),
        explode(split(lower(col("text")), "\\s+")).as("t"))
    val st = tok.groupBy("source", "t").agg(count(lit(1)).as("cs"))
    val tt = st.groupBy("t").agg(sum("cs").as("ct"))
    val sn = st.groupBy("source").agg(sum("cs").as("ns"))
    val tn = tt.agg(sum("ct").as("nt"))
    val grid = sn.crossJoin(broadcast(tt)).crossJoin(broadcast(tn))
      .join(st.withColumnRenamed("source", "src2").withColumnRenamed("t", "t2"),
        col("source") === col("src2") && col("t") === col("t2"), "left")
      .select(col("source"), col("t"), col("ns"), col("ct"), col("nt"),
        coalesce(col("cs"), lit(0L)).as("cs"))
    grid.withColumn("term", expr(jsdTermSql))
      .groupBy("source")
      .agg(max(col("ns")).as("n_tokens"),
        sort_array(collect_list(struct(col("t"), col("term")))).as("ts"))
      .select(col("source"), col("n_tokens"),
        round(expr("aggregate(ts, 0D, (acc, s) -> acc + s.term)") * 1e6)
          .cast("long").as("jsd_vs_rest_e6"))
      .orderBy("source")
  }

  // ---- KMV bottom-k distinct sketch (q346) -----------------------------------

  /** q346: K-MINIMUM-VALUES distinct sketch — the THIRD mergeable
    * distinct-count estimator beside HLL q141 and count-min q139
    * (Bar-Yossef et al. 2002): per source, the k = 16 smallest distinct
    * word-hash values; the k-th minimum IS the estimator
    * (est = (k−1)·M / h_k over the hash space [0, M)) and — the property
    * HLL cannot offer — the bottom-k set doubles as a MERGEABLE UNIFORM
    * SAMPLE of the source's vocabulary (union two sketches, keep the k
    * smallest: both the estimate and the sample stay valid), which is
    * why production stats services keep KMV next to HLL. Exact
    * hash-distinct and word-distinct ride along: the signed error ppm
    * audits the estimator, and the hash/word gap measures the
    * collision mass of the 10⁹+7 hash space.
    *
    * Exactness: hashes, h_k, estimates are BIGINT ((k−1)·M ≈ 1.5·10¹⁰);
    * the error is sign-split toward-zero integer division (q226's
    * rule) — engine-exact.
    *
    * Scale shape: map-side hash, ONE distinct shuffle to (source, h)
    * grain, then a per-source window over VOCAB-grain partitions (types
    * plateau while tokens grow; the production form is a mergeable
    * bottom-k aggregate, and the per-source partitioned sort here is
    * its batch equivalent — never a global single-task window). Sources
    * with fewer than k distinct hashes drop in both engines alike.
    */
  private[graft] val KmvK = 16

  /** q346's sketch-state CTE chain, shared with the streaming twin q347
    * (whose online bottom-k buffer must land on the same k-th minimum).
    */
  private val kmvCtes: String =
    s"""toks AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
       |dw AS (SELECT DISTINCT source, w FROM toks WHERE w <> ''),
       |hashed AS (SELECT source, ${polyHashDuck("w")} AS h FROM dw),
       |dh AS (SELECT DISTINCT source, h FROM hashed),
       |rk AS (
       |  SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h) AS r
       |  FROM dh),
       |kv AS (SELECT source, CAST(h AS BIGINT) AS hk FROM rk
       |  WHERE r = $KmvK)""".stripMargin

  /** The streaming twin's gate: the k-th minimum and the estimate only —
    * the exact-distinct audit columns stay batch-side (they are the one
    * part of q346 that is NOT bounded-state online work).
    */
  private[graft] val kmvServeOracleSql: String =
    s"""WITH $kmvCtes
       |SELECT source, hk, ${(KmvK - 1) * 1000000007L} // hk AS kmv_est
       |FROM kv ORDER BY source""".stripMargin

  private val q346 = GraftQuery(
    "q346_kmv_distinct",
    s"""WITH $kmvCtes,
       |ex AS (
       |  SELECT source, CAST(count(DISTINCT h) AS BIGINT) AS hash_d,
       |    CAST(count(*) AS BIGINT) AS word_d
       |  FROM hashed GROUP BY 1)
       |SELECT kv.source, kv.hk,
       |  ${(KmvK - 1) * 1000000007L} // kv.hk AS kmv_est,
       |  ex.hash_d, ex.word_d,
       |  CAST(CASE WHEN ${(KmvK - 1) * 1000000007L} // kv.hk >= ex.hash_d
       |    THEN ((${(KmvK - 1) * 1000000007L} // kv.hk - ex.hash_d)
       |      * 1000000) // ex.hash_d
       |    ELSE -(((ex.hash_d - ${(KmvK - 1) * 1000000007L} // kv.hk)
       |      * 1000000) // ex.hash_d) END AS BIGINT) AS err_ppm
       |FROM kv JOIN ex ON ex.source = kv.source
       |ORDER BY kv.source""".stripMargin) { (s, d) =>
    val hashed = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .distinct()
      .select(col("source"), graft.functions.PolyHash.hash(col("w")).as("h"))
    val dh = hashed.distinct()
    val kv = dh
      .withColumn("r",
        row_number().over(Window.partitionBy("source").orderBy("h")))
      .where(col("r") === KmvK)
      .select(col("source"), col("h").as("hk"))
    val ex = hashed.groupBy("source")
      .agg(countDistinct(col("h")).as("hash_d"),
        count(lit(1)).as("word_d"))
    kv.join(ex, "source")
      .withColumn("kmv_est", expr(s"${(KmvK - 1) * 1000000007L} div hk"))
      .select(col("source"), col("hk"), col("kmv_est"), col("hash_d"),
        col("word_d"),
        expr("""CAST(CASE WHEN kmv_est >= hash_d
               |  THEN ((kmv_est - hash_d) * 1000000) div hash_d
               |  ELSE -(((hash_d - kmv_est) * 1000000) div hash_d)
               |  END AS BIGINT)""".stripMargin).as("err_ppm"))
      .orderBy("source")
  }

  /** q389 shard fan (stand-in executors) and local top-m width. */
  private val MtkShards = 4
  private val MtkLocalM = 20

  /** q389: MERGEABLE TOP-K WITH ERROR BOUNDS — what every distributed
    * top-k actually computes at 100 TB: each shard (here the
    * deterministic LCG doc buckets standing in for executors) ships only
    * its LOCAL top-[[MtkLocalM]] term counts plus its m-th count (the
    * ceiling any term it DIDN'T ship could have had there); the merge
    * sums shipped counts into an underestimate `est` and adds the
    * absent shards' ceilings into an upper bound `ub`, so every merged
    * term carries est ≤ exact ≤ ub BY CONSTRUCTION — the classic
    * local-top-m bound (the TPUT/three-phase family), which is what
    * lets a coordinator PROVE the global top-k without a second
    * corpus pass when bounds separate. The audit joins the exact global
    * counts back on the merged top-10 and pins both inequalities as a
    * `bound_ok` column, with the ub−exact slack in ppm — the number
    * that says how much m must grow before bounds certify the ranking.
    *
    * Scale shape: per shard one (term count + rank) aggregation shipping
    * O(m) rows; the merge is dims-sized (candidate union ≤ shards·m);
    * only the AUDIT's exact-count join touches the corpus again, and
    * only for 10 terms via a semi-join push.
    */
  private val q389 = GraftQuery(
    "q389_mergeable_topk",
    s"""WITH toks AS (
       |  SELECT (${Pipeline.lcgSql("doc_id", Pipeline.SplitA,
            Pipeline.SplitC)}) % $MtkShards AS shard,
       |    unnest(string_split_regex(lower(text), '\\s+')) AS term
       |  FROM documents),
       |sc AS (
       |  SELECT shard, term, CAST(count(*) AS BIGINT) AS cnt
       |  FROM toks GROUP BY 1, 2),
       |rk AS (
       |  SELECT shard, term, cnt, row_number() OVER (PARTITION BY shard
       |    ORDER BY cnt DESC, term) AS r
       |  FROM sc),
       |loc AS (SELECT shard, term, cnt FROM rk WHERE r <= $MtkLocalM),
       |ceilings AS (
       |  SELECT shard, CAST(coalesce(max(CASE WHEN r = $MtkLocalM
       |    THEN cnt END), 0) AS BIGINT) AS ceil_cnt
       |  FROM rk GROUP BY 1),
       |cand AS (SELECT DISTINCT term FROM loc),
       |est AS (
       |  SELECT c.term,
       |    CAST(sum(coalesce(l.cnt, 0)) AS BIGINT) AS est,
       |    CAST(sum(CASE WHEN l.cnt IS NULL THEN g.ceil_cnt ELSE 0 END)
       |      AS BIGINT) AS slack
       |  FROM cand c
       |  CROSS JOIN ceilings g
       |  LEFT JOIN loc l ON l.term = c.term AND l.shard = g.shard
       |  GROUP BY 1),
       |top AS (
       |  SELECT term, est, est + slack AS ub,
       |    row_number() OVER (ORDER BY est DESC, term) AS rnk
       |  FROM est),
       |exact AS (
       |  SELECT t.term, CAST(count(*) AS BIGINT) AS exact
       |  FROM toks t JOIN top ON top.term = t.term AND top.rnk <= 10
       |  GROUP BY 1)
       |SELECT t.rnk AS rank, t.term, t.est, e.exact, t.ub,
       |  (t.est <= e.exact AND e.exact <= t.ub) AS bound_ok,
       |  CAST((t.ub - e.exact) * 1000000 // e.exact AS BIGINT)
       |    AS slack_ppm
       |FROM top t JOIN exact e ON e.term = t.term
       |WHERE t.rnk <= 10 ORDER BY t.rnk""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select((Pipeline.lcg(col("doc_id"), Pipeline.SplitA, Pipeline.SplitC)
          % MtkShards).as("shard"),
        explode(split(lower(col("text")), "\\s+")).as("term"))
    val sc = toks.groupBy("shard", "term").agg(count(lit(1)).as("cnt"))
    val wS = Window.partitionBy("shard").orderBy(col("cnt").desc, col("term"))
    val rk = sc.withColumn("r", row_number().over(wS))
    val loc = rk.where(col("r") <= MtkLocalM).select("shard", "term", "cnt")
      .localCheckpoint()
    val ceilings = broadcast(rk.groupBy("shard")
      .agg(coalesce(max(when(col("r") === MtkLocalM, col("cnt"))), lit(0L))
        .as("ceil_cnt")))
    val est = loc.select("term").distinct()
      .crossJoin(ceilings)
      .join(loc.withColumnRenamed("cnt", "lcnt"), Seq("term", "shard"), "left")
      .groupBy("term")
      .agg(sum(coalesce(col("lcnt"), lit(0L))).as("est"),
        sum(when(col("lcnt").isNull, col("ceil_cnt")).otherwise(0L))
          .as("slack"))
    val top = est
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("est").desc, col("term"))))
      .where(col("rnk") <= 10)
      .select(col("rnk").as("rank"), col("term"), col("est"),
        (col("est") + col("slack")).as("ub"))
      .localCheckpoint()
    val exact = toks.join(broadcast(top.select("term")), Seq("term"),
        "left_semi")
      .groupBy("term").agg(count(lit(1)).as("exact"))
    top.join(exact, "term")
      .select(col("rank"), col("term"), col("est"), col("exact"), col("ub"),
        (col("est") <= col("exact") && col("exact") <= col("ub"))
          .as("bound_ok"),
        expr("((ub - exact) * 1000000) div exact").as("slack_ppm"))
      .orderBy("rank")
  }

  /** q390 posting-block widths swept (docs per block, doc_id-aligned). */
  private val BmaxBlocks = Seq(8, 16, 32, 64)

  /** q390: BLOCK-MAX SKIPPING AUDIT — the lexical tier's member of the
    * skipping family (q285 zone maps, q307 zone blooms, q293/q374
    * curve layouts): Block-Max WAND/MaxScore engines store, per posting
    * block, the maximum per-term score contribution, and skip any
    * doc-id block whose SUMMED query-term ceilings fall below the
    * running top-k threshold. This audit computes the best case those
    * engines converge to: with θ = the exact k-th score (the perfect
    * threshold), how many doc-id-aligned blocks of [[BmaxBlock]] docs —
    * and how many of the postings inside them — are provably skippable
    * for q90's query. The per-block upper bound is an order-pinned fold
    * of per-term block maxima (never a shuffle-order float sum), and
    * the θ comparison happens on floor-micro grains (the q27
    * discipline) so both engines cut identically. Swept over block
    * widths (the q283/q315 sweep discipline) because granularity IS the
    * design choice: MEASURED at sf0.01, 8-doc blocks skip 682,539 ppm
    * of blocks (665,838 ppm of postings), 16-doc 406,250, 32-doc
    * 125,000, 64-doc 0 — on this uniform synthetic text the score mass
    * is everywhere, so only fine blocks isolate skippable runs; real
    * corpora skew far harder. At 100 TB block-max skipping is the
    * difference between scoring a posting list and seeking past most
    * of it, and this curve is how the block width gets picked.
    */
  private val q390 = GraftQuery(
    "q390_blockmax_skipping", {
      val perSize = BmaxBlocks.map { b =>
        s"""bmax$b AS (
           |  SELECT doc_id // $b AS block, term, max(sc) AS bmax
           |  FROM scored GROUP BY 1, 2),
           |bub$b AS (
           |  SELECT block,
           |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |      list(bmax ORDER BY term)), (acc, x) -> acc + x) AS ub
           |  FROM bmax$b GROUP BY 1),
           |pc$b AS (
           |  SELECT doc_id // $b AS block,
           |    CAST(count(*) AS BIGINT) AS np
           |  FROM tf GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      val rows = BmaxBlocks.map { b =>
        s"""SELECT CAST($b AS BIGINT) AS block_docs,
           |  CAST(count(*) AS BIGINT) AS n_blocks,
           |  CAST(sum(CASE WHEN floor(u.ub * 1000000) < floor(t.theta * 1000000)
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_skippable,
           |  CAST(sum(CASE WHEN floor(u.ub * 1000000) < floor(t.theta * 1000000)
           |    THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS skip_ppm,
           |  CAST(sum(p.np) AS BIGINT) AS n_postings,
           |  CAST(sum(CASE WHEN floor(u.ub * 1000000) < floor(t.theta * 1000000)
           |    THEN p.np ELSE 0 END) AS BIGINT) AS skipped_postings,
           |  CAST(sum(CASE WHEN floor(u.ub * 1000000) < floor(t.theta * 1000000)
           |    THEN p.np ELSE 0 END) * 1000000 // sum(p.np) AS BIGINT)
           |    AS postings_skip_ppm
           |FROM bub$b u JOIN pc$b p ON p.block = u.block CROSS JOIN th t"""
          .stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH $bm25OracleCtes,
         |$perSize,
         |th AS (
         |  SELECT CASE WHEN (SELECT count(*) FROM folded) >= $Bm25TopK
         |    THEN (SELECT min(score) FROM (
         |      SELECT score FROM folded
         |      ORDER BY score DESC, doc_id LIMIT $Bm25TopK) t)
         |    ELSE NULL END AS theta)
         |$rows
         |ORDER BY block_docs""".stripMargin
    }) { (s, d) =>
    val (postings, dl, stats) = bm25Index(s, d)
    val ts = bm25TermScores(postings, dl, stats).localCheckpoint()
    val tf = postings.where(col("term").isin(Bm25Terms: _*))
    val scores = bm25FoldScores(ts)
    val th = broadcast(scores
      .orderBy(col("score").desc, col("doc_id")).limit(Bm25TopK)
      .agg(min(col("score")).as("kth"), count(lit(1)).as("kc"))
      .select(when(col("kc") === Bm25TopK, col("kth")).as("theta")))
    val skip = floor(col("ub") * lit(1000000.0))
      .lt(floor(col("theta") * lit(1000000.0)))
    BmaxBlocks.map { b =>
      val bub = ts.groupBy((col("doc_id") / b).cast("long").as("block"),
          col("term"))
        .agg(max(col("sc")).as("bmax"))
        .groupBy("block")
        .agg(sort_array(collect_list(struct(col("term"), col("bmax"))))
          .as("ms"))
        .select(col("block"),
          expr("aggregate(ms, 0D, (acc, m) -> acc + m.bmax)").as("ub"))
      val pc = tf.groupBy((col("doc_id") / b).cast("long").as("block"))
        .agg(count(lit(1)).as("np"))
      bub.join(pc, "block").crossJoin(th)
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(skip, 1L).otherwise(0L)).as("n_skippable"),
          sum(col("np")).as("n_postings"),
          sum(when(skip, col("np")).otherwise(0L)).as("skipped_postings"))
        .select(lit(b.toLong).as("block_docs"), col("n_blocks"),
          col("n_skippable"),
          expr("(n_skippable * 1000000) div n_blocks").as("skip_ppm"),
          col("n_postings"), col("skipped_postings"),
          expr("(skipped_postings * 1000000) div n_postings")
            .as("postings_skip_ppm"))
    }.reduce(_.unionByName(_)).orderBy("block_docs")
  }

  /** q398 shard fan and per-shard summary width. */
  private val MqShards = 8
  private val MqK = 32

  /** q398 quantile targets, integer percents. */
  private val MqTargets = Seq(25, 50, 75, 90, 99)

  /** q398: MERGEABLE QUANTILE SUMMARY — the quantile member of the
    * mergeable-sketch family (CM q139, HLL q141, KMV q346, top-k q389):
    * each shard ships only its [[MqK]] equi-spaced order statistics
    * (the j·n/k-th values, each carrying weight n_s — the uniform
    * per-shard summary every distributed percentile endpoint actually
    * ships), and the merge sorts the ≤ shards·k weighted points and
    * reads quantiles off the cumulative weight, never touching row
    * grain again. The guarantee is RANK error ≤ N/k + one rank per
    * shard's ceil — audited IN THE OUTPUT: each target's estimate is
    * re-ranked exactly against the corpus and the |true − target| rank
    * gap is emitted beside its bound with a bound_ok flag (ScaleSpec
    * asserts the flag on live data; the gate only proves both engines
    * agree). All integer arithmetic: values are per-row cents, weights
    * and thresholds exact counts, the merge order (value, shard, j) a
    * total order.
    *
    * Scale shape: one per-shard rank window (shard-partitioned), a
    * k-row selection join per shard, then everything is (shards·k)-row
    * metadata except the audit's one exact recount — which production
    * omits; it exists here to measure the bound, not to serve.
    */
  private val q398 = GraftQuery(
    "q398_mergeable_quantiles", {
      val targetRows = MqTargets.map { q =>
        s"""SELECT CAST($q AS BIGINT) AS pct,
           |  (SELECT min(v) FROM mcum
           |   WHERE cum >= ($q * (SELECT w FROM mtot) + 99) // 100)
           |    AS est_cents
           |FROM (VALUES (1)) one""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH vals AS (
         |  SELECT (${Pipeline.lcgSql("l_orderkey", Pipeline.SplitA,
              Pipeline.SplitC)}) % $MqShards AS shard,
         |    l_orderkey AS ok, l_linenumber AS ln,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v
         |  FROM lineitem),
         |rk AS (
         |  SELECT shard, v, row_number() OVER (PARTITION BY shard
         |    ORDER BY v, ok, ln) AS rn FROM vals),
         |ns AS (SELECT shard, CAST(count(*) AS BIGINT) AS n
         |  FROM vals GROUP BY 1),
         |pts AS (
         |  SELECT r.shard, t.j, r.v, s.n AS w
         |  FROM ns s
         |  CROSS JOIN range(1, ${MqK + 1}) t(j)
         |  JOIN rk r ON r.shard = s.shard
         |    AND r.rn = (t.j * s.n + $MqK - 1) // $MqK),
         |mcum AS (
         |  SELECT v, sum(w) OVER (ORDER BY v, shard, j
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM pts),
         |mtot AS (SELECT CAST($MqK AS BIGINT)
         |  * (SELECT CAST(count(*) AS BIGINT) FROM vals) AS w),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM vals),
         |ests AS ($targetRows)
         |SELECT e.pct, e.est_cents,
         |  (SELECT CAST(count(*) AS BIGINT) FROM vals
         |   WHERE v <= e.est_cents) AS true_rank,
         |  (e.pct * nn.n + 99) // 100 AS target_rank,
         |  abs((SELECT count(*) FROM vals WHERE v <= e.est_cents)
         |    - ((e.pct * nn.n + 99) // 100)) AS rank_err,
         |  nn.n // $MqK + $MqShards + 1 AS rank_bound,
         |  abs((SELECT count(*) FROM vals WHERE v <= e.est_cents)
         |    - ((e.pct * nn.n + 99) // 100))
         |    <= nn.n // $MqK + $MqShards + 1 AS bound_ok
         |FROM ests e CROSS JOIN nn
         |ORDER BY e.pct""".stripMargin
    }) { (s, d) =>
    // NOTE (r18 2nd pass, measured and kept as-is): a fanOut ahead of
    // this leaf (tried) added a corpus-sized exchange without removing
    // the serialized scan decode and measured WORSE (11.4 → 13.5 s fresh
    // sf1); the downstream cost is the 7-shard window, which is the
    // algorithm's shard count, not a partitioning choice.
    val vals = Tables.lineitem(s, d)
      .select((Pipeline.lcg(col("l_orderkey"), Pipeline.SplitA,
          Pipeline.SplitC) % MqShards).as("shard"),
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        round(col("l_extendedprice") * 100).cast("long").as("v"))
      .localCheckpoint()
    val wS = Window.partitionBy("shard")
      .orderBy(col("v"), col("ok"), col("ln"))
    val rk = vals.withColumn("rn", row_number().over(wS))
      .select("shard", "v", "rn")
    val ns = vals.groupBy("shard").agg(count(lit(1)).as("n"))
    val pts = broadcast(ns)
      .withColumn("j", explode(sequence(lit(1), lit(MqK))))
      .withColumn("rn", expr(s"(j * n + ${MqK - 1}) div $MqK"))
      .join(rk, Seq("shard", "rn"))
      .select(col("shard"), col("j").cast("long").as("j"), col("v"),
        col("n").as("w"))
      .localCheckpoint()
    val wCum = Window.orderBy(col("v"), col("shard"), col("j"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val mcum = pts.withColumn("cum", sum(col("w")).over(wCum))
      .select("v", "cum").localCheckpoint()
    val nTot = vals.count()
    val wTot = MqK.toLong * nTot
    val ests = MqTargets.map { q =>
      val thr = (q.toLong * wTot + 99L) / 100L
      mcum.where(col("cum") >= thr).agg(min(col("v")).as("est_cents"))
        .select(lit(q.toLong).as("pct"), col("est_cents"))
    }.reduce(_.unionByName(_)).localCheckpoint()
    val ranked = ests.join(vals.select("v"),
        col("v") <= col("est_cents"), "left")
      .groupBy("pct", "est_cents")
      .agg(count(col("v")).as("true_rank"))
    ranked
      .withColumn("target_rank", expr(s"(pct * ${nTot}L + 99) div 100"))
      .withColumn("rank_err",
        abs(col("true_rank") - col("target_rank")))
      .withColumn("rank_bound", lit(nTot / MqK + MqShards + 1))
      .withColumn("bound_ok", col("rank_err") <= col("rank_bound"))
      .orderBy("pct")
  }

  val queries: Seq[GraftQuery] =
    Seq(q65, q66, q67, q68, q77, q89, q90, q95, q112, q113, q122,
      q139, q140, q141, q143, q144, q150, q162, q169, q171, q214, q216,
      q225, q246, q247, q259, q260, q282, q286, q289, q292, q295, q311,
      q313, q314, q329, q346, q389, q390, q398)
}
