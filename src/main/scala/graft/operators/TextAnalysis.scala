package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftQuery, Tables}

/** Text-analysis operators for the training-data pipeline surface:
  * language ID (stopword heuristic), quality scoring, token counting
  * (whitespace + BPE-ish regex), and document fingerprinting (polynomial
  * rolling hash). All are pure codegen'd column expressions — no UDFs —
  * so they pipeline inside a single WholeStageCodegen scan of `documents`.
  */
object TextAnalysis {

  private val stopEn = Seq("the", "a", "an", "of", "and", "is")
  private val stopDe = Seq("der", "die", "das", "und", "ist", "ein")
  private val stopFr = Seq("le", "la", "les", "et", "est", "un")
  private val stopEs = Seq("el", "los", "las", "y", "es", "un")

  private def inList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("(", ", ", ")")

  /** q26: heuristic language ID — stopword-hit counts per language over
    * whitespace tokens, argmax with a fixed precedence for ties.
    */
  private val q26 = GraftQuery(
    "q26_lang_id",
    s"""SELECT doc_id, lang AS labeled_lang, en_hits, de_hits, fr_hits, es_hits,
      |  CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
      |       WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
      |       WHEN fr_hits >= es_hits THEN 'fr' ELSE 'es' END AS predicted_lang
      |FROM (
      |  SELECT doc_id, lang,
      |    len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x IN ${inList(stopEn)})) AS en_hits,
      |    len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x IN ${inList(stopDe)})) AS de_hits,
      |    len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x IN ${inList(stopFr)})) AS fr_hits,
      |    len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x IN ${inList(stopEs)})) AS es_hits
      |  FROM documents) t
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    // tokenize ONCE: the 4 stopword filters reference the shared `toks`
    // alias. split() is non-cheap and multi-referenced, so CollapseProject
    // keeps the producer projection separate instead of inlining 4 copies
    // (TextAnalysisPlanSpec pins this — one split per row, not four).
    def hits(xs: Seq[String], name: String) =
      expr(s"size(filter(toks, x -> x IN ${inList(xs)}))").as(name)
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        split(lower(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"), col("labeled_lang"),
        hits(stopEn, "en_hits"), hits(stopDe, "de_hits"),
        hits(stopFr, "fr_hits"), hits(stopEs, "es_hits"))
      .withColumn("predicted_lang",
        when(col("en_hits") >= col("de_hits") && col("en_hits") >= col("fr_hits") &&
          col("en_hits") >= col("es_hits"), "en")
          .when(col("de_hits") >= col("fr_hits") && col("de_hits") >= col("es_hits"), "de")
          .when(col("fr_hits") >= col("es_hits"), "fr")
          .otherwise("es"))
      .orderBy("doc_id")
  }

  /** q27: quality scoring — length/stopword/token-shape ratios folded into
    * a bounded [0,1] score.
    *
    * Derived ratios are emitted as floor(x·1e6) micro-unit integers, not
    * round(x, 6): nice fractions land EXACTLY on the round-half boundary
    * (e.g. quality 0.2534375), where Spark (HALF_UP on the shortest
    * decimal repr) and DuckDB (rounding the binary double) legitimately
    * disagree. floor of bit-identical doubles is engine-independent.
    */
  /** The quality-score base frame shared by q27 and the selection
    * operators (Similarity q116 survivor pick, Pipeline q117 token
    * budget): one tokenization (lowercasing never changes whitespace, so
    * size(toks) equals the oracle's len over the un-lowered text), the
    * raw ratio columns, and per-doc token counts.
    */
  private[operators] def qualityBase(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        split(lower(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"), col("text"),
        length(col("text")).as("n_chars2"),
        size(col("toks")).as("n_tokens"),
        expr(s"size(filter(toks, x -> x IN ${inList(stopEn)}))").as("stop_hits"))
      .withColumn("stop_ratio", col("stop_hits") * lit(1.0) / col("n_tokens"))
      .withColumn("avg_token_len",
        length(regexp_replace(col("text"), " ", "")) * lit(1.0) / col("n_tokens"))

  /** The bounded [0,1] quality score in floored micro-units, over
    * [[qualityBase]]'s ratio columns — ONE definition shared by every
    * consumer (see q27 for why floor beats round at the half boundary).
    */
  private[operators] def qualityMicroCol: org.apache.spark.sql.Column =
    floor((least(lit(1.0), col("n_tokens") / 200.0) * 0.4 + col("stop_ratio") * 0.3
      + least(lit(1.0), col("avg_token_len") / 8.0) * 0.3) * 1000000)
      .cast("long")

  /** Oracle twin of [[qualityBase]]+[[qualityMicroCol]] as a `qual`
    * CTE: (doc_id, quality_micro, n_tokens), composed by the q116/q117
    * oracles.
    */
  private[operators] val qualityOracleCte: String =
    s"""qual AS (
       |  SELECT doc_id,
       |    CAST(floor((least(CAST(1 AS DOUBLE), n_tokens / CAST(200 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
       |          + stop_ratio * CAST(0.3 AS DOUBLE)
       |          + least(CAST(1 AS DOUBLE), avg_token_len / CAST(8 AS DOUBLE)) * CAST(0.3 AS DOUBLE)) * 1000000) AS BIGINT) AS quality_micro,
       |    CAST(n_tokens AS BIGINT) AS n_tokens
       |  FROM (
       |    SELECT doc_id,
       |      len(string_split_regex(text, '\\s+')) AS n_tokens,
       |      CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
       |          x -> x IN ${inList(stopEn)})) AS DOUBLE)
       |        / len(string_split_regex(text, '\\s+')) AS stop_ratio,
       |      CAST(length(replace(text, ' ', '')) AS DOUBLE)
       |        / len(string_split_regex(text, '\\s+')) AS avg_token_len
       |    FROM documents) t)""".stripMargin

  private val q27 = GraftQuery(
    "q27_quality_score",
    s"""SELECT doc_id, n_tokens, n_chars2,
      |  CAST(floor(stop_ratio * 1000000) AS BIGINT) AS stop_ratio_micro,
      |  CAST(floor(avg_token_len * 1000000) AS BIGINT) AS avg_token_len_micro,
      |  CAST(floor((least(CAST(1 AS DOUBLE), n_tokens / CAST(200 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
      |        + stop_ratio * CAST(0.3 AS DOUBLE)
      |        + least(CAST(1 AS DOUBLE), avg_token_len / CAST(8 AS DOUBLE)) * CAST(0.3 AS DOUBLE)) * 1000000) AS BIGINT) AS quality_micro
      |FROM (
      |  SELECT doc_id, length(text) AS n_chars2,
      |    len(string_split_regex(text, '\\s+')) AS n_tokens,
      |    CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
      |        x -> x IN ${inList(stopEn)})) AS DOUBLE)
      |      / len(string_split_regex(text, '\\s+')) AS stop_ratio,
      |    CAST(length(replace(text, ' ', '')) AS DOUBLE)
      |      / len(string_split_regex(text, '\\s+')) AS avg_token_len
      |  FROM documents) t
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    qualityBase(s, d)
      .select(col("doc_id"), col("n_tokens"), col("n_chars2"),
        floor(col("stop_ratio") * 1000000).cast("long").as("stop_ratio_micro"),
        floor(col("avg_token_len") * 1000000).cast("long").as("avg_token_len_micro"),
        qualityMicroCol.as("quality_micro"))
      .orderBy("doc_id")
  }

  /** q28: token counting — whitespace tokens and a BPE-ish regex
    * tokenization (letter runs / digit runs / single punctuation).
    */
  private val q28 = GraftQuery(
    "q28_token_count",
    """SELECT doc_id,
      |  len(string_split_regex(text, '\s+')) AS ws_tokens,
      |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe_tokens
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), "\\s+")).as("ws_tokens"),
        size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)"))
          .as("bpe_tokens"))
      .orderBy("doc_id")
  }

  /** q29: document fingerprint — order-sensitive polynomial rolling hash
    * over the raw characters, mod 1e9+7 (deterministic, engine-agnostic;
    * reference capability A13/A14-adjacent content hashing).
    */
  private val q29 = GraftQuery(
    "q29_fingerprint",
    s"""SELECT doc_id,
      |  ${graft.functions.PolyHash.oracleSql("text")} AS fingerprint
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    // Codegen'd kernel (graft.functions.PolyHash) — same value as the SQL
    // aggregate(sequence(...)) form without materializing a per-character
    // int array per document.
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.PolyHash.hash(col("text")).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** q69: repetition signals (Gopher-style corpus-quality heuristics) —
    * per document, the fraction of tokens taken by the single most
    * frequent unigram and the fraction of bigram occurrences that are
    * repeats. High values flag machine-generated / boilerplate text for
    * removal before training. Ratios are emitted as floor micro-units via
    * integer division (`max_c * 1e6 div n_tok`): k/n ratios of small
    * integers land exactly on round-half boundaries where the engines'
    * rounding disagrees, while integer division is engine-independent.
    *
    * Scale shape: two explode→(doc_id, gram) hash aggregations and a
    * doc_id join — partial aggregation absorbs the per-doc repetition
    * before the shuffle, so shuffle volume is distinct grams, not tokens.
    */
  private val q69 = GraftQuery(
    "q69_repetition_stats",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
      |  FROM documents),
      |uni AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
      |ustat AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS max_c,
      |                 CAST(sum(c) AS BIGINT) AS n_tok FROM uni GROUP BY 1),
      |tl AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts
      |       FROM documents),
      |big AS (SELECT doc_id, unnest(CASE WHEN len(ts) >= 2
      |          THEN list_transform(range(1, len(ts)), i -> ts[i]||' '||ts[i+1])
      |          ELSE [] END) AS bg FROM tl),
      |bgc AS (SELECT doc_id, bg, count(*) AS c FROM big GROUP BY 1, 2),
      |bstat AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bg,
      |                 CAST(count(*) AS BIGINT) AS n_bg_distinct FROM bgc GROUP BY 1)
      |SELECT d.doc_id AS doc_id, coalesce(n_tok, 0) AS n_tok,
      |  max_c * 1000000 // n_tok AS top_unigram_micro,
      |  (n_bg - n_bg_distinct) * 1000000 // n_bg AS dup_bigram_micro
      |FROM documents d
      |LEFT JOIN ustat u ON d.doc_id = u.doc_id
      |LEFT JOIN bstat b ON d.doc_id = b.doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("ts"))
    val uni = toks
      .select(col("doc_id"), explode(col("ts")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max("c").as("max_c"), sum("c").as("n_tok"))
    val big = toks
      .select(col("doc_id"), explode(when(size(col("ts")) >= 2,
        expr("transform(sequence(1, size(ts) - 1), " +
          "i -> concat_ws(' ', element_at(ts, i), element_at(ts, i + 1)))"))
        .otherwise(expr("CAST(array() AS array<string>)"))).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bg"), count(lit(1)).as("n_bg_distinct"))
    // LEFT joins from the corpus itself: a document with < 2 tokens has
    // no bigram rows, and a NULL-text document no token rows at all —
    // an inner join would silently drop exactly the degenerate documents
    // a quality audit most needs to see. They surface with n_tok = 0 /
    // NULL ratios instead (null inputs propagate through `div` without
    // tripping ANSI divide-by-zero — n_tok/n_bg are never 0 when present).
    Tables.documents(s, d).select(col("doc_id"))
      .join(uni, Seq("doc_id"), "left")
      .join(big, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        expr("max_c * 1000000L div n_tok").as("top_unigram_micro"),
        expr("(n_bg - n_bg_distinct) * 1000000L div n_bg").as("dup_bigram_micro"))
      .orderBy("doc_id")
  }

  /** Registered q70's rare-token floor: corpus tokens with count below
    * this score as if their count were exactly this (shared with the
    * oracle SQL). At 100 TB the floor is the knob that bounds the vocab.
    */
  private[operators] val LmMinCount = 2L

  /** q70's operator body, parameterized for tests: mean token
    * log-probability per document under the corpus's own unigram
    * distribution, with a rare-token FLOOR — tokens whose corpus count is
    * below `minCount` score as if their count were `minCount`.
    *
    * The floor is what makes the vocab join scale-safe: a raw web-scale
    * vocabulary is 1e8-1e9 entries (Heaps' law counts typos, numbers, and
    * URLs), past any broadcast threshold — but the FLOORED vocab is
    * bounded by totalTokens/minCount (every kept entry owns ≥ minCount
    * occurrences), and rare tokens resolve through the left join's miss
    * path to the smoothed floor probability, which barely moves the
    * score (rare tokens are precisely where a count-based LM estimate is
    * noise anyway). No join-strategy hint: AQE broadcasts the floored
    * vocab while it fits and falls back to a shuffle join when it
    * doesn't — both plans are correct, so neither is pinned.
    *
    * Determinism: scoring aggregates per-(doc, tok) COUNTS first (the
    * join probes distinct tokens per doc, not token instances), then
    * folds c_dt·ln(p) in sorted-token order — `sort_array` here,
    * `list(... ORDER BY tok)` in the oracle — so the per-doc sum is
    * bit-identical across engines AND across shuffle orders; the final
    * round(…, 6) is cosmetic rather than flake-masking.
    */
  private[operators] def lmScore(docs: org.apache.spark.sql.DataFrame,
      minCount: Long): org.apache.spark.sql.DataFrame = {
    val dtok = docs
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c_dt"))
    val kept = dtok.groupBy("tok").agg(sum("c_dt").as("c"))
      .where(col("c") >= minCount)
    val tot = dtok.agg(sum("c_dt").as("n"))
    dtok.join(kept, Seq("tok"), "left")
      .crossJoin(broadcast(tot)) // a 1-row aggregate: bounded at any scale
      .withColumn("term", col("c_dt") *
        log(coalesce(col("c"), lit(minCount)).cast("double") / col("n").cast("double")))
      .groupBy("doc_id")
      .agg(sum("c_dt").as("n_tok"),
        sort_array(collect_list(struct(col("tok"), col("term")))).as("ts"))
      .select(col("doc_id"), col("n_tok"),
        round(expr("aggregate(ts, 0D, (acc, s) -> acc + s.term)")
          / col("n_tok").cast("double"), 6).as("lm_score"))
      .orderBy("doc_id")
  }

  /** q70: corpus unigram-LM quality score (the cheap stand-in for a
    * perplexity filter: documents full of corpus-rare tokens score low).
    * See [[lmScore]] for the rare-token floor and the order-pinned fold.
    */
  private val q70 = GraftQuery(
    "q70_lm_score",
    s"""WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
      |  FROM documents),
      |dtok AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c_dt
      |         FROM toks GROUP BY 1, 2),
      |kept AS (SELECT tok, CAST(sum(c_dt) AS BIGINT) AS c FROM dtok
      |         GROUP BY 1 HAVING CAST(sum(c_dt) AS BIGINT) >= $LmMinCount),
      |tot AS (SELECT CAST(sum(c_dt) AS BIGINT) AS n FROM dtok),
      |scored AS (
      |  SELECT d.doc_id AS doc_id, d.tok AS tok, d.c_dt AS c_dt,
      |    d.c_dt * ln(CAST(coalesce(k.c, $LmMinCount) AS DOUBLE) / CAST(tot.n AS DOUBLE)) AS term
      |  FROM dtok d LEFT JOIN kept k ON d.tok = k.tok CROSS JOIN tot)
      |SELECT doc_id, CAST(sum(c_dt) AS BIGINT) AS n_tok,
      |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE), list(term ORDER BY tok)),
      |      (x, y) -> x + y) / CAST(sum(c_dt) AS DOUBLE), 6) AS lm_score
      |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    lmScore(Tables.documents(s, d), LmMinCount)
  }

  /** Denylist scrub: redact banned terms (boilerplate, watermarks, terms
    * a data policy excludes) as a pure map-side `regexp_replace` — the
    * standard content-scrub step of a corpus-cleaning pipeline. Word
    * boundaries (`\b`, same semantics in Java regex and RE2) prevent
    * partial-token hits. At 100 TB this is a narrow transform fused into
    * the scan — no shuffle, no UDF.
    */
  private val ScrubPattern = "\\b(customer|supplier|order)\\b"

  private[operators] def denylistScrub(text: org.apache.spark.sql.Column) =
    regexp_replace(text, ScrubPattern, "▮")

  /** q100: denylist-scrub AUDIT — per-source impact manifest of the scrub
    * (docs touched, match count, characters removed), the artifact a
    * pipeline owner reviews before committing a redaction pass. Counting
    * uses `regexp_count` / `len(regexp_extract_all(...))` and char deltas
    * from a delete-form `regexp_replace` (DuckDB needs the 'g' flag to
    * match Spark's replace-all semantics). Everything is integer
    * arithmetic over ASCII lengths, so the engines agree exactly.
    */
  private val q100 = GraftQuery(
    "q100_denylist_scrub",
    s"""WITH hits AS (
      |  SELECT source,
      |    len(regexp_extract_all(text, '\\b(customer|supplier|order)\\b')) AS n_hits,
      |    length(text) - length(regexp_replace(text, '\\b(customer|supplier|order)\\b', '', 'g')) AS n_chars
      |  FROM documents)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(*) FILTER (WHERE n_hits > 0) AS BIGINT) AS docs_hit,
      |  CAST(sum(n_hits) AS BIGINT) AS total_hits,
      |  CAST(sum(n_chars) AS BIGINT) AS chars_removed
      |FROM hits GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("source"),
        regexp_count(col("text"), lit(ScrubPattern)).as("n_hits"),
        (length(col("text")) -
          length(regexp_replace(col("text"), ScrubPattern, ""))).as("n_chars"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("n_hits") > 0, 1)).as("docs_hit"),
        sum(col("n_hits")).cast("long").as("total_hits"),
        sum(col("n_chars")).cast("long").as("chars_removed"))
      .orderBy("source")
  }

  /** Materialize the scrubbed corpus — the terminal stage q100 audits:
    * every denylisted term replaced by the mask, written partitioned by
    * (lang, source) like [[Pipeline.writeCleanCorpus]] so downstream
    * consumers prune partitions at the scan. Map-only end to end: a
    * narrow projection into a partitioned write, no shuffle of the
    * corpus (PipelineWriteSpec asserts no banned term survives and the
    * char delta matches q100's audit).
    */
  def writeScrubbedCorpus(s: org.apache.spark.sql.SparkSession, d: String,
      outDir: String): Unit =
    Tables.documents(s, d)
      .withColumn("text", denylistScrub(col("text")))
      .write.mode("overwrite")
      .partitionBy("lang", "source").parquet(outDir)

  /** q133: the BPE vocabulary-induction kernel — corpus-weighted counts
    * of adjacent character pairs, the quantity one round of byte-pair
    * encoding merges on. The scale shape is the whole point: the corpus
    * is reduced FIRST to (distinct word, frequency) by a partial+final
    * hash aggregate — the only corpus-sized shuffle — and pair explosion
    * runs over the distinct VOCABULARY (bounded by type count, not token
    * count; English web text plateaus near 10^6 types while tokens grow
    * with corpus size), carrying word frequency as the weight. Exploding
    * pairs straight off the token stream would multiply the corpus ~5×
    * through a Generate before aggregating; this shape touches it once.
    * Top-50 via TakeOrderedAndProject on the (count desc, pair) total
    * order — strict because pair is the group key.
    */
  private val q133 = GraftQuery(
    "q133_bpe_pairs",
    """WITH words AS (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |wf AS (
      |  SELECT w, count(*) AS f FROM words WHERE length(w) > 1 GROUP BY 1),
      |pairs AS (
      |  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, f
      |  FROM (SELECT w, f, unnest(range(1, length(w))) AS i FROM wf))
      |SELECT pair, CAST(sum(f) AS BIGINT) AS pair_count
      |FROM pairs GROUP BY 1
      |ORDER BY pair_count DESC, pair LIMIT 50""".stripMargin) { (s, d) =>
    val wf = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 1)
      .groupBy("w").agg(count(lit(1)).as("f"))
    wf.select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"), col("f"))
      .groupBy("pair").agg(sum(col("f")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(50)
  }

  /** One BPE round's oracle CTEs: pair counts over the `||`-delimited
    * symbol strings of w{r-1}, the deterministic top pair (count desc,
    * then pair), the merged representation, and the post-merge token
    * count. The double-delimiter encoding (`|s|` per symbol) makes the
    * merge a plain left-to-right non-overlapping string `replace` with
    * identical semantics in both engines — each symbol carries its own
    * boundaries, so consecutive merge sites never share a delimiter and
    * greedy replacement matches true BPE merging (aaaa → [aa][aa], not
    * [aa]a a).
    */
  private def bpeRoundCtes(r: Int): String = {
    val prev = s"w${r - 1}"
    s"""p$r AS (
       |  SELECT syms[CAST(i AS INTEGER)] AS s1,
       |    syms[CAST(i AS INTEGER) + 1] AS s2,
       |    CAST(sum(f) AS BIGINT) AS cnt
       |  FROM (
       |    SELECT f, syms, unnest(range(1, len(syms))) AS i
       |    FROM (SELECT f,
       |      string_split(substr(repr, 2, length(repr) - 2), '||') AS syms
       |      FROM $prev))
       |  GROUP BY 1, 2),
       |t$r AS (SELECT s1, s2, cnt FROM p$r
       |  ORDER BY cnt DESC, s1, s2 LIMIT 1),
       |w$r AS (
       |  SELECT replace(repr,
       |    '|' || (SELECT s1 FROM t$r) || '||' || (SELECT s2 FROM t$r) || '|',
       |    '|' || (SELECT s1 FROM t$r) || (SELECT s2 FROM t$r) || '|') AS repr,
       |    f
       |  FROM $prev),
       |n$r AS (
       |  SELECT CAST(sum(f * len(string_split(
       |      substr(repr, 2, length(repr) - 2), '||'))) AS BIGINT) AS n_tokens
       |  FROM w$r)""".stripMargin
  }

  /** q252: BPE merge APPLICATION — the iterative loop q133's pair counts
    * feed: three full merge rounds (count adjacent symbol pairs → elect
    * the top pair under the (count desc, pair) total order → merge every
    * left-to-right non-overlapping occurrence corpus-wide → recount),
    * emitting per round the merged pair, its pre-merge count, and the
    * post-merge corpus token count (which must strictly shrink — the
    * compression BPE exists to deliver). The scale shape is the one
    * production BPE trainers actually use: the corpus is reduced ONCE to
    * the (word, freq) vocabulary table (q133's aggregate-first
    * discipline — the only corpus-sized shuffle), and every round after
    * that is a map + aggregate over VOCAB grain plus a 1-row driver
    * scalar (the elected pair — the same bounded-collect contract as the
    * k-means centroid loop). Symbols ride a `|s|` double-delimited
    * string so the merge is a plain `replace` with byte-identical
    * left-to-right semantics in both engines (see [[bpeRoundCtes]]).
    */
  private val q252 = GraftQuery(
    "q252_bpe_merge_rounds",
    s"""WITH words AS (
       |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |wf AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM words
       |  WHERE length(w) > 1 GROUP BY 1),
       |w0 AS (
       |  SELECT list_reduce(list_transform(range(1, length(w) + 1),
       |      i -> '|' || w[i] || '|'), (a, b) -> a || b) AS repr, f
       |  FROM wf),
       |${bpeRoundCtes(1)},
       |${bpeRoundCtes(2)},
       |${bpeRoundCtes(3)}
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS round, s1, s2, cnt,
       |    (SELECT n_tokens FROM n1) AS n_tokens_after FROM t1
       |  UNION ALL SELECT 2, s1, s2, cnt,
       |    (SELECT n_tokens FROM n2) FROM t2
       |  UNION ALL SELECT 3, s1, s2, cnt,
       |    (SELECT n_tokens FROM n3) FROM t3)
       |ORDER BY round""".stripMargin) { (s, d) =>
    val wf = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 1)
      .groupBy("w").agg(count(lit(1)).as("f"))
    var repr = wf.select(expr(
      """aggregate(transform(sequence(1, length(w)),
        |  i -> concat('|', substring(w, i, 1), '|')),
        |  '', (a, b) -> concat(a, b))""".stripMargin).as("repr"), col("f"))
    val symsCol = split(expr("substring(repr, 2, length(repr) - 2)"), "\\|\\|")
    val rows = (1 to 3).map { r =>
      val top = repr
        .select(col("f"), symsCol.as("syms"))
        .select(col("f"), explode(expr(
          """transform(sequence(1, size(syms) - 1),
            |  i -> struct(element_at(syms, i) AS s1,
            |              element_at(syms, i + 1) AS s2))""".stripMargin))
          .as("p"))
        .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
        .agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("s1"), col("s2"))
        .limit(1).collect()(0)
      val (s1v, s2v, cnt) =
        (top.getString(0), top.getString(1), top.getLong(2))
      // elected symbols are document text and may contain ANY character
      // (quotes, backslashes) — they ride `lit()` Columns, never spliced
      // into SQL text, so no elected pair can malform the expression
      repr = repr.select(
        org.apache.spark.sql.functions.replace(col("repr"),
          lit(s"|$s1v||$s2v|"), lit(s"|$s1v$s2v|")).as("repr"),
        col("f"))
      val nTokens = repr
        .select(sum(col("f") * size(symsCol)).as("n"))
        .collect()(0).getLong(0)
      (r.toLong, s1v, s2v, cnt, nTokens)
    }
    s.createDataFrame(rows)
      .toDF("round", "s1", "s2", "cnt", "n_tokens_after")
      .orderBy("round")
  }

  /** q134: vocabulary coverage audit — per-source OOV token rate against
    * the corpus top-K vocabulary, the go/no-go metric for a fixed
    * tokenizer vocabulary over a new source mix. Same aggregate-first
    * discipline as q133: one corpus-sized shuffle to (word, freq), a
    * driver-bounded top-K (K=16 here; K=vocab size in production — still
    * broadcast-sized at 10^5–10^6 entries), then the per-source scan
    * joins the BROADCAST vocabulary with a null-marker left join — the
    * corpus is never shuffled again. The boundary is tie-free by the
    * (freq desc, word) total order, so both engines cut the same K.
    */
  private val q134 = GraftQuery(
    "q134_vocab_coverage",
    """WITH toks AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
      |tf AS (
      |  SELECT w, count(*) AS f FROM toks WHERE w <> '' GROUP BY 1),
      |vocab AS (SELECT w FROM tf ORDER BY f DESC, w LIMIT 16)
      |SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(count(*) FILTER (WHERE t.w NOT IN (SELECT w FROM vocab))
      |    AS BIGINT) AS oov_tokens,
      |  round(count(*) FILTER (WHERE t.w NOT IN (SELECT w FROM vocab))
      |    * 1.0 / count(*), 6) AS oov_rate
      |FROM toks t WHERE t.w <> '' GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
    val vocab = toks.groupBy("w").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("w")).limit(16)
      .select(col("w").as("vw"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), col("w") === col("vw"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("oov_tokens"))
      .select(col("source"), col("n_tokens"), col("oov_tokens"),
        round(col("oov_tokens") * lit(1.0) / col("n_tokens"), 6).as("oov_rate"))
      .orderBy("source")
  }

  /** q160: bigram-LM quality scoring — the CCNet/KenLM idea with the
    * corpus as its own model: an add-one-smoothed bigram language model
    * is fit over the whole corpus, and every document is scored by its
    * average per-bigram log-probability (and perplexity). Documents
    * whose token transitions are unusual for the corpus — gibberish,
    * boilerplate, wrong-language spans — surface as high-perplexity
    * outliers; production pipelines cut on exactly this number (CCNet's
    * Wikipedia-perplexity buckets). Design for 100 TB: the corpus pays
    * ONE partial+final shuffle down to bigram-model grain (distinct
    * bigrams — the type/token distinction: types plateau while tokens
    * grow); the conditioning-context table and vocabulary size derive
    * from that model table, never from a second corpus pass; scoring
    * joins the doc bigrams against the model co-partitioned on the
    * bigram key with the context table broadcast (vocab-sized, ~10⁶ at
    * web scale); and the per-document mean is an ORDER-PINNED fold over
    * the (a, b, lp)-sorted score list — never a shuffle-order float sum
    * — so the gate is exact to the rounded digits. Smoothing:
    * P(b|a) = (c(a,b)+1) / (c(a)+V), with c(a) = Σ_y c(a,y) (contexts
    * with successors) and V = |distinct contexts|, both read off the
    * model table.
    */
  private val q160 = GraftQuery(
    "q160_bigram_lm_score",
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, unnest(list_transform(range(2, len(t) + 1),
      |    i -> struct_pack(a := t[i-1], b := t[i]))) AS p
      |  FROM toks WHERE len(t) >= 2),
      |dbg AS (SELECT doc_id, p.a AS a, p.b AS b FROM bg),
      |bigc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c12 FROM dbg GROUP BY 1, 2),
      |firsts AS (SELECT a, CAST(sum(c12) AS BIGINT) AS c1 FROM bigc GROUP BY 1),
      |vsz AS (SELECT CAST(count(*) AS BIGINT) AS v FROM firsts),
      |scored AS (
      |  SELECT g.doc_id, g.a, g.b,
      |    ln((CAST(c.c12 AS DOUBLE) + CAST(1 AS DOUBLE))
      |       / (CAST(f.c1 AS DOUBLE) + CAST(v.v AS DOUBLE))) AS lp
      |  FROM dbg g JOIN bigc c ON g.a = c.a AND g.b = c.b
      |  JOIN firsts f ON g.a = f.a CROSS JOIN vsz v),
      |folded AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(lp ORDER BY a, b, lp)),
      |      (acc, x) -> acc + x) AS s
      |  FROM scored GROUP BY 1)
      |SELECT doc_id, n_bigrams, round(s / n_bigrams, 6) AS avg_logprob,
      |  round(exp(-s / n_bigrams), 4) AS ppl
      |FROM folded ORDER BY doc_id""".stripMargin) { (s, d) =>
    // r18 (2nd pass): fan the documents out before tokenize+explode — the
    // bigram expansion otherwise runs on the one scan task the
    // single-row-group corpus table provides (Similarity.fanOut scaladoc).
    val dbg = Similarity.fanOut(
        Tables.documents(s, d).select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        expr("filter(split(lower(text), '\\\\s+'), x -> x != '')").as("t"))
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS a, t[i] AS b))"))
        .as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
    val bigc = dbg.groupBy("a", "b").agg(count(lit(1)).as("c12"))
    val firsts = bigc.groupBy("a").agg(sum(col("c12")).as("c1"))
    val vsz = firsts.agg(count(lit(1)).as("v"))
    val sum_lp = expr("aggregate(lps, 0D, (acc, x) -> acc + x.lp)")
    // broadcast the MODEL side explicitly (r18 2nd pass): the bigram
    // model is types-grain (types plateau while tokens grow) while the
    // left side is the token-grain explode — AQE, estimating from the
    // pre-explode stats, picked BuildLeft and broadcast the 328 MB
    // exploded stream while probing the 1 MB model table on one
    // coalesced task (measured: a 4.7 s single-task stage writing the
    // 54 MB group exchange). At corpus scale where the model outgrows a
    // broadcast, drop the hint and this reverts to the co-partitioned
    // shuffle join the scaladoc describes.
    dbg.join(broadcast(bigc), Seq("a", "b"))
      .join(broadcast(firsts), Seq("a"))
      .crossJoin(broadcast(vsz))
      .withColumn("lp",
        log((col("c12").cast("double") + lit(1.0))
          / (col("c1").cast("double") + col("v").cast("double"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sort_array(collect_list(struct(col("a"), col("b"), col("lp")))).as("lps"))
      .select(col("doc_id"), col("n_bigrams"),
        round(sum_lp / col("n_bigrams"), 6).as("avg_logprob"),
        round(exp(-(sum_lp / col("n_bigrams"))), 4).as("ppl"))
      .orderBy("doc_id")
  }

  /** q174: EXACT per-group quartiles by rank-crossing — the
    * generalization of q171's weighted-median trick to arbitrary
    * quantiles, unweighted: with rk = row_number and n = group size, the
    * p-quantile (p = k/4) is the single row where `4·rk ≥ k·n ∧
    * 4·(rk−1) < k·n` — an all-integer selection, so exact quartiles come
    * out of ONE per-group sort-window pass + a partial-aggregate pick
    * (the max(CASE) collapses the one non-null crossing row per
    * quartile), with none of the approx-percentile sketch's error bars
    * (q54) and none of a per-quantile re-sort. Scale budget: one shuffle
    * on the group key + per-group sort, identical to top-k-per-group.
    */
  private val q174 = GraftQuery(
    "q174_exact_quartiles",
    """WITH r AS (
      |  SELECT lang, CAST(n_chars AS BIGINT) AS v,
      |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rk,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM documents)
      |SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
      |  max(CASE WHEN 4 * rk >= n AND 4 * (rk - 1) < n THEN v END) AS p25,
      |  max(CASE WHEN 2 * rk >= n AND 2 * (rk - 1) < n THEN v END) AS p50,
      |  max(CASE WHEN 4 * rk >= 3 * n AND 4 * (rk - 1) < 3 * n THEN v END) AS p75
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy("v", "doc_id")
    val wn = Window.partitionBy("lang")
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), col("n_chars").cast("long").as("v"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .groupBy("lang")
      .agg(max(col("n")).as("n_docs"),
        max(when(lit(4) * col("rk") >= col("n")
          && lit(4) * (col("rk") - 1) < col("n"), col("v"))).as("p25"),
        max(when(lit(2) * col("rk") >= col("n")
          && lit(2) * (col("rk") - 1) < col("n"), col("v"))).as("p50"),
        max(when(lit(4) * col("rk") >= lit(3) * col("n")
          && lit(4) * (col("rk") - 1) < lit(3) * col("n"), col("v"))).as("p75"))
      .orderBy("lang")
  }

  /** q175: Pareto frontier (quality vs length) — the documents no other
    * document strictly dominates (higher quality AND shorter), the
    * skyline a curation pass keeps when two objectives trade off. The
    * naive formulation is the O(n²) NOT EXISTS self-join the ORACLE
    * runs; the engine computes the same set in O(n log n) with the
    * q117 two-level discipline so no corpus-wide single-partition
    * window appears: quality BANDS partition the corpus (one hash
    * shuffle), a within-band range-framed running min of length covers
    * strictly-higher-quality rows in-band (strictness = the DESC range
    * frame's 1 PRECEDING bound — equal qualities are excluded by
    * value, not position), an 11-row band-min offset table covers all
    * higher bands, and a row survives iff min(both) ≥ its own length.
    * All integers (micro-quality, char lengths) — the frontier set is
    * engine-exact.
    */
  private val q175 = GraftQuery(
    "q175_pareto_frontier",
    s"""WITH $qualityOracleCte,
      |j AS (
      |  SELECT q.doc_id, q.quality_micro AS q, CAST(d.n_chars AS BIGINT) AS l
      |  FROM qual q JOIN documents d ON d.doc_id = q.doc_id)
      |SELECT doc_id, q AS quality_micro, l AS n_chars
      |FROM j a WHERE NOT EXISTS (
      |  SELECT 1 FROM j b WHERE b.q > a.q AND b.l < a.l)
      |ORDER BY quality_micro DESC, doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val LMax = Long.MaxValue
    val base = qualityBase(s, d).select(col("doc_id"), qualityMicroCol.as("q"))
      .join(Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("l")), "doc_id")
      .withColumn("band", expr("q div 100000"))
    val wb = Window.partitionBy("band").orderBy(col("q").desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val bandMins = base.groupBy("band").agg(min(col("l")).as("bl"))
    val wBand = Window.orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // ≤ 11 rows: the only unpartitioned window runs on the band table
    val offsets = bandMins
      .withColumn("off", min(col("bl")).over(wBand))
      .select(col("band"), col("off"))
    base
      .withColumn("mw", min(col("l")).over(wb))
      .join(broadcast(offsets), Seq("band"), "left")
      .withColumn("m",
        least(coalesce(col("mw"), lit(LMax)), coalesce(col("off"), lit(LMax))))
      .where(col("m") >= col("l"))
      .select(col("doc_id"), col("q").as("quality_micro"), col("l").as("n_chars"))
      .orderBy(col("quality_micro").desc, col("doc_id"))
  }

  // ---- per-language quality quantile normalization (q312) --------------

  /** q312: QUANTILE NORMALIZATION of quality scores per language — the
    * calibration verb corpus curation needs when per-group scorers are
    * not comparable (a 0.6 from the English quality model and a 0.6
    * from the German one mean different things): each document's
    * normalized score is its quality DECILE WITHIN ITS LANGUAGE, so a
    * single global threshold ("keep deciles ≥ 3") cuts every language
    * at the same population fraction instead of letting one language's
    * scorer scale dominate the mix — the q81/q261 mixture ops consume
    * exactly this. The output pins the calibration evidence at
    * (lang, decile) grain: raw-score ranges OVERLAP heavily across
    * languages at the same decile's boundaries, which is the
    * demonstration that thresholding raw scores globally would have
    * cut languages unevenly.
    *
    * Scale shape: the within-language rank rides [[Banded.cumSums]]
    * (part = lang, band = quality div 100000) — a billion-doc language
    * never funnels one window partition; per-language totals broadcast
    * back; everything after is (lang × 10)-grain.
    */
  private val q312 = GraftQuery(
    "q312_quantile_normalize",
    s"""WITH $qualityOracleCte,
       |j AS (
       |  SELECT q.doc_id, d.lang, q.quality_micro AS qm
       |  FROM qual q JOIN documents d ON d.doc_id = q.doc_id),
       |rk AS (
       |  SELECT lang, qm,
       |    row_number() OVER (PARTITION BY lang ORDER BY qm, doc_id) AS r,
       |    count(*) OVER (PARTITION BY lang) AS n
       |  FROM j),
       |dd AS (SELECT lang, qm, ((r - 1) * 10) // n AS decile FROM rk)
       |SELECT lang, CAST(decile AS BIGINT) AS decile,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  min(qm) AS min_q, max(qm) AS max_q
       |FROM dd GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val j = qualityBase(s, d).select(col("doc_id"), qualityMicroCol.as("qm"))
      .join(Tables.documents(s, d).select("doc_id", "lang"), "doc_id")
    val rk = graft.operators.Banded.cumSums(j, Seq("lang"),
      Seq(col("qm"), col("doc_id")), expr("qm div 100000"),
      Seq(graft.operators.Banded.CumSpec("r", lit(1L), Some("n"))))
    rk.select(col("lang"), col("qm"),
        expr("((r - 1) * 10) div n").as("decile"))
      .groupBy("lang", "decile")
      .agg(count(lit(1)).as("n_docs"), min(col("qm")).as("min_q"),
        max(col("qm")).as("max_q"))
      .orderBy("lang", "decile")
  }

  // ---- split-conformal coverage audit (q297) ---------------------------

  /** q297: SPLIT-CONFORMAL prediction audit — the distribution-free
    * uncertainty wrapper (Vovk; Angelopoulos & Bates) run end-to-end on
    * a corpus-derived predictor: fit token-count-from-char-count by
    * closed-form OLS on the train split (doc_id%10 ∈ 0-5), take q̂ = the
    * ⌈0.9·(n+1)⌉-th smallest absolute residual on the CALIBRATION split
    * (6-7), and MEASURE the guarantee on the held-out test split (8-9):
    * coverage of ŷ ± q̂ must land ≥ ~90% regardless of how wrong the
    * linear model is — the property that makes conformal the production
    * way to ship intervals around any scoring model. Everything is
    * aggregates: the fit is five integer-exact sums, the quantile is
    * ONE order statistic on the calibration-sized residual frame
    * (banded-rank-free: calibration residuals rank under a single
    * window ONLY at this bounded grain — at corpus scale the same rank
    * rides [[graft.operators.Banded.cumSums]] like q193), and coverage
    * is one test-split aggregate against the broadcast (slope,
    * intercept, q̂) row. Both engines evaluate the IDENTICAL arithmetic
    * shape `abs(y − (intercept + slope·x))` on IEEE doubles built from
    * exact integer sums, so residual order and the coverage booleans
    * are engine-exact.
    */
  private val q297 = GraftQuery(
    "q297_conformal_coverage",
    """WITH dt AS (
      |  SELECT doc_id, doc_id % 10 AS b, CAST(n_chars AS BIGINT) AS x,
      |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS y
      |  FROM documents),
      |fit AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_train,
      |    CAST((count(*) * sum(x*y) - sum(x) * sum(y)) AS DOUBLE)
      |      / CAST((count(*) * sum(x*x) - sum(x) * sum(x)) AS DOUBLE) AS slope,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy
      |  FROM dt WHERE b <= 5),
      |model AS (
      |  SELECT n_train, slope,
      |    (sy - slope * sx) / n_train AS intercept FROM fit),
      |calr AS (
      |  SELECT d.doc_id, abs(d.y - (m.intercept + m.slope * d.x)) AS r
      |  FROM dt d CROSS JOIN model m WHERE d.b IN (6, 7)),
      |caln AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM calr),
      |qhat AS (
      |  SELECT r AS qh FROM (
      |    SELECT r, row_number() OVER (ORDER BY r, doc_id) AS rk FROM calr) t
      |  CROSS JOIN caln
      |  WHERE rk = CAST(ceil(0.9 * (n_cal + 1)) AS BIGINT)),
      |test AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_test,
      |    CAST(sum(CASE WHEN abs(d.y - (m.intercept + m.slope * d.x)) <= q.qh
      |      THEN 1 ELSE 0 END) AS BIGINT) AS covered
      |  FROM dt d CROSS JOIN model m CROSS JOIN qhat q WHERE d.b >= 8)
      |SELECT m.n_train, c.n_cal, t.n_test,
      |  round(m.slope, 6) AS slope, round(m.intercept, 6) AS intercept,
      |  round(q.qh, 6) AS qhat, t.covered,
      |  CAST((t.covered * 1000000) // t.n_test AS BIGINT) AS coverage_ppm
      |FROM model m CROSS JOIN caln c CROSS JOIN qhat q CROSS JOIN test t"""
      .stripMargin) { (s, d) =>
    val dt = Tables.documents(s, d)
      .select(col("doc_id"), pmod(col("doc_id"), lit(10L)).as("b"),
        col("n_chars").cast("long").as("x"),
        size(split(col("text"), "\\s+")).cast("long").as("y"))
    val fit = dt.where(col("b") <= 5)
      .agg(count(lit(1)).as("n_train"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"))
    val model = fit.select(col("n_train"),
        ((col("n_train") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n_train") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("slope"), col("sx"), col("sy"))
      .withColumn("intercept",
        (col("sy") - col("slope") * col("sx")) / col("n_train"))
      .select("n_train", "slope", "intercept")
    val calr = dt.where(col("b").isin(6L, 7L))
      .crossJoin(broadcast(model))
      .select(col("doc_id"),
        abs(col("y") - (col("intercept") + col("slope") * col("x"))).as("r"))
    val caln = calr.agg(count(lit(1)).as("n_cal"))
    // calibration-grain rank: bounded by the cal split, see scaladoc
    val wr = org.apache.spark.sql.expressions.Window
      .orderBy(col("r"), col("doc_id"))
    val qhat = calr.withColumn("rk", row_number().over(wr))
      .crossJoin(broadcast(caln))
      .where(col("rk") === ceil(lit(0.9) * (col("n_cal") + 1)).cast("long"))
      .select(col("r").as("qh"))
    val test = dt.where(col("b") >= 8)
      .crossJoin(broadcast(model)).crossJoin(broadcast(qhat))
      .agg(count(lit(1)).as("n_test"),
        sum(when(abs(col("y") - (col("intercept") + col("slope") * col("x")))
          <= col("qh"), 1L).otherwise(0L)).as("covered"))
    model.crossJoin(broadcast(caln)).crossJoin(broadcast(qhat))
      .crossJoin(broadcast(test))
      .select(col("n_train"), col("n_cal"), col("n_test"),
        round(col("slope"), 6).as("slope"),
        round(col("intercept"), 6).as("intercept"),
        round(col("qh"), 6).as("qhat"), col("covered"),
        expr("(covered * 1000000) div n_test").as("coverage_ppm"))
  }

  // ---- Zipf rank-frequency fit (q328) -----------------------------------

  /** q328's log fixed-point scale (2^20 — the q302 scaled-integer
    * discipline: per-row ln is deterministic float, everything summed is
    * exact BIGINT/DECIMAL). */
  private val ZipfQ = 1048576L

  /** q328: ZIPF rank-frequency fit per source — the "is this natural
    * language?" corpus-QA probe (a natural-text token distribution fits
    * log f ≈ C − α·log r with α ≈ 1; spammy, templated, or synthetic
    * sources deviate hard), the distributional companion to the Heaps'
    * novelty curve (q292) and the per-doc repetition audit (q246). Fit
    * is OLS on (ln rank, ln freq) over the word-3-gram frequency table,
    * per source AND for the pooled corpus ('ALL' row): slope in ppm,
    * with types/tokens/max-frequency as the audit columns. The measured
    * answer on this synthetic corpus is α ≈ 0.41 — far from Zipf's 1,
    * the honest "LM-quality filters calibrated on natural text will
    * misfire here" reading (q294's discipline).
    *
    * Exactness: per-row ln(rank)/ln(freq) are scaled to round(ln·2²⁰)
    * BIGINTs (deterministic float per ROW — no cross-row float sum), all
    * OLS sums are DECIMAL(38,0)/HUGEINT-exact, and the slope is ONE
    * sign-split toward-zero cross-multiplied division (q226's rule), so
    * shuffle order can never move the estimate.
    *
    * Scale shape: one corpus pass fans 3-grams map-side, ONE gram-hash
    * shuffle to (source, gram) grain; the pooled tier re-aggregates the
    * TYPE-grain table (never the corpus). The global rank per source
    * rides [[Banded.cumSums]] (band = frequency, descending — monotone
    * in the sort prefix; a production corpus appends a gram-prefix
    * subkey to split the f=1 band), and the OLS collapse is one
    * source-grain aggregate.
    */
  private val q328 = GraftQuery(
    "q328_zipf_fit",
    s"""WITH toks AS (
       |  SELECT source, string_split_regex(lower(text), '\\s+') AS ts
       |  FROM documents),
       |g AS (
       |  SELECT source AS src, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
       |    AS gram
       |  FROM toks, LATERAL unnest(range(1, len(ts) - 1)) t(i)),
       |tfs AS (SELECT src, gram, CAST(count(*) AS BIGINT) AS f
       |  FROM g GROUP BY 1, 2),
       |tfa AS (SELECT 'ALL' AS src, gram, CAST(sum(f) AS BIGINT) AS f
       |  FROM tfs GROUP BY 2),
       |tf AS (SELECT * FROM tfs UNION ALL SELECT * FROM tfa),
       |rk AS (SELECT src, f,
       |    row_number() OVER (PARTITION BY src ORDER BY f DESC, gram) AS r
       |  FROM tf),
       |sc AS (SELECT src, f,
       |    CAST(round(ln(CAST(r AS DOUBLE)) * $ZipfQ) AS BIGINT) AS lx,
       |    CAST(round(ln(CAST(f AS DOUBLE)) * $ZipfQ) AS BIGINT) AS ly
       |  FROM rk),
       |ag AS (
       |  SELECT src, CAST(count(*) AS HUGEINT) AS n,
       |    CAST(sum(f) AS BIGINT) AS tokens, CAST(max(f) AS BIGINT) AS max_f,
       |    CAST(sum(lx) AS HUGEINT) AS sx, CAST(sum(ly) AS HUGEINT) AS sy,
       |    CAST(sum(CAST(lx AS HUGEINT) * ly) AS HUGEINT) AS sxy,
       |    CAST(sum(CAST(lx AS HUGEINT) * lx) AS HUGEINT) AS sxx
       |  FROM sc GROUP BY 1)
       |SELECT src AS source, CAST(n AS BIGINT) AS types, tokens, max_f,
       |  CAST(CASE WHEN n * sxy - sx * sy >= 0
       |    THEN ((n * sxy - sx * sy) * 1000000) // (n * sxx - sx * sx)
       |    ELSE -((-(n * sxy - sx * sy) * 1000000) // (n * sxx - sx * sx))
       |    END AS BIGINT) AS zipf_slope_ppm
       |FROM ag ORDER BY source""".stripMargin) { (s, d) =>
    val g = Tables.documents(s, d)
      .select(col("source"), split(lower(col("text")), "\\s+").as("ts"))
      .select(col("source").as("src"), explode(when(size(col("ts")) >= 3,
        expr("""transform(sequence(1, size(ts) - 2),
               |  i -> concat_ws(' ', element_at(ts, i), element_at(ts, i + 1),
               |    element_at(ts, i + 2)))""".stripMargin))
        .otherwise(expr("CAST(array() AS array<string>)"))).as("gram"))
    val tfs = g.groupBy("src", "gram").agg(count(lit(1)).as("f"))
    val tfa = tfs.groupBy("gram").agg(sum("f").as("f"))
      .select(lit("ALL").as("src"), col("gram"), col("f"))
    val tf = tfs.unionByName(tfa)
    val rk = Banded.cumSums(tf, Seq("src"),
      Seq(col("f").desc, col("gram")), col("f"),
      Seq(Banded.CumSpec("r", lit(1L))), bandDesc = true)
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val sc2 = rk.select(col("src"), col("f"),
      round(log(col("r").cast("double")) * ZipfQ).cast("long").as("lx"),
      round(log(col("f").cast("double")) * ZipfQ).cast("long").as("ly"))
    sc2.groupBy("src")
      .agg(count(lit(1)).cast(dec).as("n"), sum("f").as("tokens"),
        max("f").as("max_f"),
        sum(col("lx").cast(dec)).as("sx"), sum(col("ly").cast(dec)).as("sy"),
        sum(col("lx").cast(dec) * col("ly")).as("sxy"),
        sum(col("lx").cast(dec) * col("lx")).as("sxx"))
      .select(col("src").as("source"),
        col("n").cast("long").as("types"), col("tokens"), col("max_f"),
        expr("""CAST(CASE WHEN n * sxy - sx * sy >= 0
               |  THEN ((n * sxy - sx * sy) * 1000000) div (n * sxx - sx * sx)
               |  ELSE -((-(n * sxy - sx * sy) * 1000000)
               |    div (n * sxx - sx * sx))
               |  END AS BIGINT)""".stripMargin).as("zipf_slope_ppm"))
      .orderBy("source")
  }

  // ---- tokenizer fertility audit (q337) ------------------------------------

  /** One q337 merge round's oracle CTEs — [[bpeRoundCtes]] with the WORD
    * carried through (q252's rounds drop it; fertility needs the word →
    * representation mapping to join back to per-source frequencies).
    * MATERIALIZED is load-bearing: t_r is referenced twice by w_r and
    * each w_r by two successors — inlined, the chain re-derives its
    * whole prefix exponentially (the q334 scenario-chain lesson).
    */
  private def fertRoundCtes(r: Int): String = {
    val prev = s"w${r - 1}"
    s"""p$r AS MATERIALIZED (
       |  SELECT syms[CAST(i AS INTEGER)] AS s1,
       |    syms[CAST(i AS INTEGER) + 1] AS s2,
       |    CAST(sum(f) AS BIGINT) AS cnt
       |  FROM (SELECT f, syms, unnest(range(1, len(syms))) AS i
       |    FROM (SELECT f,
       |      string_split(substr(repr, 2, length(repr) - 2), '||') AS syms
       |      FROM $prev))
       |  GROUP BY 1, 2),
       |t$r AS MATERIALIZED (SELECT s1, s2, cnt FROM p$r
       |  ORDER BY cnt DESC, s1, s2 LIMIT 1),
       |w$r AS MATERIALIZED (
       |  SELECT w, replace(repr,
       |    '|' || (SELECT s1 FROM t$r) || '||' || (SELECT s2 FROM t$r) || '|',
       |    '|' || (SELECT s1 FROM t$r) || (SELECT s2 FROM t$r) || '|') AS repr,
       |    f
       |  FROM $prev)""".stripMargin
  }

  /** q337: TOKENIZER FERTILITY audit — the go/no-go measurement before a
    * learned vocabulary ships (ADVICE r13 item 7): per source and per
    * vocabulary tier v ∈ {0, 3, 6} merges (q283's sweep discipline on
    * the vocab-size knob), tokens-per-word FERTILITY in ppm — the number
    * that sets sequence-length budgets and per-language cost in a
    * multilingual corpus — plus the multi-char token share (the
    * compression actually delivered; 0 at v=0 by construction). The
    * merges are learned ONCE on the global vocabulary under q252's exact
    * election order (count desc, then pair), so tier v is a strict
    * PREFIX of tier v+1's merge list — the nesting property real BPE
    * vocab sweeps rely on. Round-trip fidelity is structural here
    * (concatenating a word's symbols reproduces the word — BPE merges
    * never cross the `|s|` boundaries), so the audit measures the two
    * things that can actually vary: fertility and compression.
    *
    * Exactness: all counts BIGINT; fertility/multichar are floored
    * integer ppm on HUGEINT/DECIMAL(38,0) products.
    *
    * Scale shape: q133/q252's aggregate-first discipline — ONE corpus
    * shuffle to (source, word, f) grain; the global (word, f) table,
    * merge elections (6 × vocab-grain aggregate + 1-row bounded
    * collect), representation chains, and the length join all live at
    * VOCABULARY grain (types plateau while tokens grow); the tier grid
    * is a 3-row broadcast.
    */
  private val q337 = GraftQuery(
    "q337_bpe_fertility",
    s"""WITH words AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
       |wfs AS MATERIALIZED (
       |  SELECT source, w, CAST(count(*) AS BIGINT) AS f FROM words
       |  WHERE length(w) > 1 GROUP BY 1, 2),
       |wf AS (SELECT w, CAST(sum(f) AS BIGINT) AS f FROM wfs GROUP BY 1),
       |w0 AS MATERIALIZED (
       |  SELECT w, list_reduce(list_transform(range(1, length(w) + 1),
       |    i -> '|' || w[i] || '|'), (a, b) -> a || b) AS repr, f
       |  FROM wf),
       |${(1 to 6).map(fertRoundCtes).mkString(",\n")},
       |lens AS (
       |  SELECT a.w,
       |    len(string_split(substr(a.repr, 2, length(a.repr) - 2), '||'))
       |      AS l3,
       |    len(list_filter(string_split(substr(a.repr, 2,
       |      length(a.repr) - 2), '||'), x -> length(x) > 1)) AS m3,
       |    len(string_split(substr(b.repr, 2, length(b.repr) - 2), '||'))
       |      AS l6,
       |    len(list_filter(string_split(substr(b.repr, 2,
       |      length(b.repr) - 2), '||'), x -> length(x) > 1)) AS m6
       |  FROM w3 a JOIN w6 b ON b.w = a.w),
       |per AS (
       |  SELECT s.source, g.v,
       |    CAST(sum(s.f) AS BIGINT) AS words,
       |    CAST(sum(s.f * CASE g.v WHEN 0 THEN length(s.w)
       |      WHEN 3 THEN l.l3 ELSE l.l6 END) AS BIGINT) AS syms,
       |    CAST(sum(s.f * CASE g.v WHEN 0 THEN 0
       |      WHEN 3 THEN l.m3 ELSE l.m6 END) AS BIGINT) AS msyms
       |  FROM wfs s JOIN lens l ON l.w = s.w
       |  CROSS JOIN (VALUES (0), (3), (6)) g(v)
       |  GROUP BY 1, 2)
       |SELECT source, CAST(v AS BIGINT) AS n_merges, words, syms,
       |  CAST(CAST(syms AS HUGEINT) * 1000000 // words AS BIGINT)
       |    AS fertility_ppm,
       |  CAST(CAST(msyms AS HUGEINT) * 1000000 // syms AS BIGINT)
       |    AS multichar_ppm
       |FROM per ORDER BY source, n_merges""".stripMargin) { (s, d) =>
    // the (source, word, f) rollup is read 7× (6 elections through the
    // global wf + the final fertility join) — one corpus pass, cached at
    // vocab grain with explicit release (Artifacts contract)
    // r18 (2nd pass): eager leaf + fan-out. The lazy persist was raced by
    // AQE's concurrent stage submission (the 7 readers each re-ran the
    // corpus explode), and the tokenize+explode otherwise runs on the one
    // scan task the single-row-group corpus table provides.
    val wfs = graft.Artifacts.checkpointedDf(s, s"bpe_wfs:$d") {
      Similarity.fanOut(
          Tables.documents(s, d).select(col("source"), col("text")))
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) > 1)
        .groupBy("source", "w").agg(count(lit(1)).as("f"))
    }
    val wf = wfs.groupBy("w").agg(sum(col("f")).as("f"))
    var repr = wf.select(col("w"), expr(
      """aggregate(transform(sequence(1, length(w)),
        |  i -> concat('|', substring(w, i, 1), '|')),
        |  '', (a, b) -> concat(a, b))""".stripMargin).as("repr"), col("f"))
    val symsCol = split(expr("substring(repr, 2, length(repr) - 2)"), "\\|\\|")
    var tier3: DataFrame = null
    (1 to 6).foreach { r =>
      val top = repr
        .select(col("f"), symsCol.as("syms"))
        .select(col("f"), explode(expr(
          """transform(sequence(1, size(syms) - 1),
            |  i -> struct(element_at(syms, i) AS s1,
            |              element_at(syms, i + 1) AS s2))""".stripMargin))
          .as("p"))
        .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
        .agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("s1"), col("s2"))
        .limit(1).collect()(0)
      // elected symbols are document text — lit() Columns, never SQL text
      val (s1v, s2v) = (top.getString(0), top.getString(1))
      repr = repr.select(col("w"),
        org.apache.spark.sql.functions.replace(col("repr"),
          lit(s"|$s1v||$s2v|"), lit(s"|$s1v$s2v|")).as("repr"),
        col("f"))
      if (r == 3) tier3 = repr
    }
    val lens = tier3
      .select(col("w"), size(symsCol).as("l3"),
        size(filter(symsCol, x => length(x) > 1)).as("m3"))
      .join(repr.select(col("w"), size(symsCol).as("l6"),
        size(filter(symsCol, x => length(x) > 1)).as("m6")), Seq("w"))
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    import s.implicits._
    val grid = broadcast(Seq(0L, 3L, 6L).toDF("v"))
    val out = wfs.join(lens, Seq("w")).crossJoin(grid)
      .groupBy("source", "v")
      .agg(sum(col("f")).as("words"),
        sum(col("f") * when(col("v") === 0L, length(col("w")).cast("long"))
          .when(col("v") === 3L, col("l3").cast("long"))
          .otherwise(col("l6").cast("long"))).as("syms"),
        sum(col("f") * when(col("v") === 0L, lit(0L))
          .when(col("v") === 3L, col("m3").cast("long"))
          .otherwise(col("m6").cast("long"))).as("msyms"))
      .select(col("source"), col("v").as("n_merges"), col("words"),
        col("syms"),
        expr("CAST((CAST(syms AS DECIMAL(38,0)) * 1000000) div words " +
          "AS BIGINT)").as("fertility_ppm"),
        expr("CAST((CAST(msyms AS DECIMAL(38,0)) * 1000000) div syms " +
          "AS BIGINT)").as("multichar_ppm"))
      .orderBy("source", "n_merges")
    out
  }

  /** Curriculum epochs (temperature exponents 0..3). */
  private val CurrEpochs = 4

  /** q387: CURRICULUM ANNEAL SCHEDULE — the data-ORDERING operator a
    * pretraining run plans with (the "anneal on high-quality data late"
    * recipe of the public LLM training literature, made a query): per
    * epoch e ∈ 0..${CurrEpochs − 1}, each document's sampling weight is
    * n_tokens · q^e where q is the shared quality score ([[qualityMicroCol]],
    * q27's kernel) in MILLI-units — e = 0 is plain token share (broad
    * early coverage), rising e concentrates the token budget on
    * high-quality sources. Output is the (epoch, source) schedule:
    * docs, integer weight mass, and token-share ppm — the table the
    * sampler of each epoch is configured from.
    *
    * Determinism: weights are INTEGER products (n_tokens · q_milli^e,
    * built by repeated BIGINT multiplication — no pow(), no libm), so
    * per-group sums are exact in any order; shares divide those exact
    * integers as doubles (same ints → same IEEE quotient in both
    * engines) and floor to ppm.
    *
    * Scale shape: one quality pass (q27's), one (epoch × source)-grain
    * aggregate behind a 4-row epoch explode — map-side combinable,
    * never a per-doc shuffle wider than the epoch fan; the schedule
    * table is dims-sized.
    */
  private val q387 = GraftQuery(
    "q387_curriculum_schedule",
    s"""WITH $qualityOracleCte,
       |qw AS (
       |  SELECT t.epoch, d.source,
       |    q.n_tokens * (CASE t.epoch
       |      WHEN 0 THEN 1
       |      WHEN 1 THEN (q.quality_micro // 1000)
       |      WHEN 2 THEN (q.quality_micro // 1000) * (q.quality_micro // 1000)
       |      ELSE (q.quality_micro // 1000) * (q.quality_micro // 1000)
       |        * (q.quality_micro // 1000) END) AS w
       |  FROM qual q JOIN documents d ON d.doc_id = q.doc_id
       |  CROSS JOIN range(0, $CurrEpochs) t(epoch)),
       |gs AS (
       |  SELECT CAST(epoch AS BIGINT) AS epoch, source,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(w) AS BIGINT) AS w_mass
       |  FROM qw GROUP BY 1, 2),
       |tot AS (SELECT epoch, CAST(sum(w_mass) AS BIGINT) AS w_tot
       |  FROM gs GROUP BY 1)
       |SELECT g.epoch, g.source, g.n_docs, g.w_mass,
       |  CAST(floor(CAST(g.w_mass AS DOUBLE) / CAST(t.w_tot AS DOUBLE)
       |    * 1000000.0) AS BIGINT) AS share_ppm
       |FROM gs g JOIN tot t ON t.epoch = g.epoch
       |ORDER BY g.epoch, g.source""".stripMargin) { (s, d) =>
    val qual = qualityBase(s, d)
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        qualityMicroCol.as("quality_micro"))
      .withColumn("qm", expr("quality_micro div 1000"))
      .join(Tables.documents(s, d).select("doc_id", "source"), "doc_id")
    val weighted = qual
      .withColumn("epoch", explode(typedLit((0 until CurrEpochs).toArray.map(_.toLong))))
      .withColumn("w", col("n_tokens") * (
        when(col("epoch") === 0, lit(1L))
          .when(col("epoch") === 1, col("qm"))
          .when(col("epoch") === 2, col("qm") * col("qm"))
          .otherwise(col("qm") * col("qm") * col("qm"))))
    val gs = weighted.groupBy("epoch", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("w_mass"))
    val tot = gs.groupBy("epoch").agg(sum(col("w_mass")).as("w_tot"))
    gs.join(broadcast(tot), "epoch")
      .select(col("epoch"), col("source"), col("n_docs"), col("w_mass"),
        floor(col("w_mass").cast("double") / col("w_tot").cast("double")
          * lit(1000000.0)).cast("long").as("share_ppm"))
      .orderBy("epoch", "source")
  }

  val queries: Seq[GraftQuery] =
    Seq(q26, q27, q28, q29, q69, q70, q100, q133, q134, q160, q174, q175,
      q252, q297, q312, q328, q337, q387)
}
