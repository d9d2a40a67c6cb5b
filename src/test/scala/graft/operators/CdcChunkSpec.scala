package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The property that justifies content-defined chunking (q96) over fixed
  * windows (q64): boundaries are decided by local content, so an edit
  * reshapes only the chunks up to the next cut point after it — every
  * later chunk keeps its exact fingerprint, which is what makes the
  * fingerprints usable for chunk-level dedup across corpus snapshots.
  */
class CdcChunkSpec extends SparkSuite {

  private def fps(df: org.apache.spark.sql.DataFrame, id: Long): Seq[Long] =
    df.where(col("doc_id") === id).orderBy("chunk_id")
      .select("chunk_fp").collect().map(_.getLong(0)).toSeq

  test("a prefix insertion leaves every chunk after the next boundary intact") {
    import spark.implicits._
    // deterministic 240-token text with hash variety
    val toks = (0 until 240).map(i => s"w$i")
    val base = toks.mkString(" ")
    val edited = "inserted tokens here " + base
    val docs = Seq((0L, base), (1L, edited)).toDF("doc_id", "text")
    val chunks = Pipeline.cdcChunks(docs)

    val f0 = fps(chunks, 0L)
    val f1 = fps(chunks, 1L)
    assert(f0.size >= 4, s"fixture too short to carry the property: ${f0.size} chunks")
    // all base chunks except those before/straddling the first post-edit
    // boundary survive with identical fingerprints
    val shared = f0.toSet intersect f1.toSet
    assert((f0.size - shared.size) <= 2,
      s"CDC lost boundary stability: ${f0.size} base chunks, only ${shared.size} survive the edit")
    // and the surviving run is the SUFFIX: fingerprints agree from the
    // first shared chunk onward, in order
    val tail0 = f0.dropWhile(fp => !f1.contains(fp))
    assert(f1.endsWith(tail0), "surviving chunks are not a stable suffix")
    // contrast: q64's fixed windows shift en masse under the same edit —
    // the whole point of content-defined cuts
  }

  test("chunks tile each document exactly: contiguous, complete, fp of its tokens") {
    import spark.implicits._
    val toks = (0 until 150).map(i => s"w$i")
    val docs = Seq((7L, toks.mkString(" "))).toDF("doc_id", "text")
    val rows = Pipeline.cdcChunks(docs).orderBy("chunk_id")
      .select("start_tok", "end_tok", "n_tokens").collect()
    assert(rows.head.getLong(0) == 1L)
    assert(rows.last.getLong(1) == 150L)
    rows.sliding(2).foreach {
      case Array(a, b) => assert(b.getLong(0) == a.getLong(1) + 1,
        s"gap between chunks: ${a.getLong(1)} -> ${b.getLong(0)}")
      case _ =>
    }
    assert(rows.map(_.getLong(2)).sum == 150L)
  }
}
