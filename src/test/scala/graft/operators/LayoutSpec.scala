package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Pins the q138 Z-layout's data-skipping property directly from the
  * written files: the 2-D box's predicate ranges intersect only a
  * minority of the z-clustered files' (src_idx, n_chars) ranges, while
  * the same box over a doc_id-ordered layout of the same data intersects
  * (nearly) all of them. The per-file min/max computed here is exactly
  * what the parquet footers carry, i.e. what row-group pruning and
  * stats-indexed formats skip on.
  */
class LayoutSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def boxFiles(layout: String): (Int, Int) = {
    val files = spark.read.parquet(layout).inputFiles.sorted
    val hit = files.count { f =>
      val r = spark.read.parquet(f)
        .agg(min("src_idx"), max("src_idx"), min("n_chars"), max("n_chars"))
        .head()
      val (sLo, sHi, nLo, nHi) =
        (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))
      sLo <= 13 && sHi >= 10 && nLo <= 400L && nHi >= 200L
    }
    (hit, files.length)
  }

  test("z-layout box touches a minority of files; row-ordered touches all") {
    val zdir = Pipeline.writtenZLayout(spark, dir)
    val (zHit, zTotal) = boxFiles(s"$zdir/z")
    assert(zTotal >= 8, s"expected a multi-file layout, got $zTotal")
    assert(zHit * 2 < zTotal,
      s"z-layout box intersects $zHit of $zTotal files — not prunable")

    // A/B: the same rows laid out in doc_id order — every file spans the
    // full (src_idx, n_chars) space, so the box prunes (almost) nothing
    val flat = tempDir("graft_flat_layout")
    try {
      spark.read.parquet(s"$zdir/z")
        .repartitionByRange(zTotal, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(flat.toString)
      val (fHit, fTotal) = boxFiles(flat.toString)
      assert(fHit > zHit,
        s"doc_id layout ($fHit/$fTotal) should be less prunable than z ($zHit/$zTotal)")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(flat.toFile)
    }
  }
}
