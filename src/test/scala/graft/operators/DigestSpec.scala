package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The property that makes q248's corpus digest usable at 100 TB: every
  * accumulator is commutative-associative, so the digest of a corpus
  * equals the MERGE of independently computed shard digests (count: sum;
  * XOR: xor; modular sum: modular add). A replica check between two
  * clusters therefore never ships rows — each side digests its own
  * shards in place and compares three longs per source. This spec pins
  * the merge law against the directly computed digest, on an arbitrary
  * (non-aligned) shard split.
  */
class DigestSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"
  private val M = 2305843009213693951L // 2^61 - 1

  test("shard digests merge to the full-corpus digest") {
    val full = graft.SparkEntry.queries("q248_corpus_digest")(spark, dir)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

    def digest(pred: org.apache.spark.sql.Column) =
      graft.Tables.documents(spark, dir).where(pred)
        .select(col("source"),
          graft.functions.PolyHash.hash(concat(
            col("doc_id").cast("string"), lit("|"), col("lang"), lit("|"),
            col("n_chars").cast("string"), lit("|"), col("text"))).as("h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("xor_h"),
          expr("CAST(sum(CAST(h AS DECIMAL(38,0))) % 2305843009213693951 AS BIGINT)")
            .as("sum_h_mod"))
        .collect().map(r => (r.getString(0),
          (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

    // deliberately unbalanced, source-misaligned shards
    val s1 = digest(col("doc_id") % 7 === 0)
    val s2 = digest(col("doc_id") % 7 =!= 0)
    val merged = (s1.keySet ++ s2.keySet).map { src =>
      val (n1, x1, m1) = s1.getOrElse(src, (0L, 0L, 0L))
      val (n2, x2, m2) = s2.getOrElse(src, (0L, 0L, 0L))
      src -> (n1 + n2, x1 ^ x2, (m1 + m2) % M)
    }.toMap
    assert(merged == full,
      s"shard-merged digest diverged from the direct one:\n$merged\nvs\n$full")

    // the same algebra runs BACKWARD — the erasure-side law: the digest
    // of the surviving corpus equals the full digest with the erased
    // shard's digest subtracted out (XOR is its own inverse; the modular
    // sum subtracts mod M). A right-to-erasure job can therefore prove
    // its post-delete state without re-digesting the survivors.
    val unmerged = full.map { case (src, (n, x, m)) =>
      val (n1, x1, m1) = s1.getOrElse(src, (0L, 0L, 0L))
      src -> (n - n1, x ^ x1, ((m - m1) % M + M) % M)
    }.filter(_._2._1 > 0L)
    assert(unmerged == s2.filter(_._2._1 > 0L),
      s"digest subtraction diverged from the survivors' digest:\n$unmerged\nvs\n$s2")
  }
}
