package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite

/** Golden tests for the regex capture-group helper (FIXTURES.md §A2,
  * reference/Tests/Helpers/StringCaptureGroupTests.swift:23-66), txn-id
  * synthesis (§A3, reference/Tests/Helpers/TxnIDGenTests.swift:24-29),
  * line normalization (§A4,
  * reference/Tests/Core/FINporterUtilsTests.swift:23-28), and the vector/
  * render kernels.
  */
class FunctionsSpec extends SparkSuite {

  private def one(c: org.apache.spark.sql.Column): Any = {
    import spark.implicits._
    Seq("x").toDF("dummy").select(c.as("v")).collect().head.get(0)
  }

  private def groupsOf(s: String, pat: String, ci: Boolean = false): Any = {
    import spark.implicits._
    Seq(s).toDF("s")
      .select(RegexFunctions.captureGroups(col("s"), pat, ci).as("g"))
      .collect().head.get(0)
  }

  test("captureGroups extracts all groups of the first match") {
    assert(groupsOf("Price: €19.00", "^Price: ([€$])(\\d\\d\\.\\d\\d)$")
      == Seq("€", "19.00"))
  }

  test("captureGroups includes nested groups") {
    assert(groupsOf("Price: €19.00", "^Price: (([€$])(\\d\\d\\.\\d\\d))$")
      == Seq("€19.00", "€", "19.00"))
  }

  test("captureGroups returns null on no match") {
    assert(groupsOf("Price: €19.00", "^Cost: ([€$])(\\d\\d\\.\\d\\d)$") == null)
  }

  test("captureGroups returns null on empty pattern or empty source no-match") {
    assert(groupsOf("anything", "") == null)
    assert(groupsOf("", "^Price: ([€$])(\\d\\d\\.\\d\\d)$") == null)
  }

  test("captureGroups supports case-insensitive matching") {
    assert(groupsOf("PRICE: €19.00", "^price: ([€$])(\\d\\d\\.\\d\\d)$", ci = true)
      == Seq("€", "19.00"))
  }

  test("captureGroups returns null on invalid pattern") {
    assert(groupsOf("x", "(((") == null)
  }

  test("txn-id synthesis matches the reference golden A2021030100325") {
    import spark.implicits._
    val got = Seq(("A", "2021-03-01", 325)).toDF("prefix", "d", "no")
      .select(concat(col("prefix"), date_format(col("d").cast("date"), "yyyyMMdd"),
        lpad(col("no").cast("string"), 5, "0")).as("id"))
      .collect().head.getString(0)
    assert(got == "A2021030100325")
  }

  test("line-separator normalization folds CRLF and CR to LF") {
    import spark.implicits._
    val raw = "\"Positions\"\r\n\r\n\"Individual ...XXXX-1234\"\r\n"
    val got = Seq(raw).toDF("s")
      .select(TextFunctions.normalizeLineSeparators(col("s")).as("n"))
      .collect().head.getString(0)
    assert(got == "\"Positions\"\n\n\"Individual ...XXXX-1234\"\n")
    assert(!got.contains("\r"))
  }

  private def cosOf(a: Seq[java.lang.Float], b: Seq[java.lang.Float]): Any = {
    val schema = StructType(Seq(
      StructField("a", ArrayType(FloatType, containsNull = true)),
      StructField("b", ArrayType(FloatType, containsNull = true))))
    val df = spark.createDataFrame(java.util.Arrays.asList(Row(a, b)), schema)
    df.select(VectorFunctions.cosineSim(col("a"), col("b")).as("c"))
      .collect().head.get(0)
  }

  private def f(x: Double): java.lang.Float = java.lang.Float.valueOf(x.toFloat)

  test("cosine similarity of identical vectors is 1") {
    val c = cosOf(Seq(f(1), f(2), f(3)), Seq(f(1), f(2), f(3)))
    assert(math.abs(c.asInstanceOf[Double] - 1.0) < 1e-12)
  }

  test("cosine similarity of orthogonal vectors is 0") {
    val c = cosOf(Seq(f(1), f(0)), Seq(f(0), f(1)))
    assert(c.asInstanceOf[Double] == 0.0)
  }

  test("cosine similarity: dimension mismatch yields null") {
    assert(cosOf(Seq(f(1), f(2)), Seq(f(1))) == null)
  }

  test("cosine similarity: null element yields null") {
    assert(cosOf(Seq(f(1), null), Seq(f(1), f(2))) == null)
  }

  test("cosine similarity: zero vector yields null") {
    assert(cosOf(Seq(f(0), f(0)), Seq(f(1), f(2))) == null)
  }

  private def prefCosOf(a: Seq[java.lang.Float], b: Seq[java.lang.Float],
      cuts: Seq[Int]): Any = {
    val schema = StructType(Seq(
      StructField("a", ArrayType(FloatType, containsNull = true)),
      StructField("b", ArrayType(FloatType, containsNull = true))))
    val df = spark.createDataFrame(java.util.Arrays.asList(Row(a, b)), schema)
    df.select(VectorFunctions.prefixCosines(col("a"), col("b"), cuts).as("c"))
      .collect().head.get(0)
  }

  test("prefix_cosines: each cut matches cosine_sim of the sliced prefix") {
    val a = Seq(f(0.3), f(-1.2), f(2.5), f(0.7), f(-0.4), f(1.9), f(0.1), f(-2.2))
    val b = Seq(f(1.1), f(0.6), f(-0.8), f(2.3), f(0.9), f(-1.5), f(0.4), f(0.2))
    val cuts = Seq(2, 4, 8)
    val got = prefCosOf(a, b, cuts).asInstanceOf[scala.collection.Seq[Double]]
    cuts.zipWithIndex.foreach { case (m, i) =>
      val exp = cosOf(a.take(m), b.take(m)).asInstanceOf[Double]
      // same accumulation order and final division -> bit-identical,
      // not merely close (the q294 hash pin rests on this)
      assert(got(i) == exp, s"cut $m: ${got(i)} != $exp")
    }
  }

  test("prefix_cosines: cut beyond dimension yields null at that slot only") {
    val got = prefCosOf(Seq(f(1), f(2)), Seq(f(2), f(1)), Seq(2, 4))
      .asInstanceOf[scala.collection.Seq[Any]]
    assert(got(0) != null && got(1) == null)
  }

  test("prefix_cosines: per-slot nulls — early tiers survive a late null/short index") {
    // the per-tier HOF semantics (review r17 finding 1): a null at index
    // 2 nulls only the cuts whose prefix includes it; cut 2 stays valid
    val got = prefCosOf(Seq(f(1), f(2), null, f(4)), Seq(f(1), f(2), f(3), f(4)),
      Seq(2, 4)).asInstanceOf[scala.collection.Seq[Any]]
    assert(got(0) != null && got(1) == null, got.toString)
    // dimension mismatch: tiers within BOTH lengths compute (the HOF's
    // element_at overflow nulls only the overflowing tiers)
    val mm = prefCosOf(Seq(f(1), f(2)), Seq(f(1)), Seq(1, 2))
      .asInstanceOf[scala.collection.Seq[Any]]
    assert(mm(0) != null && mm(1) == null, mm.toString)
    assert(math.abs(mm(0).asInstanceOf[Double] - 1.0) < 1e-12)
  }

  test("cosine_sim_d is bit-identical to the interpreted HOF fold it replaces") {
    import spark.implicits._
    val rows = Seq(
      (Seq(0.37, -1.25, 2.5003, 0.071), Seq(1.1, 0.63, -0.807, 2.31)),
      (Seq(1e-9, 2e9, -3.5, 0.0), Seq(-1e9, 2e-9, 7.25, 1.0)))
      .toDF("wa", "wb")
      .select(VectorFunctions.cosineSimD(col("wa"), col("wb")).as("kernel"),
        expr("""aggregate(sequence(1, 4), 0D, (acc, i) ->
          |  acc + element_at(wa, i) * element_at(wb, i))
          |/ (sqrt(aggregate(sequence(1, 4), 0D, (acc, i) ->
          |    acc + element_at(wa, i) * element_at(wa, i)))
          | * sqrt(aggregate(sequence(1, 4), 0D, (acc, i) ->
          |    acc + element_at(wb, i) * element_at(wb, i))))""".stripMargin)
          .as("hof"))
      .collect()
    rows.foreach(r => assert(
      java.lang.Double.doubleToRawLongBits(r.getDouble(0))
        == java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.toString))
    // dimension mismatch / null element -> null
    val schema = StructType(Seq(
      StructField("a", ArrayType(DoubleType, containsNull = true)),
      StructField("b", ArrayType(DoubleType, containsNull = true))))
    def oneOf(a: Seq[java.lang.Double], b: Seq[java.lang.Double]): Any =
      spark.createDataFrame(java.util.Arrays.asList(Row(a, b)), schema)
        .select(VectorFunctions.cosineSimD(col("a"), col("b")).as("c"))
        .collect().head.get(0)
    assert(oneOf(Seq(1.0, 2.0), Seq(1.0)) == null)
    assert(oneOf(Seq(1.0, null), Seq(1.0, 2.0)) == null)
  }

  test("double_plain renders reference goldens and extremes") {
    import spark.implicits._
    val got = Seq((0.01, -0.00033, 12345678.9)).toDF("a", "b", "c")
      .select(DoublePlainString.plain(col("a")),
        DoublePlainString.plain(col("b")),
        DoublePlainString.plain(col("c")))
      .collect().head
    assert(got.getString(0) == "0.01")
    assert(got.getString(1) == "-0.00033")
    assert(got.getString(2) == "12345678.9")
  }

  test("poly_hash matches the SQL aggregate formula including multi-byte chars") {
    import spark.implicits._
    val rows = Seq("hello world", "Priçe: €19.00", "", "naïve — test")
      .toDF("s")
      .select(PolyHash.hash(col("s")).as("kernel"),
        expr("aggregate(sequence(1, length(s)), 0L, " +
          "(acc, i) -> (acc * 31 + ascii(substring(s, i, 1))) % 1000000007)")
          .as("sql"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("byte_pool average-pools code points into equal windows") {
    import org.apache.spark.unsafe.types.UTF8String
    // "abcd" into 2 windows: mean(97,98)=97.5, mean(99,100)=99.5
    assert(BytePoolKernel.pool(UTF8String.fromString("abcd"), 2).toSeq
      == Seq(97500000L, 99500000L))
    // shorter than window count: trailing windows empty -> 0
    assert(BytePoolKernel.pool(UTF8String.fromString("a"), 4).toSeq
      == Seq(97000000L, 0L, 0L, 0L))
    assert(BytePoolKernel.pool(UTF8String.fromString(""), 2).toSeq
      == Seq(0L, 0L))
    // multi-byte chars pool by code point, same as the SQL char indexing
    assert(BytePoolKernel.pool(UTF8String.fromString("€€"), 2).toSeq
      == Seq(8364000000L, 8364000000L))
  }

  test("bloom might-contain: no false negatives, bounded false positives") {
    import spark.implicits._
    import org.apache.spark.util.sketch.BloomFilter
    val bf = BloomFilter.create(100, 0.03)
    (0L until 100L).foreach(bf.putLong)
    val bytes = BloomFilterFunctions.serialize(bf)
    val probe = (0L until 2000L).toDF("k")
      .select(col("k"),
        BloomFilterFunctions.mightContain(lit(bytes), col("k")).as("hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // no false negatives — every inserted key must probe true
    assert((0L until 100L).forall(probe(_)), "bloom false negative")
    // false positives are the design tradeoff, but must stay near fpp
    val fps = (100L until 2000L).count(probe(_))
    assert(fps < 200, s"false-positive rate off the rails: $fps/1900")
  }

  test("bloom might-contain is null-safe and rejects bad input types") {
    import spark.implicits._
    val bf = org.apache.spark.util.sketch.BloomFilter.create(10, 0.03)
    bf.putLong(7L)
    val bytes = BloomFilterFunctions.serialize(bf)
    val got = Seq(Some(7L), None).toDF("k")
      .select(BloomFilterFunctions.mightContain(lit(bytes), col("k")).as("hit"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getBoolean(0))
    assert(got.toSeq == Seq(true, null))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq("x").toDF("s")
        .select(BloomFilterFunctions.mightContain(lit("notbinary"), lit(1L)))
        .collect()
    }
    assert(e.getMessage.toLowerCase.contains("binary"))
  }

  test("int8 quant stats: error bound, zero-vector guard, null element") {
    import spark.implicits._
    def statsOf(v: Seq[java.lang.Float]): Seq[Double] = {
      val r = Seq(Tuple1(v)).toDF("v")
        .select(VectorFunctions.int8QuantStats(col("v")).as("s"))
        .collect().head
      if (r.isNullAt(0)) null else r.getSeq[Double](0)
    }
    val s = statsOf(Seq(1.0f, -0.5f, 0.0f))
    val scale = 1.0 / 127.0
    assert(math.abs(s(0) - scale) < 1e-15, s"scale off: ${s(0)}")
    // symmetric quantization without clipping bounds per-dim error by s/2
    assert(s(2) <= scale / 2 + 1e-12, s"max_abs_err exceeds s/2: ${s(2)}")
    assert(s(1) > 0 && s(3) > 0, "rmse/rel_err should be nonzero here")
    // zero vector quantizes exactly: everything 0, no NaN from 0/0
    assert(statsOf(Seq(0.0f, 0.0f)) == Seq(0.0, 0.0, 0.0, 0.0))
    assert(statsOf(Seq(1.0f, null, 0.0f)) == null)
  }

  test("broadcast-handle bloom probe agrees with the literal form") {
    import spark.implicits._
    val bf = org.apache.spark.util.sketch.BloomFilter.create(50, 0.03)
    (0L until 50L).foreach(bf.putLong)
    val bytes = BloomFilterFunctions.serialize(bf)
    val df = (0L until 500L).toDF("k")
    val got = df.select(col("k"),
        BloomFilterFunctions.mightContain(lit(bytes), col("k")).as("lit_hit"),
        BloomFilterFunctions.mightContainBroadcast(spark, bf, col("k")).as("bc_hit"))
      .collect()
    assert(got.forall(r => r.getBoolean(1) == r.getBoolean(2)),
      "broadcast and literal probes disagree")
    assert(got.filter(_.getLong(0) < 50).forall(_.getBoolean(2)),
      "broadcast probe false negative")
  }

  test("modified-dietz single-flow closed form") {
    import org.apache.spark.sql.Encoders
    import spark.implicits._
    val dietz = udaf(new ModifiedDietz(1000.0, 0.02),
      Encoders.product[(Double, Double)])
    val got = Seq((1L, 100.0, 0.5)).toDF("k", "cf", "w")
      .groupBy("k").agg(dietz(col("cf"), col("w")).as("md"))
      .collect().head.getDouble(1)
    assert(math.abs(got - 0.02 * 100.0 / (1000.0 + 50.0)) < 1e-15)
  }
}
