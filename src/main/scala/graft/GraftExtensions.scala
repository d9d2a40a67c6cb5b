package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData

import graft.functions._

/** The catalog of graft SQL functions: every custom Catalyst expression is
  * declared here once, as a (name, usage, builder) [[GraftExtensions.Fn]].
  * The function modules keep only their `Expression` classes and the typed
  * Column helpers that call these names.
  *
  * A session gets the catalog one of two ways, with the same metadata:
  *
  *  - as the `spark.sql.extensions` entry point, which injects it into
  *    every session of a cluster, so SQL users get `cosine_sim` & co.
  *    without any Scala:
  *    {{{
  *      spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *      // or
  *      SparkSession.builder().withExtensions(new GraftExtensions()(_))
  *    }}}
  *  - through [[GraftSession.install]], which registers what a session
  *    lacks. It runs at the end of the [[GraftSession]] builder and where
  *    any other session reaches graft code: in every [[GraftQuery]]'s
  *    `fn`, before the plan is built, and in the
  *    [[graft.io.DelimitedWriter]] sinks.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(f => ext.injectFunction((f.id, f.info, f.builder)))
}

object GraftExtensions {
  /** One SQL function; `usage` is `"<call form> - <description>"`. */
  final case class Fn(name: String, usage: String, builder: Seq[Expression] => Expression) {
    val id: FunctionIdentifier = FunctionIdentifier(name)
    val info: ExpressionInfo = new ExpressionInfo("graft", null, name, usage, "")
  }

  /** Registers every catalog function `spark` lacks ([[GraftSession.install]]
    * calls it). A present name is left alone: re-registering would log
    * Spark's "replaced a previously registered function" warning on every
    * query construction.
    */
  private[graft] def registerMissing(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { f =>
      if (!registry.functionExists(f.id)) registry.registerFunction(f.id, f.info, f.builder)
    }
  }

  /** A literal integer argument: foldable, and an Int or a Long in Int range. */
  private def foldableInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal integer")
    e.eval() match {
      case i: Int => i
      case l: Long =>
        require(l == l.toInt.toLong, s"$what out of int range: $l")
        l.toInt
      case o => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $o")
    }
  }

  /** A literal bigint array argument. */
  private def foldableLongs(e: Expression, what: String): Seq[Long] = {
    require(e.foldable, s"$what must be a literal bigint array")
    e.eval() match {
      case a: ArrayData => a.toLongArray().toSeq
      case o => throw new IllegalArgumentException(
        s"$what must be a bigint array literal, got $o")
    }
  }

  /** An entry whose call form `sig` (e.g. `cosine_sim(a, b)`) names the
    * function and takes exactly `arity` arguments.
    */
  private def fn(sig: String, doc: String, arity: Int)(
      build: Seq[Expression] => Expression): Fn =
    Fn(sig.takeWhile(_ != '('), s"$sig - $doc", exprs => {
      require(exprs.length == arity,
        s"$sig takes exactly $arity argument${if (arity == 1) "" else "s"}")
      build(exprs)
    })

  val functions: Seq[Fn] = Seq(
    // vector kernels
    fn("cosine_sim(a, b)", "cosine similarity of two float vectors", 2)(
      e => CosineSimilarity(e(0), e(1))),
    fn("cosine_sim_d(a, b)", "cosine similarity of two double vectors", 2)(
      e => CosineSimilarityD(e(0), e(1))),
    Fn("prefix_cosines",
      "prefix_cosines(a, b, m1, ...) - cosines of the nested prefixes cut at each literal m",
      e => {
        require(e.length >= 3,
          "prefix_cosines(a, b, m1, ...) takes 2 arrays + >=1 cut literal")
        PrefixCosines(e(0), e(1), e.drop(2).map(foldableInt(_, "prefix_cosines cut point")))
      }),
    fn("l2_dist_sq(v, c)", "squared L2 distance of a float vector to a double centroid", 2)(
      e => L2DistanceSq(e(0), e(1))),
    fn("tri_products(xs)", "flattened upper-triangle self outer product", 1)(
      e => TriProducts(e(0))),
    fn("srp_bucket(embedding, bits)", "packed sign bits of a literal-width random projection", 2)(
      e => SrpBucket(e(0), foldableInt(e(1), "srp_bucket bits"))),
    fn("jl_project(embedding, kOut, dim)", "JL sign projection to kOut floats", 3)(
      e => JlProject(e(0), foldableInt(e(1), "jl_project kOut"),
        foldableInt(e(2), "jl_project dim"))),
    fn("nearest_cell(x, cells, cens_flat)", "k-means argmin over a literal codebook", 3)(
      e => NearestCell(e(0), e(1), e(2))),
    fn("nearest_cells(x, cells, cens_flat, p)",
      "the p nearest cells of a literal codebook in (d, cell) order", 4)(
      e => NearestCells(e(0), e(1), e(2), foldableInt(e(3), "nearest_cells p"))),
    fn("cell_mean(vals)", "per-dimension mean of a sorted member list", 1)(
      e => CellMean(e(0))),
    fn("adc_sum(cells, lut_keys, lut_dds)", "order-pinned ADC fold over a LUT pair", 3)(
      e => AdcSum(e(0), e(1), e(2))),
    fn("sorted_overlap(a, b)", "overlap count of two sorted-distinct bigint arrays", 2)(
      e => SortedOverlapCount(e(0), e(1))),
    fn("sorted_overlap_str(a, b)", "overlap count of two sorted-distinct string arrays", 2)(
      e => SortedOverlapStrCount(e(0), e(1))),
    fn("int8_quant_stats(v)",
      "[qscale, rmse, max_abs_err, rel_err] of symmetric int8 quantization", 1)(
      e => Int8QuantStats(e(0))),
    fn("int8_quant_cosine(a, b)", "cosine similarity on the vectors' symmetric int8 codes", 2)(
      e => Int8QuantCosine(e(0), e(1))),
    fn("int8_encode(v)",
      "materialized symmetric int8 codes of a float vector (array<tinyint>)", 1)(
      e => Int8Encode(e(0))),
    fn("int8_code_dot(a, b)", "exact integer dot product of two stored int8 code arrays", 2)(
      e => Int8CodeDot(e(0), e(1))),
    fn("pack_codes(codes)",
      "pack an array of [0,255] subspace codes into one byte each (binary)", 1)(
      e => PackCodes(e(0))),
    fn("unpack_codes(b)", "unsigned unpack of a pack_codes byte string back to array<int>", 1)(
      e => UnpackCodes(e(0))),
    // string and token hashes
    fn("poly_hash(s)", "order-sensitive polynomial rolling hash mod 1e9+7", 1)(
      e => PolyHash(e(0))),
    fn("poly_hash_all(arr)", "poly_hash of every element", 1)(
      e => PolyHashAll(e(0))),
    fn("shingles3(ts)", "distinct word 3-grams of a token array", 1)(
      e => Shingles3(e(0))),
    fn("gram_hashes(ts, n)", "positional n-gram poly-hashes", 2)(
      e => GramHashes(e(0), foldableInt(e(1), "gram_hashes n"))),
    fn("distinct_gram_hashes(ts, n)",
      "string-distinct n-gram poly-hashes in first-occurrence order", 2)(
      e => DistinctGramHashes(e(0), foldableInt(e(1), "distinct_gram_hashes n"))),
    fn("min_hash_sig(hv, as, bs, p)", "all-component minhash signature of a hash array", 4)(
      e => MinHashSig(e(0), foldableLongs(e(1), "min_hash_sig as"),
        foldableLongs(e(2), "min_hash_sig bs"), foldableInt(e(3), "min_hash_sig p").toLong)),
    fn("simhash64(tokens)", "64-bit simhash of a token array", 1)(
      e => SimHash64(e(0))),
    fn("byte_pool(payload, n)", "average-pool a string payload's bytes into n windows", 2)(
      e => BytePool(e(0), foldableInt(e(1), "byte_pool n"))),
    fn("pool_thresh_hash(p, bits)", "average-threshold hash of a pooled window array", 2)(
      e => PoolThreshHash(e(0), foldableInt(e(1), "pool_thresh_hash bits"))),
    // rendering and probes
    fn("double_plain(x)", "reference-parity plain (non-scientific) double rendering", 1)(
      e => DoublePlainString(e(0))),
    fn("graft_bloom_might_contain(filter, key)",
      "probe a long key against a serialized bloom filter literal", 2)(
      e => BloomMightContain(e(0), e(1))),
    fn("graft_bloom_probe(handleId, key)",
      "probe a long key against the broadcast bloom filter behind a handle", 2)(
      e => BloomMightContainBc(
        BloomFilterFunctions.handle(foldableInt(e(0), "graft_bloom_probe handle id")), e(1))),
  )
}
