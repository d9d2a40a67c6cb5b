package graft.operators

import scala.math.Ordering.Implicits._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSuite, Tables}
import graft.functions.VectorFunctions

/** Live-data parity for the round-18 kernel promotions (VERDICT r17
  * item 4): each promoted codegen kernel must be BIT-IDENTICAL to the
  * interpreted HOF formulation it replaced, row for row, on the real
  * sf0.001 tables — the property that lets the pinned oracle hashes
  * survive the promotion without regeneration. KernelPropertiesSpec
  * checks the kernels against independent Scala models on random
  * inputs; this spec checks them against the ORIGINAL Spark HOF
  * expressions on live data, so a drift in either formulation (kernel
  * constant, SQL string) goes red here first.
  */
class KernelParitySpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("srp_bucket kernel == interpreted HOF fold on live embeddings, all bits") {
    val e = graft.Tables.embeddings(spark, dir)
    // the PRODUCTION bit count plus one narrower and one wider setting
    Seq(4, Similarity.srpBitsProd, Similarity.srpBitsProd + 2)
      .distinct.foreach { bits =>
        val diff = e.select(
            Similarity.srpBucket(bits).as("k"),
            expr(Similarity.srpBucketHofSql(bits)).as("h"))
          .where(!(col("k") <=> col("h"))).count()
        assert(diff == 0, s"srp_bucket($bits) diverged from the HOF form on $diff rows")
      }
  }

  test("jl_project kernel == interpreted HOF projection on live embeddings") {
    val e = graft.Tables.embeddings(spark, dir)
    val (kOut, dim) = Similarity.jlDims // the PRODUCTION projection shape
    val diff = e.select(
        graft.functions.VectorFunctions.jlProject(col("embedding"), kOut, dim).as("k"),
        expr(Similarity.jlProjectExpr).as("h"))
      .where(!(col("k") <=> col("h"))).count()
    assert(diff == 0, s"jl_project diverged from the HOF form on $diff rows")
  }

  test("pool_thresh_hash kernel == interpreted HOF folds on live documents") {
    val bits = Media.phashBits // the PRODUCTION phash width
    val diff = graft.Tables.documents(spark, dir)
      .where(length(col("text")) >= bits)
      .select(graft.functions.BytePool.pool(col("text"), bits).as("p"))
      .withColumn("pm", expr(s"aggregate(p, 0L, (a, x) -> a + x) div $bits"))
      .withColumn("hof", expr(
        s"""aggregate(sequence(0, ${bits - 1}), 0L,
           |  (acc, i) -> acc + IF(element_at(p, i + 1) > pm,
           |    shiftleft(1L, i), 0L))""".stripMargin))
      .withColumn("k", graft.functions.BytePool.threshHash(col("p"), bits))
      .where(!(col("k") <=> col("hof"))).count()
    assert(diff == 0, s"pool_thresh_hash diverged from the HOF folds on $diff rows")
  }

  test("tri_products kernel == interpreted flatten/transform on live embeddings") {
    // q321's quantization feed, then the ORIGINAL interpreted upper-
    // triangle struct builder flattened to the kernel's positional order
    val diff = graft.Tables.embeddings(spark, dir)
      .select(expr("transform(embedding, x ->" +
        " CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT))").as("xs"))
      .withColumn("hof", expr(
        """flatten(transform(sequence(1, 64), i ->
          |  transform(sequence(i, 64), j ->
          |    element_at(xs, i) * element_at(xs, j))))""".stripMargin))
      .withColumn("k", graft.functions.VectorFunctions.triProducts(col("xs")))
      .where(!(col("k") <=> col("hof"))).count()
    assert(diff == 0, s"tri_products diverged from the HOF form on $diff rows")
  }

  test("sorted_overlap kernel == size(array_intersect) on live sorted-distinct arrays") {
    // live token-set-shaped arrays: coarse-quantized embedding components,
    // sorted-distinct exactly like q196's prefix sets — every cross pair
    // of a bounded batch, so overlaps of 0..n all occur
    val sets = graft.Tables.embeddings(spark, dir)
      .where(col("vec_id") < 64)
      .select(col("vec_id"), expr(
        "array_sort(array_distinct(transform(embedding, x ->" +
          " CAST(round(CAST(x AS DOUBLE) * 50) AS BIGINT))))").as("hs"))
    val diff = sets.select(col("vec_id").as("a"), col("hs").as("ha"))
      .crossJoin(sets.select(col("vec_id").as("b"), col("hs").as("hb")))
      .withColumn("k", graft.functions.VectorFunctions
        .sortedOverlap(col("ha"), col("hb")))
      .withColumn("ref", size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .where(!(col("k") <=> col("ref"))).count()
    assert(diff == 0, s"sorted_overlap diverged from array_intersect on $diff pairs")
  }

  test("gram_hashes / distinct_gram_hashes kernels == the HOF gram pipelines on live documents") {
    val n = 8 // the production GramN
    val toks = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("ts"))
    val joined = (0 until n).map(j => s"element_at(ts, i + $j)")
      .mkString("concat_ws(' ', ", ", ", ")")
    // positional: the dupSpans shape (i 1-based, hash per position)
    val posDiff = toks.where(size(col("ts")) >= n)
      .withColumn("hof", expr(
        s"transform(sequence(1, size(ts) - ${n - 1}), i -> poly_hash($joined))"))
      .withColumn("k", graft.functions.PolyHash.gramHashes(col("ts"), n))
      .where(!(col("k") <=> col("hof"))).count()
    assert(posDiff == 0, s"gram_hashes diverged on $posDiff documents")
    // distinct: the docGrams shape (string-distinct, then hash)
    val dDiff = toks
      .withColumn("hof", expr(
        s"""transform(
           |  CASE WHEN size(ts) >= $n
           |    THEN array_distinct(transform(sequence(1, size(ts) - ${n - 1}),
           |      i -> $joined))
           |    ELSE CAST(array() AS array<string>) END,
           |  g -> poly_hash(g))""".stripMargin))
      .withColumn("k",
        graft.functions.PolyHash.distinctGramHashes(col("ts"), n))
      .where(!(col("k") <=> col("hof"))).count()
    assert(dDiff == 0, s"distinct_gram_hashes diverged on $dDiff documents")
  }

  test("shingles3 + poly_hash_all + min_hash_sig kernels == the HOF pipeline on live documents") {
    // the EXACT r17 shingle/hash/signature pipeline, stage by stage,
    // against the three one-pass kernels that replaced it
    val base = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("ts"))
    val both = base
      .withColumn("sh_hof",
        when(size(col("ts")) >= 3, array_distinct(expr(
          "transform(sequence(1, size(ts) - 2), " +
            "i -> concat_ws(' ', element_at(ts, i), element_at(ts, i+1), element_at(ts, i+2)))")))
          .otherwise(expr("CAST(array() AS array<string>)")))
      .withColumn("sh_k",
        when(size(col("ts")) >= 3, graft.functions.PolyHash.shingles3(col("ts")))
          .otherwise(expr("CAST(array() AS array<string>)")))
      .withColumn("hv_hof", expr("transform(sh_hof, sh2 -> poly_hash(sh2))"))
      .withColumn("hv_k", graft.functions.PolyHash.hashAll(col("sh_k")))
    assert(both.where(!(col("sh_k") <=> col("sh_hof"))).count() == 0,
      "shingles3 diverged from the transform/array_distinct form")
    assert(both.where(!(col("hv_k") <=> col("hv_hof"))).count() == 0,
      "poly_hash_all diverged from the transform(poly_hash) form")
    val sigCols = (0 until Similarity.minhashNumHashes).map(i =>
      expr(s"array_min(transform(hv_hof, h -> (${Similarity.minhashA(i)} * h" +
        s" + ${Similarity.minhashB(i)}) % ${Similarity.minhashP}))"))
    val sigs = both
      .withColumn("sig_hof", array(sigCols: _*))
      .withColumn("sig_k", graft.functions.PolyHash.minHashSig(col("hv_k"),
        Similarity.minhashA, Similarity.minhashB, Similarity.minhashP))
    assert(sigs.where(!(col("sig_k") <=> col("sig_hof"))).count() == 0,
      "min_hash_sig diverged from the array_min/transform family")
  }

  test("sorted_overlap_str kernel == size(array_intersect) on live sorted shingle arrays") {
    // live 3-gram shingle sets, sorted-distinct exactly like the q40/
    // q249/q276 verify projections; every cross pair of a bounded batch
    val sets = graft.Tables.documents(spark, dir)
      .where(col("doc_id") < 48)
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("ts"))
      .where(size(col("ts")) >= 3)
      .select(col("doc_id"), array_sort(array_distinct(expr(
        "transform(sequence(1, size(ts) - 2), i -> concat_ws(' ', " +
          "element_at(ts, i), element_at(ts, i+1), element_at(ts, i+2)))")))
        .as("sh"))
    val diff = sets.select(col("doc_id").as("a"), col("sh").as("sha"))
      .crossJoin(sets.select(col("doc_id").as("b"), col("sh").as("shb")))
      .withColumn("k", graft.functions.VectorFunctions
        .sortedOverlapStr(col("sha"), col("shb")))
      .withColumn("ref", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("refu", size(array_union(col("sha"), col("shb"))).cast("long"))
      .withColumn("ku", size(col("sha")) + size(col("shb")) - col("k"))
      .where(!(col("k") <=> col("ref")) || !(col("ku") <=> col("refu"))).count()
    assert(diff == 0,
      s"sorted_overlap_str or the arithmetic union diverged on $diff pairs")
  }

  test("nearest_cell kernel == interpreted array_min/transform argmin on live embeddings") {
    val e = graft.Tables.embeddings(spark, dir)
    val total = e.count()
    // the c0 codebook recipe at fixture and (clamped) production-ish k
    Seq(8L, math.min(64L, total / 2)).distinct.foreach { k =>
      val rows = e.where(col("vec_id") < k)
        .select(col("vec_id").cast("int").as("cell"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("cen"))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
      val scored = transform(typedLit(rows), c => struct(
        graft.functions.VectorFunctions
          .l2DistSq(col("embedding"), c.getField("_2")).as("d"),
        c.getField("_1").as("cell")))
      val diff = e.select(
          graft.functions.VectorFunctions.nearestCell(col("embedding"),
            typedLit(rows.map(_._1)), typedLit(rows.flatMap(_._2))).as("kc"),
          array_min(scored).getField("cell").as("hc"))
        .where(!(col("kc") <=> col("hc"))).count()
      assert(diff == 0, s"nearest_cell(k=$k) diverged from array_min on $diff rows")
    }
  }

  test("nearest_cells kernel == crossJoin/sort_array top-p selection on live embeddings") {
    val e = graft.Tables.embeddings(spark, dir)
    val total = e.count()
    val k = math.min(16L, total / 2)
    val cents = e.where(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cell"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("cen"))
    val rows = cents.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    // p below, at, and beyond the codebook size (slice semantics: a
    // p > k ring returns all k cells)
    Seq(1, 2, 5, k.toInt, k.toInt + 3).distinct.foreach { p =>
      // the ORIGINAL probeSelection shape: crossJoin + sort_array slice
      val hof = e.crossJoin(broadcast(cents))
        .withColumn("pd", graft.functions.VectorFunctions
          .l2DistSq(col("embedding"), col("cen")))
        .groupBy("vec_id")
        .agg(slice(sort_array(collect_list(struct(col("pd"), col("cell")))),
          1, p).as("near"))
        .select(col("vec_id"), expr("transform(near, s -> s.cell)").as("h"))
      val kern = e.select(col("vec_id"),
        graft.functions.VectorFunctions.nearestCells(col("embedding"),
          typedLit(rows.map(_._1)), typedLit(rows.flatMap(_._2)), p).as("k"))
      val diff = kern.join(hof, "vec_id")
        .where(!(col("k") <=> col("h"))).count()
      assert(diff == 0, s"nearest_cells(p=$p) diverged from the " +
        s"crossJoin/sort_array selection on $diff rows")
    }
  }

  test("cell_mean kernel == interpreted posexplode/aggregate recompute on live assignments") {
    // live embeddings under an arbitrary 7-cell assignment — the exact
    // r17 centroid-recompute pipeline (posexplode, per-(cell, j) sorted fold,
    // re-assembly) against the one-pass per-cell kernel
    val assigned = graft.Tables.embeddings(spark, dir)
      .select(pmod(col("vec_id"), lit(7)).cast("int").as("cell"),
        col("vec_id"), col("embedding"))
    val hof = assigned
      .select(col("cell"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("j", "v")))
      .groupBy(col("cell"), col("j"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("v")))).as("vals"))
      .select(col("cell"), col("j"),
        (expr("aggregate(vals, 0D, (acc, s) -> acc + CAST(s.v AS DOUBLE))")
          / size(col("vals"))).as("mean_j"))
      .groupBy(col("cell"))
      .agg(sort_array(collect_list(struct(col("j"), col("mean_j")))).as("ms"))
      .select(col("cell"), expr("transform(ms, s -> s.mean_j)").as("h"))
    val kern = assigned
      .where(size(col("embedding")) > 0)
      .groupBy(col("cell"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("embedding"))))
        .as("vals"))
      .select(col("cell"),
        graft.functions.VectorFunctions.cellMean(col("vals")).as("k"))
    val diff = kern.join(hof, "cell")
      .where(!(col("k") <=> col("h"))).count()
    assert(diff == 0, s"cell_mean diverged from the posexplode recompute on $diff cells")
  }

  test("tri_products null and small-input policy") {
    import spark.implicits._
    val rows = Seq(
      (1L, Seq[java.lang.Long](2L, 3L, 5L)),
      (2L, Seq[java.lang.Long](2L, null, 5L)),
      (3L, Seq[java.lang.Long]()))
      .toDF("id", "xs")
      .withColumn("k", graft.functions.VectorFunctions.triProducts(col("xs")))
      .orderBy("id").collect()
    // upper triangle of (2,3,5): 4,6,10,9,15,25
    assert(rows(0).getSeq[Long](2) == Seq(4L, 6L, 10L, 9L, 15L, 25L))
    assert(rows(1).isNullAt(2), "a null element must null the whole result")
    assert(rows(2).getSeq[Long](2).isEmpty, "empty input -> empty triangle")
  }

  // ---- PQ lookup table: the m-keyed plan vs the per-subspace union ----
  // The union it replaced is kept here as the oracle: the same rows with
  // bit-identical `dd` for the raw query batch and for the residual tier's
  // per-probe queries, at the fixture (M=4, k=16) and production
  // (M=8, k=256) sizings.

  /** One cross join per subspace against that subspace's filtered
    * codebook broadcast, with `m` and the slice offset as literals.
    */
  private def unionLut(queries: DataFrame, cents: DataFrame, mm: Int): DataFrame = {
    val sd = queries.select(size(col("qvec"))).head().getInt(0) / mm
    val keys = queries.columns.filter(_ != "qvec").map(col).toSeq
    (0 until mm).map { m =>
      queries
        .select(keys :+ slice(col("qvec"), m * sd + 1, sd).as("qsub"): _*)
        .crossJoin(broadcast(
          cents.where(col("m") === m).select(col("cell"), col("cen"))))
        .select(keys ++ Seq(lit(m).as("m"), col("cell"),
          VectorFunctions.l2DistSq(col("qsub"), col("cen")).as("dd")): _*)
    }.reduce(_.union(_))
  }

  /** Rows as ((keys…, m, cell), raw dd bits), sorted. */
  private def rows(lut: DataFrame): Seq[(Seq[Long], Long)] =
    lut.collect().toSeq.map { r =>
      val n = r.length
      ((0 until n - 1).map(i => r.getAs[Number](i).longValue),
        java.lang.Double.doubleToRawLongBits(r.getDouble(n - 1)))
    }.sortBy(_._1)

  private def assertParity(label: String, queries: DataFrame,
      cents: DataFrame, mm: Int): Unit = {
    val got = rows(Similarity.pqLut(queries, cents, mm))
    val want = rows(unionLut(queries, cents, mm))
    assert(want.size == queries.count() * cents.count(),
      s"$label: oracle size ${want.size}")
    assert(got.size == want.size, s"$label: ${got.size} rows vs ${want.size}")
    val diff = got.zip(want).filter { case (g, w) => g != w }
    assert(diff.isEmpty, s"$label: ${diff.size} rows differ, first ${diff.headOption}")
  }

  for ((mm, k) <- Seq((4, 16), (Similarity.PqMProd, Similarity.PqKProd))) {
    test(s"raw query-batch LUT matches the per-subspace union (M=$mm, k=$k)") {
      val (cents, _) = Similarity.pqTrained(spark, dir, k, mm)
      val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      assertParity("raw", Similarity.batchQueries(e), cents, mm)
    }

    test(s"residual per-probe LUT matches the per-subspace union (M=$mm, k=$k)") {
      val (c1, _) = Similarity.kmTrained(spark, dir)
      val (rcents, _) = Similarity.pqResTrained(spark, dir, k, mm)
      val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      val probes = Similarity.probeSelection(
        e.where(col("vec_id") < Similarity.QueryBatch), c1, 2)
      val queries = Similarity.probeResiduals(probes, c1)
      assertParity("residual", queries, rcents, mm)
    }
  }
}
