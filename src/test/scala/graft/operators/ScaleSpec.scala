package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Proof points for the 100 TB scale mechanisms: salted skew joins
  * (result-equivalence), bucketed co-located joins (no shuffle in the
  * plan), and partition-pruned scans (PartitionFilters reach the scan).
  */
class ScaleSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("saltedJoin returns exactly the plain join's rows") {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val customer = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val plain = orders.join(customer, Seq("o_custkey"))
    val salted = Scale.saltedJoin(orders, customer, "o_custkey", numSalts = 7)
    assert(salted.count() == plain.count())
    assert(salted.columns.toSeq == plain.columns.toSeq)
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
  }

  test("saltedJoin rejects join types where replication is unsound") {
    val df = spark.read.parquet(s"$dir/orders.parquet").select("o_custkey")
    val e = intercept[IllegalArgumentException] {
      Scale.saltedJoin(df, df, "o_custkey", 4, joinType = "right")
    }
    assert(e.getMessage.contains("right/full outer"))
  }

  test("bucketed tables co-locate: the join plans without a shuffle") {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val customer = spark.read.parquet(s"$dir/customer.parquet")
    orders.write.mode("overwrite")
      .bucketBy(4, "o_custkey").sortBy("o_custkey")
      .saveAsTable("orders_bucketed")
    customer.write.mode("overwrite")
      .bucketBy(4, "c_custkey").sortBy("c_custkey")
      .saveAsTable("customer_bucketed")
    val joined = spark.table("orders_bucketed")
      .join(spark.table("customer_bucketed"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(sum("o_totalprice"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(o_custkey"),
      s"bucketed join still shuffles:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(c_custkey"),
      s"bucketed join still shuffles:\n$plan")
    assert(joined.count() > 0)
  }

  test("partitioned writes prune partitions at the scan") {
    val out = java.nio.file.Files.createTempDirectory("graft_part").toString + "/orders"
    spark.read.parquet(s"$dir/orders.parquet")
      .withColumn("yr", year(col("o_orderdate")))
      .write.partitionBy("yr").mode("overwrite").parquet(out)
    val pruned = spark.read.parquet(out).where(col("yr") === 1995)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("1995"),
      s"partition filter missing from scan:\n$scan")
    val all = spark.read.parquet(out).where(year(col("o_orderdate")) === 1995)
    assert(pruned.count() == all.count() && pruned.count() > 0)
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    import spark.implicits._
    // one mega-key (80k rows) among uniform keys; thresholds scaled down
    // so the test fixture trips the same OptimizeSkewedJoin rule a 100 TB
    // run relies on (defaults: 256 MB threshold, 5x median factor)
    val confs = Map(
      // the suite default of 2 shuffle partitions makes skew undetectable
      // (the "median" of two sizes is the larger one)
      "spark.sql.shuffle.partitions" -> "16",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = (1 to 100000).map(i => (if (i <= 80000) 7L else i.toLong % 97, i))
        .toDF("k", "v")
      val right = (0 to 96).map(i => (i.toLong, s"r$i")).toDF("k", "name")
      // no keyed operator downstream of the join: a required hash
      // distribution above it would (correctly) veto the skew split
      val joined = left.join(right, "k")
      assert(joined.count() == 100000)
      joined.collect()
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"OptimizeSkewedJoin did not trigger:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("connectedComponents merges chained pairs transitively") {
    import spark.implicits._
    // 2-3-4 is a path (diameter 2): label propagation must iterate, not
    // just take one neighbor hop; 1 is a singleton; 5-6 a separate pair
    val vertices = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val edges = Seq((2L, 3L), (3L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val cc = Similarity.connectedComponents(vertices, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 2L, 5L -> 5L, 6L -> 5L))
    // edge-free graph: every vertex is its own singleton cluster
    val lonely = Similarity.connectedComponents(vertices,
      edges.where(lit(false))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lonely == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L, 6L -> 6L))
  }

  test("minhash bucket cap routes hot buckets out of pair expansion") {
    import spark.implicits._
    // 6 docs share one signature (a duplicate mega-cluster: every band
    // bucket has width 6), 2 docs share another (width 2)
    val hotSig = (1L to 12L).toArray
    val coldSig = (101L to 112L).toArray
    val sigs = ((1L to 6L).map(id => (id, hotSig)) ++
      Seq((7L, coldSig), (8L, coldSig))).toDF("doc_id", "sig")
    val uncapped = Similarity.minhashCandidates(sigs)
      .select("doc_a", "doc_b").distinct()
    assert(uncapped.count() == 15 + 1) // C(6,2) hot pairs + 1 cold pair
    val capped = Similarity.minhashCandidates(sigs, maxBucketWidth = Some(4))
      .select("doc_a", "doc_b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((7L, 8L)), // hot bucket excluded, cold kept
      s"cap did not route the hot bucket out: $capped")
  }

  test("bucket cap + star edges + CC still one cluster for a giant clique") {
    import spark.implicits._
    // same fixture as the routing test: a 6-doc duplicate mega-cluster
    // (every band bucket width 6) and a 2-doc cold pair; cap=4 routes the
    // hot bucket out of O(width²) pair expansion, and the O(width) star
    // edges must hand its members to connectedComponents intact
    val hotSig = (1L to 12L).toArray
    val coldSig = (101L to 112L).toArray
    val sigs = ((1L to 6L).map(id => (id, hotSig)) ++
      Seq((7L, coldSig), (8L, coldSig))).toDF("doc_id", "sig")
    val cap = 4
    val pairs = Similarity.minhashCandidates(sigs, maxBucketWidth = Some(cap))
      .select("doc_a", "doc_b").distinct()
    val stars = Similarity.minhashHotBucketEdges(sigs, maxBucketWidth = cap)
    assert(stars.count() == 5, "star edges are width−1, not C(width,2)")
    val vertices = (1L to 8L).toDF("doc_id")
    val cc = Similarity.connectedComponents(vertices, pairs.union(stars))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 1L, 7L -> 7L, 8L -> 7L),
      s"capped clique did not stay one cluster: $cc")
  }

  test("contamination maxGramDf cap drops boilerplate grams before the join") {
    import spark.implicits._
    // one boilerplate gram hash (999) in all 10 docs — 5 train (sb 10),
    // 5 test (sb 95) — plus one identifying gram (1) shared by exactly
    // one test/train pair; uncapped the hot gram alone expands 5×5 pairs
    val hashed = ((1L to 10L).map(id =>
        (id, if (id <= 5) 10 else 95, 999L)) ++
      Seq((1L, 10, 1L), (6L, 95, 1L)))
      .toDF("doc_id", "sb", "h")
    val uncapped = CorpusStats.contaminationPairs(hashed)
    assert(uncapped.count() == 5 * 5 + 1, "uncapped fanout should be d_te×d_tr")
    val capped = CorpusStats.contaminationPairs(hashed, maxGramDf = Some(5L))
      .select("doc_id", "train_doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // gram 999 has df=10 > 5 → routed out; the identifying pair survives
    assert(capped == Set((6L, 1L)),
      s"cap did not drop the boilerplate gram: $capped")
  }

  test("bloom decontamination result is independent of the filter's fpp") {
    // the bloom prunes, the exact semi-join decides: a near-useless
    // filter (fpp 0.5, most grams pass as candidates) and a near-perfect
    // one (fpp 1e-6) must produce identical manifests
    def rows(fpp: Double): Seq[(String, Long, Long, Long)] =
      CorpusStats.bloomDecontaminate(spark, dir, fpp).collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val sloppy = rows(0.5)
    val tight = rows(1e-6)
    assert(sloppy == tight,
      s"fpp changed the decontamination answer:\n$sloppy\nvs\n$tight")
    assert(sloppy.map(_._2).sum > 0, "empty train roster — test has no signal")
  }

  test("written IVF index serves a single-cell probe via partition pruning") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf")
    val out = tmp.toString + "/index"
    Similarity.writeIvfIndex(spark, dir, out)
    val index = spark.read.parquet(out)
    // all four serving tiers' columns: float embeddings (exact rerank),
    // int8 codes + integer norm (quantized rerank, 4× smaller), and the
    // raw + residual PQ code arrays (the two ADC tiers)
    assert(index.count() > 0 &&
      index.columns.toSet ==
        Set("vec_id", "embedding", "cell", "code", "nq", "pq_code", "rpq_code"))
    // parquet read-back widens containsNull; the element type is the
    // contract (1 byte/dim on disk)
    assert(index.schema("code").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType ==
      org.apache.spark.sql.types.ByteType)
    // every vector carries a complete PQ code (one sub-code per subspace)
    assert(index.where(size(col("pq_code")) =!= 4).count() == 0,
      "pq_code must have one entry per subspace")
    // probe the most-populated cell: Lloyd reassignment may leave a
    // small cell with one member, which has no in-cell neighbor
    val cell = index.groupBy("cell").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("cell")).limit(1)
      .collect().head.getInt(0)
    val probe = index.where(col("cell") === cell)
    val scan = probe.queryExecution.executedPlan.toString
    val partFilters = scan
      .replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
    assert(scan.contains("PartitionFilters: [") && partFilters.contains("cell"),
      s"cell predicate did not prune partitions:\n$scan")
    // the pruned cell is a complete, searchable shard: every member's
    // top-1 neighbor within the cell exists and is not itself
    val l = probe.select(col("vec_id"), col("embedding").as("emb_a"))
    val r = probe.select(col("vec_id").as("nid"), col("embedding").as("emb_b"))
    val top1 = l.join(r, col("vec_id") =!= col("nid"))
      .withColumn("cos",
        graft.functions.VectorFunctions.cosineSim(col("emb_a"), col("emb_b")))
      .groupBy("vec_id")
      .agg(max(struct(col("cos"), col("nid"))).as("best"))
    assert(top1.count() == probe.count(), "a cell member has no in-cell neighbor")
    // the QUANTIZED tier serves from the same pruned shard reading ONLY
    // the stored codes + norms — no float column in the serving join
    val ql = probe.select(col("vec_id"), col("code").as("code_a"),
      col("nq").as("nq_a"))
    val qr = probe.select(col("vec_id").as("nid"), col("code").as("code_b"),
      col("nq").as("nq_b"))
    val qtop1 = ql.join(qr, col("vec_id") =!= col("nid"))
      .where(col("nq_a") > 0 && col("nq_b") > 0)
      .withColumn("qcos",
        graft.functions.VectorFunctions.int8CodeDot(col("code_a"), col("code_b"))
          .cast("double") /
          (sqrt(col("nq_a").cast("double")) * sqrt(col("nq_b").cast("double"))))
      .groupBy("vec_id")
      .agg(max(struct(col("qcos"), col("nid"))).as("best"))
    assert(qtop1.count() == probe.count(),
      "stored codes do not serve the quantized in-cell search")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("serveQuantized masks an ARBITRARY external id list, not a recomputable predicate") {
    // the deletion-request log is an external input: hand the public
    // serving API a list no predicate generates (the unmasked result's
    // own first few neighbors) and require those ids to vanish from
    // BOTH sides of the rank while every surviving query keeps its full
    // top-3 — a post-top-k filter would starve exactly those queries
    val base = Similarity.writtenIndex(spark, dir)
    val unmasked = Similarity.serveQuantized(spark, base)
    val victims = unmasked.select(col("neighbor_id"))
      .distinct().orderBy("neighbor_id").limit(5)
      .collect().map(_.getLong(0)).toSeq
    val tomb = spark.createDataFrame(
      victims.map(Tuple1(_))).toDF("vec_id")
    val masked = Similarity.serveQuantized(spark, base, Some(tomb))
    val served = masked.select("neighbor_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(victims.forall(v => !served.contains(v)),
      s"tombstoned ids ${victims.filter(served.contains)} still served")
    val qids = masked.select("vec_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(victims.forall(v => !qids.contains(v)),
      "tombstoned ids still answer as queries")
    // full top-3 per surviving query: the mask ran pre-rank
    val short = masked.groupBy("vec_id").agg(count(lit(1)).as("n"))
      .where(col("n") =!= 3).count()
    assert(short == 0, s"$short queries lost rank slots to the mask")
  }

  test("IVF recall@3 is monotone in the probe count; p=1 is single-probe") {
    val r1 = Similarity.multiProbeRecall(spark, dir, p = 1)
    val r2 = Similarity.multiProbeRecall(spark, dir, p = 2)
    val r3 = Similarity.multiProbeRecall(spark, dir, p = 3)
    // probing MORE cells can only add candidates, never remove them, so
    // recall against fixed truth is non-decreasing in p
    assert(r1 <= r2 && r2 <= r3, s"recall not monotone in p: $r1, $r2, $r3")
    // degenerate check: the nearest probe cell is the assigned cell under
    // the same (dist, cell) tie-break, so p=1 IS the single-probe tier
    val single = Similarity.singleProbeRecall(spark, dir)
    assert(r1 == single, s"p=1 recall $r1 != single-probe recall $single")
    // the multi-probe lever must actually buy something on this fixture
    // (q83's measured 0.43 -> 0.69 shape at sf0.1)
    assert(r3 > r1, s"probing more cells bought no recall: $r1 -> $r3")
  }

  test("SRP bucket count scales with the bits parameter") {
    val e = graft.Tables.embeddings(spark, dir)
    def buckets(bits: Int): Long =
      e.select(Similarity.srpBucket(bits).as("b")).distinct().count()
    val b4 = buckets(4)
    val b8 = buckets(8)
    assert(b4 <= 16 && b8 <= 256, s"bucket ids exceed 2^bits: $b4, $b8")
    assert(b8 > b4,
      s"adding hyperplane bits must split buckets further ($b4 -> $b8)")
  }

  test("index + sidecar writes are serving-complete: files round-trip every tier's inputs") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sidecar").toString
    Similarity.writeIvfIndex(spark, dir, tmp + "/index")
    Similarity.writeIndexSidecar(spark, dir, tmp)

    // a cold process reconstructs the tiers from files alone; equality
    // against the session caches proves nothing was left cache-only
    val index = spark.read.parquet(tmp + "/index")
    val coarse = spark.read.parquet(tmp + "/coarse_centroids")
    val books = spark.read.parquet(tmp + "/pq_codebooks")

    val (c1, a2) = Similarity.kmTrained(spark, dir)
    val (cents, codes) = Similarity.pqTrained(spark, dir)

    assert(coarse.count() == c1.count())
    assert(coarse.join(c1.withColumnRenamed("cen", "cen2"), "cell")
      .where(expr("to_json(cen) <> to_json(cen2)")).count() == 0,
      "stored coarse centroids differ from the trained cache")

    assert(books.count() == cents.count())
    assert(books.join(cents.withColumnRenamed("cen", "cen2"), Seq("m", "cell"))
      .where(expr("to_json(cen) <> to_json(cen2)")).count() == 0,
      "stored PQ codebooks differ from the trained cache")

    // stored per-vector pq codes == the cache's unpivoted code table
    val storedCodes = index.select(col("vec_id"),
      posexplode(col("pq_code")).as(Seq("m", "cellc")))
    assert(storedCodes.join(codes,
        storedCodes("vec_id") === codes("vec_id") &&
        storedCodes("m") === codes("m") &&
        col("cellc") === codes("cell")).count() == codes.count(),
      "stored pq codes differ from the cached code table")

    // stored coarse assignment == the cache's
    assert(index.select(col("vec_id"), col("cell")).except(
      a2.select(col("vec_id"), col("cell"))).count() == 0,
      "stored coarse assignments differ from the trained cache")

    // residual tier: stored codebooks + per-vector residual codes == cache
    val (rcents, rcodes) = Similarity.pqResTrained(spark, dir)
    val rbooks = spark.read.parquet(tmp + "/pq_residual_codebooks")
    assert(rbooks.count() == rcents.count())
    assert(rbooks.join(rcents.withColumnRenamed("cen", "cen2"), Seq("m", "cell"))
      .where(expr("to_json(cen) <> to_json(cen2)")).count() == 0,
      "stored residual codebooks differ from the trained cache")
    val storedR = index.select(col("vec_id"),
      posexplode(col("rpq_code")).as(Seq("m", "cellc")))
    assert(storedR.join(rcodes,
        storedR("vec_id") === rcodes("vec_id") &&
        storedR("m") === rcodes("m") &&
        col("cellc") === rcodes("cell")).count() == rcodes.count(),
      "stored residual pq codes differ from the cached code table")
  }

  test("PQ recall@3 improves with codebook size; k is the fidelity lever") {
    // mean recall@3 of the k-codebook ADC tier against exact-L2 truth
    def pqRecall(top3: org.apache.spark.sql.DataFrame) =
      Similarity.adcMeanRecall(spark, dir, top3)
    val r4 = pqRecall(Similarity.pqAdcTop3(spark, dir, k = 4))
    val r8 = pqRecall(Similarity.pqAdcTop3(spark, dir, k = 8))
    val r16 = pqRecall(Similarity.pqAdcTop3(spark, dir, k = 16))
    assert(r4 <= r8 && r8 <= r16, s"recall not monotone in k: $r4, $r8, $r16")
    assert(r16 > r4, s"growing the codebooks 4x must improve recall: $r4 -> $r16")
    // the production point (M=8, k=256 — q106's sizing, one byte per
    // subspace) completes the recall-vs-(M, k) curve: a byte of code per
    // subspace must beat every fixture-sized point, or the production
    // sizing buys nothing
    val prod = pqRecall(Similarity.pqAdcTop3(spark, dir,
      k = Similarity.PqKProd, mm = Similarity.PqMProd))
    info(s"PQ recall@3 curve: k=4 $r4, k=8 $r8, k=16 $r16, prod(M=8,k=256) $prod")
    assert(prod >= r16,
      s"production sizing must top the fixture curve: $prod < $r16")
  }

  test("packed production codes round-trip and are genuinely one byte per subspace") {
    val packed = Similarity.pqProdPacked(spark, dir)
    // byte width IS the subspace count — the 1-byte/subspace claim
    val widths = packed.select(length(col("pqb")).as("w")).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(widths == Set(Similarity.PqMProd),
      s"packed code widths $widths != M=${Similarity.PqMProd}")
    // unpack(pack(codes)) == the long-form code table the trainer built
    val unpacked = packed.select(col("vec_id"),
      posexplode(graft.functions.VectorFunctions.unpackCodes(col("pqb")))
        .as(Seq("m", "cell")))
    val codes = Similarity.pqTrained(spark, dir,
      Similarity.PqKProd, Similarity.PqMProd)._2
    assert(unpacked.join(codes, Seq("vec_id", "m", "cell")).count() == codes.count(),
      "unpacked byte codes differ from the trained code table")
    // k=256 fills the byte exactly: every unpacked value is a valid
    // codebook id in [0, 256)
    val bad = unpacked.where(col("cell") < 0 || col("cell") >= 256).count()
    assert(bad == 0, s"$bad unpacked codes outside [0, 256)")
  }

  test("residual PQ codes rank probed candidates at least as well as raw codes") {
    // same coarse probes, same (M, k) code budget — the only difference
    // is what the codebooks quantize (x - centroid vs x), so the recall
    // delta isolates IVFADC's residual-encoding claim.
    // MEASURED shift under the round-15 k ~ √n coarse retrofit: at
    // k=22 coarse cells over this 500-vector uniform-synthetic fixture,
    // residuals are x minus a NEARBY centroid — nearly the same
    // distribution as x itself (no cluster structure to subtract), so
    // the residual edge vanishes into fixture noise (raw 0.14 vs
    // residual ~0.12; at the old k=4 it was residual 0.16 > raw 0.14).
    // That is the same physics the prod-sizing test below documents for
    // its saturated point: residual encoding pays off when the coarse
    // cell is a REAL cluster or the code budget is starved, neither of
    // which a uniform 500-vector corpus at k=√n provides. What must
    // hold: residual stays inside raw's saturation band (the same
    // ±0.05 band that test pins), i.e. residual encoding never makes
    // the index materially WORSE. The strict res > raw pin lives in
    // the clustered-corpus test below, where the structure the claim
    // is about actually exists.
    val raw = Similarity.adcMeanRecall(spark, dir, Similarity.rawIvfpqTop3(spark, dir))
    val res = Similarity.adcMeanRecall(spark, dir,
      graft.SparkEntry.queries("q101_residual_ivfpq")(spark, dir)
        .select(col("vec_id").as("qid"), col("neighbor_id")))
    info(s"IVF-PQ recall@3: raw codes $raw, residual codes $res")
    assert(res >= raw - 0.05,
      s"residual codes fell out of raw's saturation band: $res vs $raw")
  }

  test("JL projection halves the vectors and keeps random-sign recall quality") {
    // the q155 audit's number, pinned: popcount-parity signs must hold
    // the true-random-sign band (~0.15-0.19 on this corpus at k=32);
    // the degenerate LCG/mid-bit constructions measured ~0.04 — a pin
    // at 0.10 separates the two regimes with margin on both sides
    val r = graft.SparkEntry.queries("q155_jl_recall")(spark, dir)
      .agg(avg(col("recall"))).head.getDouble(0)
    info(s"JL recall@3 at k=32: $r")
    assert(r >= 0.10, s"JL sign matrix degraded below the random-sign band: $r")
    val width = graft.SparkEntry.queries("q154_jl_projection_search")(spark, dir)
      .count()
    assert(width == 300, s"bounded batch must produce 100x3 rows, got $width")
  }

  test("the production residual point completes the recall curve honestly") {
    // the residual-vs-raw isolation at q146/q147's (M=8, k=256) sizing.
    // MEASURED result on this fixture: residual does NOT beat raw here
    // (raw 0.36 vs residual ~0.34) — and that is the expected physics,
    // not a bug: k=256 codebooks over 500 vectors (~2 vectors/cell)
    // have budget to spare, and residual encoding's advantage is
    // precisely that a LIMITED budget spends its cells on a tighter
    // distribution. The fixture-sized pin above (k=16, budget-starved)
    // models the production corpus:k regime, where the edge shows.
    // What must hold at the saturated point: the sizing lever still
    // works for the residual tier (prod ≥ fixture sizing), and the two
    // prod points sit in the same saturation band.
    val rawProd = Similarity.adcMeanRecall(spark, dir,
      Similarity.rawIvfpqTop3(spark, dir, Similarity.PqKProd, Similarity.PqMProd))
    val resProd = Similarity.adcMeanRecall(spark, dir,
      graft.SparkEntry.queries("q146_residual_prod_search")(spark, dir)
        .select(col("vec_id").as("qid"), col("neighbor_id")))
    val resFix = Similarity.adcMeanRecall(spark, dir,
      graft.SparkEntry.queries("q101_residual_ivfpq")(spark, dir)
        .select(col("vec_id").as("qid"), col("neighbor_id")))
    info(s"IVF-PQ recall@3 at (M=8, k=256): raw $rawProd, residual $resProd" +
      s" (residual fixture point: $resFix)")
    assert(resProd >= resFix,
      s"production sizing must not lose to fixture sizing: $resProd < $resFix")
    assert(resProd >= rawProd - 0.05,
      s"residual prod point fell out of raw's saturation band: $resProd vs $rawProd")
  }

  test("per-cell membership stays O(sqrt n)-bounded on BOTH router arms") {
    // VERDICT r15 item 1's ScaleSpec pin, the data-side half of
    // RouterSizingSpec's sizing corridor: on the fixture corpus, the
    // TRAINED occupancy of both router arms (flat coarse cells and IMI
    // product cells) keeps max cell size and total pair work inside the
    // O(sqrt(n)) / O(n^1.5) contract the cell-bounded consumers
    // (SemDeDup q325/q353/q357, the kNN label audit q339) assume. The
    // factor-8 slack absorbs trained-clustering skew; what it must
    // catch is a regression to corpus-sized cells (a broken router
    // would put ~n vectors in one cell: n = 8.9·sqrt(n) at n=500, and
    // pair work n² = 22·n^1.5 — both outside the corridor).
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val sqrtN = math.sqrt(n.toDouble)
    val (_, a2) = Similarity.kmTrained(spark, dir)
    def sizes(assigns: org.apache.spark.sql.DataFrame): Array[Long] =
      assigns.groupBy("cell").count().select("count")
        .collect().map(_.getLong(0))
    for ((arm, s) <- Seq("flat" -> sizes(a2),
        "imi" -> sizes(Similarity.imiAssigns(spark, dir)))) {
      val mx = s.max
      val pairWork = s.map(c => c * c).sum
      info(s"$arm arm: ${s.length} occupied cells, max $mx, " +
        s"pair work $pairWork (n^1.5 = ${n * sqrtN})")
      assert(mx <= 8 * sqrtN,
        s"$arm arm: max cell $mx exceeds 8*sqrt(n) = ${8 * sqrtN}")
      assert(pairWork <= 8 * n * sqrtN,
        s"$arm arm: pair work $pairWork exceeds 8*n^1.5 = ${8 * n * sqrtN}")
    }
  }

  test("pruned multi-sequence frontier equals the full product grid's top-p^2") {
    // the dominance argument imiMultiSeqCells relies on (top-m joint
    // sums of two sorted lists lie within each list's top-m), pinned
    // against a full-grid reference built here without pruning: same
    // joint (d, ca, cb) order, every query's selected product cells
    // must be IDENTICAL — the pruning is an exact-answer optimization
    // (16 scored rows per query instead of k'^2), not an approximation.
    import org.apache.spark.sql.expressions.Window
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val qe = e.where(col("vec_id") < 100)
    val pruned = Similarity.imiMultiSeqCells(spark, dir, qe)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val (cents, _) = Similarity.pqTrained(spark, dir,
      Similarity.kImi(spark, dir), 2)
    def halfAll(m: Int) = qe
      .select(col("vec_id"),
        expr(s"slice(embedding, ${m * 32 + 1}, 32)").as("hemb"))
      .crossJoin(broadcast(cents.where(col("m") === m)
        .select(col("cell").as(s"c$m"), col("cen"))))
      .select(col("vec_id"), col(s"c$m"),
        graft.functions.VectorFunctions.l2DistSq(col("hemb"), col("cen"))
          .as(s"d$m"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("d0") + col("d1"), col("c0"), col("c1"))
    val full = halfAll(0).join(halfAll(1), "vec_id")
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 4)
      .select(col("vec_id"), col("c0"), col("c1"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(pruned == full,
      s"pruned frontier diverged from the full grid: " +
        s"only-pruned=${pruned -- full}, only-full=${full -- pruned}")
  }

  test("residual codes keep the strict win on a CLUSTERED corpus") {
    // ADVICE r15: the uniform fixture lost the residual edge when the
    // coarse k went ~ sqrt(n) (residuals of a structureless corpus are
    // distributed like the corpus itself), and the in-band assertion
    // above no longer pins IVFADC's residual-encoding advantage. This
    // fixture restores the regime the advantage comes from: 10 REAL
    // clusters (unit noise around well-separated centers), where the
    // coarse quantizer absorbs the between-cluster mass and the (M, k)
    // code budget spends its cells on the tight within-cluster noise —
    // the strict res >= raw assertion lives here.
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(10, 64)(rnd.nextGaussian() * 3.0)
    val rows = (0 until 400).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.25).toFloat).toSeq,
        i % 10)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_clustered")
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val raw = Similarity.adcMeanRecall(spark, tmp.toString,
      Similarity.rawIvfpqTop3(spark, tmp.toString))
    val res = Similarity.adcMeanRecall(spark, tmp.toString,
      graft.SparkEntry.queries("q101_residual_ivfpq")(spark, tmp.toString)
        .select(col("vec_id").as("qid"), col("neighbor_id")))
    info(s"clustered-corpus IVF-PQ recall@3: raw $raw, residual $res")
    // measured on this deterministic fixture: raw 0.15, residual 0.25 —
    // the strict win, not just non-degradation
    assert(res > raw,
      s"residual codes must WIN on clustered data: $res <= $raw")
  }

  test("NN-Descent converges fast on a clustered corpus") {
    // the evidence behind q366's isotropy reading: on the graded corpus
    // (near-flat spectrum, q321) the convergence curve crawls to 0.38 by
    // round 3 (q367's measured row), and the scaladoc claims that is the
    // REGIME, not the algorithm. This fixture is the same 10-Gaussian-
    // cluster corpus the residual test uses: neighbor-of-neighbor
    // transitivity is strong inside real clusters, so the same 3 rounds
    // from the same pure-hash init must land near the true graph — and
    // the init itself must NOT be the explanation (round 0 stays poor).
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(10, 64)(rnd.nextGaussian() * 3.0)
    val rows = (0 until 400).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.25).toFloat).toSeq,
        i % 10)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_nnd_clu")
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val e = spark.read.parquet(s"$tmp/embeddings.parquet")
      .select("vec_id", "embedding")
    val truth = {
      val q = e.where(col("vec_id") < 100)
        .select(col("vec_id").as("src"), col("embedding").as("ea"))
      val c = e.select(col("vec_id").as("dst"), col("embedding").as("eb"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("src")
        .orderBy(col("cos").desc, col("dst").asc)
      q.join(c, col("src") =!= col("dst"))
        .select(col("src"), col("dst"),
          graft.functions.VectorFunctions.cosineSim(col("ea"), col("eb"))
            .as("cos"))
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
        .where(col("rn") <= 5).select("src", "dst")
        .localCheckpoint()
    }
    val nTrue = truth.count().toDouble
    def recall(g: org.apache.spark.sql.DataFrame): Double =
      g.select("src", "dst").where(col("src") < 100)
        .join(truth, Seq("src", "dst"), "left_semi").count() / nTrue
    val graphs = Similarity.nnDescentGraphs(spark, tmp.toString)
    val r0 = recall(graphs.head)
    val r3 = recall(graphs.last)
    info(s"clustered-corpus NN-Descent recall@5: init $r0, round 3 $r3")
    assert(r3 >= 0.75,
      s"3 rounds must near-converge on clusterable data: $r3")
    assert(r0 <= 0.25 && r3 > r0 + 0.4,
      s"the rounds, not the hashed init, must find the graph: $r0 -> $r3")
  }

  test("beam-search scored work stays inside the hop budget") {
    // the n-independence claim in q368's scale shape, pinned as data:
    // entries (<= E per query) plus HOPS expansions of a B-wide beam
    // over a (<= 2K)-degree symmetrized graph bound the DISTINCT scored
    // pairs at E + H*B*(2K+1) per query, whatever n is. A regression to
    // corpus-sized fan-out (e.g. expanding the whole candidate set
    // instead of the pruned beam) blows the bound immediately.
    val row = graft.SparkEntry.queries("q369_graph_ann_recall")(spark, dir)
      .where(col("mode") === "graph_beam")
      .select("n_candidates").head.getLong(0)
    val bound = 100L * (4 + 3 * 8 * (2 * 5 + 1))
    info(s"beam scored pairs: $row (budget bound $bound)")
    assert(row <= bound, s"beam scored $row pairs, budget is $bound")
  }

  test("hierarchical entries beat hashed entries on a clustered corpus") {
    // q380's committed rows show the layer buying nothing at sf0.01 and
    // the scaladoc attributes that to the corpus (isotropic, q372), not
    // the tier. This is the converse pin on the shared 10-Gaussian
    // fixture: the layer-1 prefix (ids 0..24, i%10 -> every cluster
    // represented) lets the descent land entries in the query's OWN
    // cluster, while affine-hashed entries start in a random one — and
    // since the NN-Descent graph on clustered data is mostly
    // within-cluster edges, entry cluster decides recall.
    val rnd = new scala.util.Random(17)
    val centers = Array.fill(10, 64)(rnd.nextGaussian() * 3.0)
    val rows = (0 until 400).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.25).toFloat).toSeq,
        i % 10)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_hier_clu")
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val audit = graft.SparkEntry.queries("q380_hier_entry_audit")(
      spark, tmp.toString).collect()
    val byMode = audit.map(r => r.getString(0) -> r.getLong(4)).toMap
    info(s"clustered-corpus entry audit (recall ppm): $byMode")
    assert(byMode("hier_entry") > byMode("hashed_entry"),
      s"descent entries must win on clustered data: $byMode")
  }

  test("alpha-pruned graph: dominance invariant, degree cap, spread") {
    // the three properties RobustPrune owns regardless of corpus
    // regime (q382's scaladoc: recall is decided by pool provenance,
    // so the spec pins the rule, not a recall bet):
    //  1. degree cap: every vertex keeps at most PruneR = 5 edges;
    //  2. alpha-dominance: no kept edge is dominated by an
    //     earlier-kept one — 1.2*(1-cos(k,c)) > (1-cos(v,c)) for every
    //     kept pair with rank_k < rank_c (the rule, re-verified on the
    //     artifact with independently recomputed pairwise cosines);
    //  3. diversification: kept neighborhoods are measurably more
    //     SPREAD than the closest-K graph's — mean max pairwise cosine
    //     inside a neighborhood strictly drops.
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val pruned = Similarity.alphaPrunedGraph(spark, dir).localCheckpoint()
    val deg = pruned.groupBy("src")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("d"))
    assert(deg.where(col("d") > 5).count() === 0, "degree cap violated")
    def pairCos(g: org.apache.spark.sql.DataFrame) = g
      .select(col("src"), col("dst").as("a"), col("cos").as("cos_va"),
        col("rank").as("ra"))
      .join(g.select(col("src"), col("dst").as("b"), col("cos").as("cos_vb"),
        col("rank").as("rb")), "src")
      .where(col("a") =!= col("b"))
      .join(e.select(col("vec_id").as("a"), col("embedding").as("ea")), "a")
      .join(e.select(col("vec_id").as("b"), col("embedding").as("eb")), "b")
      .withColumn("cos_ab",
        graft.functions.VectorFunctions.cosineSim(col("ea"), col("eb")))
    val violations = pairCos(pruned)
      .where(col("ra") < col("rb"))
      .where(lit(1.2) * (lit(1.0) - col("cos_ab"))
        <= (lit(1.0) - col("cos_vb")))
      .count()
    assert(violations === 0, s"$violations kept pairs violate the alpha rule")
    val closestK = Similarity.nnDescentGraphs(spark, dir).last
    def meanMaxPair(g: org.apache.spark.sql.DataFrame): Double = pairCos(g)
      .groupBy("src")
      .agg(org.apache.spark.sql.functions.max(col("cos_ab")).as("mx"))
      .agg(org.apache.spark.sql.functions.avg("mx")).head.getDouble(0)
    val (sp, scl) = (meanMaxPair(pruned), meanMaxPair(closestK))
    info(s"mean max within-neighborhood cosine: pruned $sp, closest-K $scl")
    assert(sp < scl, s"pruned neighborhoods must spread: $sp >= $scl")
  }

  test("mergeable-quantile rank bound holds on live data") {
    // q398's gated output carries bound_ok, but the gate only proves
    // both engines AGREE — this pins that the N/k + shards + 1 rank
    // bound actually holds (the merge's correctness claim) on the real
    // ledger at every target.
    val rows = graft.SparkEntry.queries("q398_mergeable_quantiles")(
      spark, dir).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      val byName = r.schema.fieldNames.zipWithIndex.toMap
      assert(r.getBoolean(byName("bound_ok")),
        s"rank bound violated at pct ${r.getLong(byName("pct"))}: " +
          s"err ${r.getLong(byName("rank_err"))} > " +
          s"bound ${r.getLong(byName("rank_bound"))}")
    }
  }

  test("TwoNN reads intrinsic dimension, not ambient dimension") {
    // q372's estimator, pinned on fixtures whose true intrinsic
    // dimension is KNOWN: 400 points on a smooth 1-d curve embedded in
    // the same 64-d ambient space must measure d-hat ~ 1 (the ratio
    // d2/d1 of a 1-manifold is Pareto(1) no matter where it is
    // embedded), while the graded corpus measures ~39 (q372's committed
    // row at sf0.01) - the estimator separates the regimes the
    // graph/ANN family's readings turn on, and it is NOT fooled by the
    // ambient 64 dims.
    import spark.implicits._
    // POISSON sampling of the curve (TwoNN's model): random arc
    // positions, not a uniform grid - equally spaced points have
    // d2/d1 ~ 1 everywhere and the MLE diverges, which is a property
    // of the sampling, not the manifold
    val rnd = new scala.util.Random(13)
    val curve = (0 until 400).map { i =>
      val t = rnd.nextDouble() * 8.0
      (i.toLong,
        Array.tabulate(64)(j => math.cos(t * (j % 7 + 1) / 3.0 + j).toFloat)
          .toSeq,
        0)
    }
    val cdf = curve.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding"), col("label"))
    val idCurve = Similarity.twoNNSummary(spark, cdf)
      .select("id_hat_ppm").head.getLong(0)
    val idCorpus = Similarity.twoNNSummary(spark,
        spark.read.parquet(s"$dir/embeddings.parquet"))
      .select("id_hat_ppm").head.getLong(0)
    info(s"TwoNN d-hat: 1-d curve ${idCurve / 1e6}, corpus ${idCorpus / 1e6}")
    assert(idCurve <= 3L * 1000000,
      s"a 1-manifold must measure low intrinsic dimension: $idCurve ppm")
    assert(idCorpus >= 10L * 1000000,
      s"the near-isotropic corpus must measure high: $idCorpus ppm")
  }

  test("filtered ANN: k same-label results per query, filter never starves k") {
    val labels = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"))
    val r = graft.SparkEntry.queries("q103_filtered_ann")(spark, dir)
    // every neighbor shares its query's label
    val crossLabel = r
      .join(labels, Seq("vec_id"))
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("nlabel")), Seq("neighbor_id"))
      .where(col("label") =!= col("nlabel")).count()
    assert(crossLabel == 0, s"$crossLabel cross-label results escaped the filter")
    // pre-filtering keeps a full k for every query on this fixture —
    // a post-filtered top-k would return < 3 for most queries
    val counts = r.groupBy("vec_id").count().agg(min("count"), max("count"))
      .collect().head
    assert(counts.getLong(0) == 3 && counts.getLong(1) == 3,
      s"per-query result counts drifted: $counts")

    // hard negatives are the complement: every mined neighbor is
    // OTHER-label, and the sampler still fills k per query
    val hn = graft.SparkEntry.queries("q104_hard_negatives")(spark, dir)
    val sameLabel = hn
      .join(labels, Seq("vec_id"))
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("nlabel")), Seq("neighbor_id"))
      .where(col("label") === col("nlabel")).count()
    assert(sameLabel == 0, s"$sameLabel same-label rows leaked into the negatives")
    val hnCounts = hn.groupBy("vec_id").count().agg(min("count"), max("count"))
      .collect().head
    assert(hnCounts.getLong(0) == 3 && hnCounts.getLong(1) == 3,
      s"hard-negative counts drifted: $hnCounts")
  }

  test("q128 shuffle shards are balanced and the permutation breaks input order") {
    // the whole design rests on the hash shard being a uniform random
    // partition: a skewed shard serializes a dataloader worker, and an
    // order-preserving "shuffle" defeats its training purpose
    val rows = graft.SparkEntry
      .queries("q128_shuffle_shards")(spark, "/root/testdata/sf0.001")
      .collect()
    val sizes = rows.groupBy(_.getInt(0)).map(_._2.length)
    val (mx, mn) = (sizes.max, sizes.min)
    assert(sizes.size == 8 && mn > 0, s"empty shard: ${sizes.toSeq.sorted}")
    assert(mx <= 2 * mn, s"shard skew ${sizes.toSeq.sorted} (max > 2*min)")
    // within a shard, pos order must not be doc_id order (the second
    // hash actually permutes; sorted-by-id would mean no shuffle at all)
    val shard0 = rows.filter(_.getInt(0) == 0).sortBy(_.getLong(1)).map(_.getLong(2))
    assert(!shard0.sameElements(shard0.sorted),
      "shard 0 pos order equals doc_id order — permutation is a no-op")
  }

  test("temperature mix rates are monotone in alpha; endpoints behave") {
    val alphas = Seq(0.0, 0.25, 0.5, 0.75, 1.0)
    val rates = alphas.map { a =>
      Pipeline.temperatureRates(spark, dir, a)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    }
    val langs = rates.head.keySet
    assert(langs.size > 1, "fixture must have multiple languages")
    // hotter alpha keeps more of every language: (n_min/n_l)^(1-a) is
    // nondecreasing in a for n_min/n_l <= 1
    for (pair <- rates.sliding(2); l <- langs)
      assert(pair(0)(l) <= pair(1)(l),
        s"rate for $l not monotone in alpha")
    // alpha=1 is pass-through; at every alpha the smallest language keeps
    // all, and on the skewed fixture the head language is truly sampled
    assert(rates.last.values.forall(_ == 1000000L))
    assert(rates.forall(_.values.max == 1000000L))
    assert(rates.head.values.min < 1000000L,
      "fixture skew must make alpha=0 actually downsample")
  }

  test("triangle census: cliques, paths, and pendant edges count exactly") {
    import spark.implicits._
    // K4 on {1,2,3,4}: C(4,3)=4 triangles, every node in C(3,2)=3 of them
    val k4 = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L))
      .toDF("doc_a", "doc_b")
    val t4 = Similarity.triangleCounts(k4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t4 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"K4 census wrong: $t4")
    // a path has zero triangles -> empty census (wedges never close)
    val path = Seq((1L,2L),(2L,3L),(3L,4L)).toDF("doc_a", "doc_b")
    assert(Similarity.triangleCounts(path).count() == 0,
      "path graph produced phantom triangles")
    // triangle + pendant edge: the pendant node 4 is in no triangle, and
    // the degree-oriented enumeration still finds the one triangle ONCE
    val tp = Seq((1L,2L),(1L,3L),(2L,3L),(3L,4L)).toDF("doc_a", "doc_b")
    val c = Similarity.triangleCounts(tp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"pendant census wrong: $c")
  }

  test("q223 largest-remainder allocation is exact: sums to N, quota rule holds") {
    // Hamilton apportionment's defining guarantees: the allocations sum
    // to EXACTLY the budget (no float drift), and every source gets its
    // quota floor or floor+1 (the quota rule) — floats give neither
    val rows = graft.SparkEntry
      .queries("q223_proportional_alloc")(spark, dir).collect()
    val n = rows.map(_.getLong(1)).sum
    val allocs = rows.map(r => (r.getLong(1), r.getLong(2)))
    assert(allocs.map(_._2).sum == 999L,
      s"allocations sum to ${allocs.map(_._2).sum}, not 999")
    for ((docs, alloc) <- allocs) {
      val fl = 999L * docs / n
      assert(alloc == fl || alloc == fl + 1,
        s"quota rule violated: n=$docs floor=$fl alloc=$alloc")
    }
  }

  test("q222 kept tokens reconcile with q116's canonical picks") {
    // the ROI report and the survivor table are two views of the same
    // decision: summing kept tokens across sources must equal summing
    // n_tokens over exactly the q116 canonical documents
    val roi = graft.SparkEntry
      .queries("q222_dedup_token_roi")(spark, dir).collect()
    val keptTotal = roi.map(_.getLong(2)).sum
    val canon = graft.SparkEntry
      .queries("q116_canonical_docs")(spark, dir)
      .select("canonical_doc")
    val toks = TextAnalysis.qualityBase(spark, dir)
      .select(col("doc_id").as("canonical_doc"),
        col("n_tokens").cast("long").as("n_tokens"))
    val expected = canon.join(toks, "canonical_doc")
      .agg(sum("n_tokens")).collect()(0).getLong(0)
    assert(keptTotal == expected,
      s"q222 kept=$keptTotal but q116 canonicals carry $expected tokens")
    for (r <- roi) {
      assert(r.getLong(3) == r.getLong(1) - r.getLong(2), "saved != total - kept")
      assert(r.getLong(4) >= 0 && r.getLong(4) < 1000000L, "saved_ppm out of range")
    }
  }

  test("q225 overlap estimates respect the register-merge dominance bound") {
    // cell-wise max-merge dominates each input table, so the union
    // estimate is mathematically >= each single-source estimate (up to
    // the 1e-4 output rounding); inclusion-exclusion must also reconcile
    val rows = graft.SparkEntry
      .queries("q225_hll_overlap")(spark, dir).collect()
    assert(rows.length == 190, s"expected 190 source pairs, got ${rows.length}")
    for (r <- rows) {
      val (ea, eb, eu, eo) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(eu >= math.max(ea, eb) - 1e-3,
        s"union est $eu below max($ea, $eb) for ${r.get(0)}/${r.get(1)}")
      assert(math.abs(eo - (ea + eb - eu)) <= 2e-4,
        s"inclusion-exclusion drift: $eo vs ${ea + eb - eu}")
      assert(r.getLong(6) >= 0L)
    }
  }

  test("q224 blocked linkage returns ordered pairs within the distance bound") {
    val rows = graft.SparkEntry
      .queries("q224_blocked_linkage")(spark, dir).collect()
    assert(rows.nonEmpty, "fixture has near-identical part descriptors")
    for (r <- rows) {
      assert(r.getLong(0) < r.getLong(1), "pair not ordered")
      assert(r.getLong(2) <= 2L, s"distance ${r.getLong(2)} above threshold")
    }
  }

  test("q226 Theil-Sen medians come from complete pair sets") {
    val rows = graft.SparkEntry
      .queries("q226_theil_sen_trend")(spark, dir).collect()
    val days = spark.read.parquet(s"$dir/events.parquet")
      .select(org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("ts")).as("day"), col("event_type"))
      .distinct().groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.nonEmpty)
    for (r <- rows) {
      val d = days(r.getString(0))
      assert(r.getLong(1) == d * (d - 1) / 2,
        s"${r.getString(0)}: n_pairs ${r.getLong(1)} != C($d,2)")
    }
  }

  test("q228 run counts sit between NDV and row count") {
    val rows = graft.SparkEntry
      .queries("q228_rle_runs_audit")(spark, dir).collect()
    assert(rows.length == 4)
    for (r <- rows) {
      val (n, runs, ndv) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(runs >= ndv && runs <= n,
        s"${r.getString(0)}: runs $runs outside [$ndv, $n]")
    }
  }

  test("q227 l-diversity flags are consistent with the reported l") {
    val rows = graft.SparkEntry
      .queries("q227_l_diversity")(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getBoolean(4) == (r.getLong(3) < 5L), "flag mismatch")
      assert(r.getLong(3) >= 1L && r.getLong(3) <= r.getLong(2),
        "l outside [1, group_size]")
    }
  }

  test("q231 scenes tile each asset's frames exactly") {
    // segmentation must be a PARTITION of the frame sequence: scenes per
    // asset are contiguous, non-overlapping, cover frames 0..7, and
    // scene indices are dense from 0
    val rows = graft.SparkEntry
      .queries("q231_scene_cuts")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    for ((_, grp) <- rows.groupBy(_._1)) {
      val scenes = grp.sortBy(_._2)
      assert(scenes.map(_._2).toSeq == scenes.indices.map(_.toLong).toSeq,
        "scene indices not dense")
      assert(scenes.head._3 == 0L && scenes.last._4 == 7L, "frames not covered")
      for (Array(a, b) <- scenes.sliding(2).map(_.toArray) if b != null && a != null)
        assert(b._3 == a._4 + 1, s"gap/overlap between scenes $a and $b")
      assert(scenes.forall(x => x._5 == x._4 - x._3 + 1), "n_frames mismatch")
    }
  }

  test("q235 bootstrap replicates are unbiased and actually vary") {
    val rows = graft.SparkEntry
      .queries("q235_poisson_bootstrap")(spark, dir).collect()
    assert(rows.length == 32)
    val docs = spark.read.parquet(s"$dir/documents.parquet").count()
    val means = rows.map(_.getLong(3))
    // Poisson(1) weights: every replicate's effective n is within a few
    // sigma of the corpus size, and the means are not all identical
    // (a broken seed collapses every replicate to the same draw)
    for (r <- rows) {
      val nEff = r.getLong(1)
      assert(math.abs(nEff - docs) < 6 * math.sqrt(docs.toDouble) + 1,
        s"replicate ${r.getLong(0)}: n_eff $nEff vs n $docs")
    }
    assert(means.distinct.length > 16, "replicate means barely vary")
  }
}
