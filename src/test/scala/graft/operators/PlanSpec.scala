package graft.operators

import graft.SparkSuite

/** Plan-shape regression tests: these lock in the scale properties the
  * engine is designed around — filters/projections reaching the parquet
  * scan, top-k short-circuits, and the absence of all-pairs cross joins
  * in the candidate-generation operators. A change that silently degrades
  * one of these plans fails here long before it fails at 100 TB.
  */
class PlanSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"
  private def plan(q: String): String =
    graft.SparkEntry.queries(q)(spark, dir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q02 pushes filters and prunes columns at the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), s"no pushed filters:\n$p")
    assert(p.contains("LessThan(l_quantity"), s"no pushed filters:\n$p")
    // pruning: the scan must not read columns the query never touches
    assert(!p.contains("l_tax") && !p.contains("l_returnflag"),
      s"column pruning lost:\n$p")
  }

  test("q14 plans as TakeOrderedAndProject, not a full sort") {
    val p = plan("q14_top_n")
    assert(p.contains("TakeOrderedAndProject"), s"full sort crept in:\n$p")
  }

  test("q07 short-circuits ranking with WindowGroupLimit") {
    val p = plan("q07_topk_per_group")
    assert(p.contains("WindowGroupLimit"), s"no window group limit:\n$p")
  }

  test("candidate-generation operators never cross-join the full table") {
    for (q <- Seq("q30_cosine_topk", "q31_minhash_neardup",
        "q39_simhash_neardup", "q40_jaccard_neardup", "q41_embedding_neardup",
        "q45_srp_lsh_ann", "q82_quantized_knn")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a BNLJ:\n$p")
    }
  }

  test("q85 capped dedup: both the pair and star paths stay equi-joins") {
    for (q <- Seq("q85_capped_clusters")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a BNLJ:\n$p")
    }
  }

  test("q44 brute-force baseline broadcasts only the bounded query batch") {
    val p = plan("q44_knn_bruteforce")
    // BNLJ is expected here — the build side is the constant-size batch
    assert(p.contains("BroadcastNestedLoopJoin"), s"expected BNLJ baseline:\n$p")
  }

  test("composed IVF search serves probes from the materialized index, never all-pairs") {
    for (q <- Seq("q71_ivf_search", "q72_ivf_multiprobe")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      // the trained index is a materialized artifact: both the probe and
      // candidate sides must read the cached assignments, not re-run the
      // Lloyd training pipeline per join side
      assert(p.contains("Scan ExistingRDD") || p.contains("InMemoryTableScan")
          || p.contains("InMemoryRelation"),
        s"$q re-trains instead of reading the materialized index:\n$p")
    }
  }

  test("aggregations are partial+final (map-side combine present)") {
    for (q <- Seq("q01_pricing_summary", "q62_pivot")) {
      val p = plan(q)
      assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
        s"$q has no partial aggregation:\n$p")
    }
  }

  test("q70 probes distinct (doc, tok) counts, never a cartesian or raw-token join") {
    // deliberately NOT pinned to a join strategy: the floored vocab is
    // bounded (≤ totalTokens/minCount entries), and AQE legitimately
    // picks broadcast at small SF and a shuffle join past the threshold —
    // pinning BroadcastHashJoin here is what entrenched the r7 OOM shape
    val p = plan("q70_lm_score")
    assert(!p.contains("CartesianProduct"), s"q70 plans a cartesian:\n$p")
    // the vocab join's probe side must be the aggregated (doc, tok)
    // counts, not exploded token instances: partial+final aggs upstream
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4,
      s"q70 lost the pre-join (doc, tok) aggregation:\n$p")
  }

  test("q69 aggregates grams partial+final before the doc_id join") {
    val p = plan("q69_repetition_stats")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4,
      s"q69 lost map-side combine on the gram counts:\n$p")
    assert(!p.contains("CartesianProduct"), s"q69 plans a cartesian:\n$p")
  }

  test("q77 probes the bloom filter map-side, before the confirming semi-join") {
    val p = plan("q77_bloom_decontaminate")
    val tree = p.split("\n\n").head
    assert(!p.contains("CartesianProduct"), s"q77 plans a cartesian:\n$p")
    // the bloom probe must be a Filter on the train gram stream — pruning
    // happens before the shuffle, so the semi-join sees candidates only
    assert(p.contains("graft_bloom_probe"),
      s"bloom probe vanished from the plan:\n$p")
    assert(tree.contains("LeftSemi"),
      s"the exact confirming semi-join is gone — the bloom alone must " +
        s"never decide membership:\n$tree")
    assert(p.linesIterator.exists(l =>
      l.contains("Condition") && l.contains("graft_bloom_probe")),
      s"bloom probe is not a Filter condition:\n$p")
    // broadcast-handle form: the plan must NOT embed the serialized
    // filter — the probe's only literal argument is the handle id
    assert(!p.contains("graft_bloom_might_contain"),
      s"q77 regressed to the binary-literal probe:\n$p")
  }

  test("q78 quantization audit is map-only up to the output sort") {
    val p = plan("q78_embedding_quantize")
    val tree = p.split("\n\n").head
    val exchanges = tree.linesIterator.count(_.trim.matches(".*\\bExchange\\b.*"))
    assert(exchanges == 1,
      s"q78 should shuffle once (the orderBy range), got $exchanges:\n$tree")
    assert(!tree.contains("Join"), s"q78 needs no join:\n$tree")
  }

  test("q79 recall audit: truth rides the shared artifact leaf, SRP side equi-joins") {
    val p = plan("q79_ann_recall")
    assert(!p.contains("CartesianProduct"), s"q79 plans a cartesian:\n$p")
    // r18 2nd pass: the brute-force truth is the shared cos_truth
    // ARTIFACT (computed once per session, its BNLJ paid inside the
    // artifact build) — the audit's own plan must carry NO pair loop at
    // all, and the approximate side must stay a bucket equi-join
    val tree = p.split("\n\n").head
    assert(tree.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) == 0,
      s"q79 should read the truth leaf, not re-run the pair loop:\n$tree")
    assert(tree.contains("Scan ExistingRDD"),
      s"q79's truth side should be the checkpointed artifact leaf:\n$tree")
  }

  test("q81 mixture balance broadcasts rates and filters the corpus map-side") {
    val p = plan("q81_mixture_balance")
    assert(!p.contains("CartesianProduct"), s"q81 plans a cartesian:\n$p")
    // every join input that matters is ~#sources rows: the corpus side
    // must never be shuffled for a sort-merge join
    assert(!p.contains("SortMergeJoin"),
      s"q81 shuffles the corpus for a join — rates should broadcast:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"rates join lost broadcast:\n$p")
  }

  test("q103/q104 label predicate rides the candidate join, pre-rank") {
    for (q <- Seq("q103_filtered_ann", "q104_hard_negatives")) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      // post-filtering a top-k starves queries; the pin is that some
      // JOIN carries the label predicate together with the cell key
      val labelJoins = df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.condition.exists { c =>
              val s = c.sql
              s.contains("label") && s.contains("cell")
            } => j
      }
      assert(labelJoins.nonEmpty,
        s"$q: label predicate is not part of the candidate join:\n$p")
    }
  }

  test("q94 index append is a stateless map: no join, no aggregation exchange") {
    // the frozen codebooks ride the plan as literals; the only exchange
    // is the presentation sort — an append job must scale with shard
    // arrival rate, never corpus size (and the same transform is q109's
    // streaming ingest, where a shuffle would mean a state store)
    val p = plan("q94_index_append")
    assert(!p.contains("Join"), s"q94 append pays a join:\n$p")
    // r18: the literal-codebook encode is fanned out across cores with
    // one ROUND-ROBIN repartition of the arriving shard (shard-sized,
    // never corpus-sized — the single-task-scan defect fix); the only
    // other exchange is the presentation sort. Hash/aggregation
    // exchanges stay forbidden — they would mean a join or a state
    // store crept into the append path.
    assert(!p.contains("Exchange hashpartitioning"),
      s"q94 append pays an aggregation/join exchange:\n$p")
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(exchanges <= 2,
      s"q94 should only exchange for the fan-out + final sort:\n$p")
  }

  test("q125 bucketed join runs exchange-free: co-location comes from the layout") {
    // both sides are written bucketBy(8, joinKey): the sort-merge join
    // must consume bucketed scans directly — the ONLY exchanges in the
    // plan are the post-join aggregation and the presentation sort. If a
    // shuffle ever appears under the join, the bucketed layout has
    // stopped paying for itself and every downstream joining job
    // re-shuffles the corpus.
    val p = plan("q125_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"bucketed join lost the SMJ path:\n$p")
    assert(!p.contains("BroadcastHashJoin"), s"broadcast crept in (proves nothing):\n$p")
    assert(p.contains("Bucketed: true"), s"scan is not bucket-aware:\n$p")
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(exchanges == 2,
      s"want only agg + sort exchanges (join itself exchange-free), got $exchanges:\n$p")
  }

  test("q126 funnel folds per-user: one corpus shuffle, no per-step joins") {
    // the stepwise-min relational formulation pays a join + shuffle PER
    // funnel step; the fold pays ONE user_id shuffle for the whole state
    // machine. The remaining exchanges are result-sized: the 5-row
    // histogram agg and the presentation sort.
    val p = plan("q126_event_funnel")
    assert(!p.contains("Join"), s"funnel pays per-step joins:\n$p")
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(exchanges == 3,
      s"want user_id shuffle + histogram agg + sort, got $exchanges:\n$p")
  }

  test("q127 cohort join never re-shuffles the events side") {
    // the cohort table is user-granularity — always the small side. At
    // fixture scale Catalyst broadcasts it (events never exchange for
    // the join at all); at cluster scale an SMJ would reuse the cohort
    // aggregate's user_id partitioning. Either way the events scan must
    // not pay a join-induced shuffle: the only plain exchanges are the
    // cohort aggregate's own and the two-phase distinct + sort.
    val p = plan("q127_retention_cohorts")
    assert(p.contains("BroadcastHashJoin") || p.contains("ReusedExchange"),
      s"cohort join re-shuffles events:\n$p")
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(exchanges <= 4, s"extra shuffle crept into the cohort join:\n$p")
  }

  test("q128 global shuffle: one hash exchange + shard-local sorts, no range sort of the corpus") {
    // the naive ORDER BY random-key permutation is a corpus-wide range
    // sort (sampling pass + skew-prone range exchange); the shard-hash
    // formulation must plan as ONE hash exchange (the window's
    // partition-by) plus the result-presentation sort — and the window
    // sort stays shard-local
    val p = plan("q128_shuffle_shards")
    assert(!p.contains("Join"), s"shuffle-shard pays a join:\n$p")
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(exchanges == 2,
      s"want shard hash exchange + presentation sort only, got $exchanges:\n$p")
  }

  test("q129 cold ingest probes the store on fingerprints only: text never rides the join") {
    // the written store side of the dedup probe must scan exactly the
    // sorted 8-byte chunk_fp column — at 100 TB the probe cost is the
    // fingerprint column of the accumulated corpus, not its text
    val p = plan("q129_cold_ingest_dedup")
    assert(p.contains("ReadSchema: struct<chunk_fp:bigint>"),
      s"store scan reads more than the fingerprint column:\n$p")
  }

  test("q142 v2 probe stays a one-column pruned scan on BOTH store segments") {
    // the versioned store's commit must not regress the probe shape:
    // base segment (adopted files) and delta1 segment each scan exactly
    // the sorted 8-byte chunk_fp column, so the v(N) probe cost stays
    // the fingerprint column of the accumulated corpus regardless of
    // how many daily commits the manifest has accreted
    val p = plan("q142_ingest_loop_closed")
    val probeScans = "ReadSchema: struct<chunk_fp:bigint>".r.findAllIn(p).size
    assert(probeScans >= 2,
      s"want one-column fingerprint scans for base AND delta segments, got $probeScans:\n$p")
  }

  test("kmAssign is a pure map: zero exchanges, zero joins per Lloyd pass") {
    // the centroid table rides the plan as a literal (<= 256 rows of
    // router metadata) and the argmin is a map-side array_min — so a
    // Lloyd ASSIGNMENT pass over a 100 TB corpus is scan-speed, where a
    // min_by aggregate would shuffle ~one row per corpus vector per
    // training iteration
    import org.apache.spark.sql.functions.{col, expr}
    val e = graft.Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val c0 = e.where(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("cell"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("cen"))
    val p = Similarity.kmAssign(e, c0).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Join"), s"assignment pays a join:\n$p")
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(exchanges == 0, s"assignment should be map-only, got $exchanges exchanges:\n$p")
  }

  test("q108 filtered shortlist: label rides the quantized candidate join, codes-only payload") {
    val df = Similarity.quantShortlistRerank(spark, dir, sameLabel = true)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"q108 plans a cartesian:\n$p")
    // the predicate must sit IN the shortlist's candidate join (the one
    // keyed on the probed cell), not in a post-rank filter — and that
    // join's payload must be the stored codes, never float embeddings
    val candJoins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.exists { c =>
            val s = c.sql
            s.contains("label") && s.contains("cell")
          } => j
    }
    assert(candJoins.nonEmpty,
      s"q108: label predicate is not part of the quantized candidate join:\n$p")
    candJoins.foreach { j =>
      assert(!j.output.exists(_.name.startsWith("emb")),
        s"q108: float embeddings ride the filtered candidate join: ${j.output.map(_.name)}")
      assert(j.output.exists(_.name.startsWith("code")),
        s"q108: candidate join does not carry stored codes: ${j.output.map(_.name)}")
    }
  }

  test("q99 temperature mix keeps q81's map-side shape; q100 scrub is one agg") {
    val p = plan("q99_temperature_mix")
    assert(!p.contains("CartesianProduct"), s"q99 plans a cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q99 shuffles the corpus for a join — rates should broadcast:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"rates join lost broadcast:\n$p")
    val sc = plan("q100_denylist_scrub")
    // scrub audit is scan → project (regex kernels) → partial agg →
    // exchange on source → final agg → sort: exactly two exchanges
    assert(!sc.contains("Join"), s"q100 must be join-free:\n$sc")
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(sc).size
    assert(exchanges <= 2, s"q100 should shuffle only the per-source agg + sort:\n$sc")
  }

  test("q83 recall audit: no cartesian, tiers serve from the materialized index") {
    val p = plan("q83_ivf_recall")
    assert(!p.contains("CartesianProduct"), s"q83 plans a cartesian:\n$p")
    assert(p.contains("Scan ExistingRDD") || p.contains("InMemoryTableScan")
        || p.contains("InMemoryRelation"),
      s"q83 re-trains instead of reading the materialized index:\n$p")
    // BNLJ count is deliberately NOT pinned: every reference to the
    // cached index re-renders the training pipeline's k-row centroid
    // crossJoins into the tree, and HOW MANY copies print depends on the
    // cache's materialization state (9 cold, 22 after another suite
    // materialized it) — a count would be a flake, not a guard. The
    // all-pairs risk is held by the no-cartesian assert here and the
    // q71/q72 equi-join test; both candidate joins are cell equi-joins
    // against the same cached index those tests pin.
  }

  test("q86 salts the fact side and replicates the dimension across salts") {
    val p = plan("q86_salted_skew_join")
    assert(!p.contains("CartesianProduct"), s"q86 plans a cartesian:\n$p")
    // the dimension side replicates via explode over the salt array...
    assert(p.contains("Generate") && p.contains("explode("),
      s"salt replication lost:\n$p")
    // ...and the physical join key is (key, salt): the hot key's rows
    // spread across numSalts tasks instead of one
    assert(p.contains("__salt"), s"join no longer keyed by salt:\n$p")
  }

  test("q84/q87 serve the candidate join from stored int8 codes, never float embeddings") {
    for (q <- Seq("q84_quantized_ivf", "q87_quantized_rerank")) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      assert(p.contains("Scan ExistingRDD") || p.contains("InMemoryTableScan")
          || p.contains("InMemoryRelation"),
        s"$q re-derives codes instead of reading the quantized artifact:\n$p")
      // the point of the materialized index: every join at or above the
      // quantized artifact carries (code, nq) — 1 byte/dim + a long — not
      // the 4-byte/dim float array. The float embedding may appear only
      // below the artifact (building it), in the probe-cell selection
      // scan, and (q87) in the post-shortlist rerank joins — never as a
      // join output alongside codes.
      val joins = df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      val codeJoins = joins.filter(_.output.exists(_.name.startsWith("code")))
      assert(codeJoins.nonEmpty, s"$q quantized candidate join not found")
      codeJoins.foreach { j =>
        assert(!j.output.exists(a =>
            a.name == "embedding" || a.name.startsWith("emb_")),
          s"$q: float embeddings ride the quantized join: ${j.output.map(_.name)}")
      }
    }
  }

  test("q88 source overlap: map-side-combined sig aggregation, only the tiny pair BNLJ") {
    val p = plan("q88_source_overlap")
    val tree = p.split("\n\n").head
    assert(!p.contains("CartesianProduct"), s"q88 plans a cartesian:\n$p")
    // the 12 min-aggregates must combine map-side: the explode's rows
    // collapse to ~#sources per partition BEFORE the shuffle
    assert(tree.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"q88 lost map-side combine on the source signatures:\n$tree")
    // the pair comparison is the ONLY nested-loop join, over ~#sources
    // rows per side (a broadcast of the aggregated signature table)
    assert(tree.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) == 1,
      s"q88 should BNLJ only the tiny signature pairs:\n$tree")
  }

  test("q91/q92 PQ-ADC: candidate join is code-vs-LUT, floats never ride it") {
    // The ranked ADC tables are checkpointed artifacts, so the registered
    // queries read a materialized leaf; the join-shape invariant lives in
    // the BUILDER plans: the database side must be the stored PQ codes
    // (r18: regrouped to one m-ascending cell ARRAY per vector) met by
    // the broadcast per-query LUT arrays, with the codegen adc_sum fold
    // scoring each pair in place — narrow int/array rows either way.
    // The float embeddings appear only in the LUT build
    // (query batch × M·k centroids) and the bounded-batch truth BNLJ.
    for (q <- Seq("q91_pq_adc_search", "q92_pq_recall", "q93_ivfpq_search",
        "q101_residual_ivfpq", "q102_residual_recall")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      assert(p.contains("Scan ExistingRDD") || p.contains("InMemoryTableScan")
          || p.contains("InMemoryRelation"),
        s"$q re-trains instead of reading the PQ artifact:\n$p")
    }
    for ((label, df) <- Seq(
        "pqAdcTop3" -> Similarity.pqAdcTop3Plan(spark, dir),
        "residualAdcTop3" -> Similarity.residualAdcTop3Plan(spark, dir),
        // the production-sized tier (q106): same invariant, and the
        // candidate side reads the byte-PACKED code table — the 8-byte
        // binary column — unpacked to join keys, never float arrays
        "pqProdAdc" -> Similarity.pqProdAdcPlan(spark, dir))) {
      val adcJoins = df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.output.exists(a => a.name == "ldds" || a.name == "dd") => j
      }
      assert(adcJoins.nonEmpty, s"$label ADC code-vs-LUT join not found")
      adcJoins.foreach { j =>
        assert(!j.output.exists(a =>
            a.name == "embedding" || a.name.endsWith("sub")),
          s"$label: float vectors ride the ADC join: ${j.output.map(_.name)}")
      }
    }
  }

  test("q145 upsert serving keeps probed-cell pruning; the corpus read is the upsert batch only") {
    val p = plan("q145_upsert_serve")
    // the base index's candidate scan stays partition-pruned to the
    // probed cells — composing the upsert mask+union must not widen the
    // file read back to the whole index
    val partFilters = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(partFilters.exists(f => f.contains("cell") && f.contains("IN")),
      s"upsert serving lost probed-cell partition pruning:\n$p")
    // no retrain: the only aggregate-shaped work is probe routing and
    // ranking — a Lloyd recompute would show a per-dimension explode
    assert(!p.contains("posexplode"),
      s"upsert serving appears to retrain centroids:\n$p")
  }

  test("q105 cold serving reads only the written index with a pruned candidate scan") {
    val base = Similarity.writtenIndex(spark, dir)
    val df = Similarity.coldServePlan(spark, base)
    val p = df.queryExecution.executedPlan.toString
    // the serving plan reads files, and ONLY the written artifact's files
    // — never the corpus parquet, never an in-session training artifact
    assert(p.contains("FileScan"), s"cold plan has no file scan:\n$p")
    assert(!p.contains("testdata"), s"cold plan reads the corpus:\n$p")
    assert(!p.contains("Scan ExistingRDD"),
      s"cold plan leans on a session artifact:\n$p")
    // the candidate scan is partition-pruned to the probed cells: the
    // router's cell list must reach the scan as a PartitionFilter, so
    // only the probed cells' files are opened
    val partFilters = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(partFilters.exists(f => f.contains("cell") && f.contains("IN")),
      s"no probed-cell partition pruning in the cold plan:\n$p")
  }

  test("q110 tombstone mask is a broadcast anti-join, applied before ranking") {
    val p = plan("q110_tombstone_serve")
    // the deletion list is an arbitrary id table: a broadcast hash LEFT
    // ANTI join, never a recomputable filter or an index shuffle
    assert(p.contains("LeftAnti"), s"q110 lost the anti-join mask:\n$p")
    assert(!p.contains("SortMergeJoin ["),
      s"q110 shuffles the index for the tombstone mask:\n$p")
    // pre-rank: the anti joins must sit BELOW the rank window, so deleted
    // rows never occupy rank slots
    val rankAt = p.indexOf("Window")
    val lastAnti = p.lastIndexOf("LeftAnti")
    assert(rankAt >= 0 && lastAnti > rankAt,
      s"tombstone mask is not below the rank window:\n$p")
    // masking must not cost the probed-cell partition pruning
    val partFilters = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(partFilters.exists(f => f.contains("cell") && f.contains("IN")),
      s"q110 lost probed-cell partition pruning:\n$p")
  }

  test("q89 dup-gram audit: hash equi-joins and partial aggregation, no pair blowup") {
    val p = plan("q89_dup_gram_audit")
    val tree = p.split("\n\n").head
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q89 lost the hash equi-join shape:\n$p")
    // df aggregate and per-doc aggregate both partial+final
    assert(tree.linesIterator.count(_.contains("HashAggregate")) >= 4,
      s"q89 lost map-side combine:\n$tree")
  }

  test("q90 BM25 serves from the materialized inverted index, top-k without a full sort") {
    val p = plan("q90_bm25_retrieval")
    val tree = p.split("\n\n").head
    assert(tree.contains("TakeOrderedAndProject"), s"q90 full-sorts for top-k:\n$tree")
    assert(!p.contains("CartesianProduct"), s"q90 plans a cartesian:\n$p")
    // the query terms probe the postings leaf — the filter must survive
    assert(p.contains("dup") && p.contains("merge"),
      s"q90 lost the term probe filter:\n$p")
    // serving from the index artifact: no re-tokenization (no Generate)
    // and no documents-table scan in the retrieval plan — the corpus is
    // touched only once, at index build
    assert(!tree.contains("Generate"),
      s"q90 re-explodes the corpus instead of probing the postings artifact:\n$tree")
    assert(!p.contains("documents.parquet"),
      s"q90 rescans the documents table at serving time:\n$p")
  }

  test("q95 alignment audit is one id equi-join plus a partial+final aggregate") {
    val p = plan("q95_doc_vec_align")
    val tree = p.split("\n\n").head
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q95 join degenerated:\n$p")
    assert(tree.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"q95 lost map-side combine:\n$tree")
  }

  test("q96 CDC chunking is map-only: one explode, no shuffle but the presentation sort") {
    val tree = plan("q96_cdc_chunking").split("\n\n").head
    assert(tree.contains("Generate"), s"no explode:\n$tree")
    val exchanges = tree.linesIterator.count(_.trim.matches(".*\\bExchange\\b.*"))
    assert(exchanges == 1, s"q96 shuffles $exchanges times (want only the " +
      s"presentation sort):\n$tree")
  }

  test("q97 chunk dedup shuffles once on the fingerprint for both count and keeper") {
    val p = plan("q97_chunk_dedup")
    val tree = p.split("\n\n").head
    assert(!p.contains("CartesianProduct"), s"q97 plans a cartesian:\n$p")
    // count aggregate is partial+final on the fp key
    assert(tree.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"q97 lost map-side combine on the fp counts:\n$tree")
  }

  test("q61 outer join keeps order-less customers and aggregates partially") {
    val tree = plan("q61_outer_join_dist").split("\n\n").head
    assert(tree.contains("LeftOuter") || tree.contains("RightOuter"),
      s"outer join lost:\n$tree")
    assert(tree.linesIterator.count(_.contains("HashAggregate")) >= 4,
      s"both aggregations should be partial+final:\n$tree")
  }

  test("q54 derives both percentile paths from one lineitem scan and one hash shuffle") {
    val p = plan("q54_quantiles")
    val tree = p.split("\n\n").head
    val scans = tree.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"q54 scans lineitem $scans times:\n$tree")
    // ranking window, count window, and the group-by all reuse ONE
    // hashpartitioning(l_returnflag) exchange; the only other shuffle is
    // the final orderBy's range partitioning
    val exchanges = tree.linesIterator.count(_.trim.matches(".*\\bExchange\\b.*"))
    assert(exchanges == 2, s"q54 shuffles $exchanges times (want one hash + " +
      s"the orderBy range):\n$tree")
  }

  test("q56 assigns centroids via aggregation, not a per-vector ranking window") {
    val p = plan("q56_ivf_kmeans")
    val tree = p.split("\n\n").head
    assert(!tree.contains("Window"), s"q56 argmin fell back to a window:\n$tree")
  }

  test("q58 sampling and split are map-only row logic") {
    val tree = plan("q58_stratified_split").split("\n\n").head
    // the only shuffle is the presentation sort's range partitioning
    val exchanges = tree.linesIterator.count(_.trim.matches(".*\\bExchange\\b.*"))
    assert(exchanges == 1, s"q58 shuffles $exchanges times:\n$tree")
  }

  test("q57 pipeline runs in exactly two hash shuffles plus the final sort") {
    val tree = plan("q57_corpus_pipeline").split("\n\n").head
    val exchanges = tree.linesIterator.count(_.trim.matches(".*\\bExchange\\b.*"))
    assert(exchanges == 3, s"q57 shuffles $exchanges times (want fingerprint " +
      s"hash + stats hash + presentation range):\n$tree")
    assert(tree.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"q57 scans documents more than once:\n$tree")
  }

  test("q63 unpivot plans as a narrow Expand with the filter pushed to the scan") {
    val p = plan("q63_unpivot")
    val tree = p.split("\n\n").head
    assert(tree.contains("Expand"), s"no Expand node:\n$tree")
    assert(p.contains("LessThan(l_orderkey"), s"filter not pushed:\n$p")
    val exchanges = tree.linesIterator.count(_.trim.matches(".*\\bExchange\\b.*"))
    assert(exchanges == 1, s"q63 shuffles $exchanges times (want only the " +
      s"presentation sort):\n$tree")
  }

  test("q64 chunking is a narrow explode with no data shuffle") {
    val tree = plan("q64_doc_chunking").split("\n\n").head
    assert(tree.contains("Generate"), s"no explode:\n$tree")
    val exchanges = tree.linesIterator.count(_.trim.matches(".*\\bExchange\\b.*"))
    assert(exchanges == 1, s"q64 shuffles $exchanges times (want only the " +
      s"presentation sort):\n$tree")
  }

  test("q112 PRF semantic pass is one broadcast-centroid corpus map with top-k") {
    val p = plan("q112_prf_semantic")
    val tree = p.split("\n\n").head
    // the corpus-wide semantic scan short-circuits to top-k
    assert(tree.contains("TakeOrderedAndProject"),
      s"q112 full-sorts the semantic scan:\n$tree")
    // the lexical tier serves from the postings artifact: no
    // re-tokenization, no documents scan
    assert(!tree.contains("Generate"),
      s"q112 re-explodes the corpus:\n$tree")
    assert(!p.contains("documents.parquet"),
      s"q112 rescans the documents table:\n$p")
    // the centroid rides a broadcast — the corpus is never shuffled for it
    assert(!p.contains("CartesianProduct"), s"q112 plans a cartesian:\n$p")
  }

  test("q113 RRF fuses two k-row ranked lists — heavy lifting stays in the tiers") {
    val p = plan("q113_hybrid_rrf")
    assert(!p.contains("CartesianProduct"), s"q113 plans a cartesian:\n$p")
    // both tiers short-circuit to top-k before fusion touches anything
    val takes = p.linesIterator.count(_.contains("TakeOrderedAndProject"))
    assert(takes >= 2, s"q113 lost a tier's top-k short-circuit:\n$p")
    assert(!p.contains("documents.parquet"),
      s"q113 rescans the documents table:\n$p")
  }

  test("q114 compacted serving needs no runtime mask and keeps partition pruning") {
    val base = Similarity.compactedIndex(spark, dir)
    val df = Similarity.coldServePlan(spark, base)
    val p = df.queryExecution.executedPlan.toString
    // physical compaction retired the tombstone anti-join entirely
    assert(!p.contains("LeftAnti"),
      s"q114 still masks at read time after the rewrite:\n$p")
    assert(!p.contains("testdata"), s"q114 reads the corpus:\n$p")
    // probed-cell pruning survives the rewrite
    val partFilters = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(partFilters.exists(f => f.contains("cell") && f.contains("IN")),
      s"q114 lost probed-cell partition pruning:\n$p")
  }

  test("q115 cell audit is one index scan with partial aggregation, no joins") {
    val p = plan("q115_index_cell_audit")
    val tree = p.split("\n\n").head
    assert(!tree.contains("Join"), s"q115 joins at audit time:\n$tree")
    assert(!p.contains("testdata"),
      s"q115 reads the corpus instead of the stored artifact:\n$p")
    assert(tree.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"q115 lost map-side combine:\n$tree")
  }

  test("q116 survivor pick is an aggregate, never a per-cluster ranking window") {
    val p = plan("q116_canonical_docs")
    val tree = p.split("\n\n").head
    assert(!tree.contains("Window"),
      s"q116 ranks per cluster instead of aggregating:\n$tree")
    // min(struct(…)) plans as SortAggregate (structs aren't hash-able);
    // partial+final still map-side combines
    assert(tree.linesIterator.count(l =>
        l.contains("HashAggregate") || l.contains("SortAggregate")) >= 2,
      s"q116 lost map-side combine on the survivor agg:\n$tree")
  }

  test("q117 budget cut: banded windows and a broadcast offset join, no global window") {
    val p = plan("q117_token_budget")
    // the corpus-sized running sum must be partitioned by the quality
    // band — a windowspec with no partition key would serialize the
    // corpus through one task
    assert(p.contains("windowspecdefinition(__graft_banded_band"),
      s"q117 lost the banded window partitioning:\n$p")
    // cross-band offsets ride a broadcast, never a corpus shuffle
    assert(p.contains("BroadcastHashJoin"),
      s"q117 shuffles the corpus to meet the offset table:\n$p")
  }

  test("q119 snapshot serving prunes probed cells in EVERY manifest segment scan") {
    val base = Similarity.versionedIndex(spark, dir)
    val df = Similarity.manifestServePlan(spark, base, version = 2)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("testdata"), s"snapshot serving reads the corpus:\n$p")
    // both segments of v2 are scanned, and each scan is partition-pruned
    // to the probed cells — the union must not defeat pushdown
    val partFilters = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toList
    val pruned = partFilters.count(f => f.contains("cell") && f.contains("IN"))
    assert(pruned >= 2,
      s"expected every segment scan pruned, got $pruned of ${partFilters.size}:\n$p")
  }

  test("q122 cold BM25 pushes the term probe into the written postings scan") {
    val p = plan("q122_cold_bm25_serve")
    val tree = p.split("\n\n").head
    assert(tree.contains("TakeOrderedAndProject"), s"q122 full-sorts:\n$tree")
    // serving reads ONLY the written index: no corpus text, no artifact
    assert(!p.contains("documents.parquet"),
      s"q122 rescans the documents table:\n$p")
    assert(!tree.contains("Generate"), s"q122 re-tokenizes:\n$tree")
    assert(!tree.contains("Scan ExistingRDD"),
      s"q122 leans on a session artifact:\n$tree")
    // the term probe reaches the postings file scan as a pushed filter,
    // where the range layout lets footer stats prune files/row-groups
    assert(p.contains("PushedFilters: [In(term"),
      s"q122 lost term-probe pushdown into the postings files:\n$p")
  }

  test("q143 append serving probes terms into EVERY postings segment, no re-tokenize") {
    val p = plan("q143_bm25_append_serve")
    val tree = p.split("\n\n").head
    assert(tree.contains("TakeOrderedAndProject"), s"q143 full-sorts:\n$tree")
    assert(!p.contains("documents.parquet"),
      s"q143 rescans the documents table:\n$p")
    assert(!tree.contains("Generate"), s"q143 re-tokenizes:\n$tree")
    // the term probe must reach BOTH segments' postings files pushed —
    // per-segment footer pruning is what keeps a k-segment index at
    // query cost O(probed terms), not O(accreted segments' bytes)
    val probes = "PushedFilters: \\[In\\(term".r.findAllIn(p).size
    assert(probes >= 2,
      s"want pushed term probe on base AND delta postings scans, got $probes:\n$p")
  }

  test("q144 compacted serving is one merged segment, same pushed probe") {
    val p = plan("q144_bm25_compacted_serve")
    assert(!p.contains("documents.parquet"),
      s"q144 rescans the documents table:\n$p")
    assert(p.contains("PushedFilters: [In(term"),
      s"q144 lost term-probe pushdown:\n$p")
  }

  test("q161 compacted chunk-store probe is ONE one-column segment scan") {
    // v2 paid two fingerprint scans (base + delta1); compaction must
    // fold them to exactly one, still reading only the sorted 8-byte
    // chunk_fp column — the probe fan-out cap is compaction's point
    val p = plan("q161_chunkstore_compacted")
    val probeScans = "ReadSchema: struct<chunk_fp:bigint>".r.findAllIn(p).size
    assert(probeScans == 1,
      s"want exactly one one-column fingerprint scan at v3, got $probeScans:\n$p")
  }

  test("q177 diff join ships fingerprints, not text") {
    val p = plan("q177_snapshot_diff")
    // the FULL OUTER reconciliation must compare 8-byte poly_hash
    // fingerprints computed map-side under the scans — document text
    // never rides the key exchange
    assert(p.contains("FullOuter"), s"diff lost the full-outer shape:\n$p")
    assert(p.contains("polyhash("), s"fingerprints not in the plan:\n$p")
    val shuffled = p.split("\n\n").filter(_.contains(") Exchange"))
    assert(shuffled.nonEmpty && shuffled.forall(!_.contains("text#")),
      s"text column rides a shuffle:\n${shuffled.mkString("\n\n")}")
  }

  test("q175 frontier never builds the O(n²) dominance join") {
    val p = plan("q175_pareto_frontier")
    // the oracle's NOT EXISTS shape would surface as a nested-loop /
    // cartesian between two corpus-sized sides; the engine must stay on
    // the banded-window construction
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"frontier fell back to the quadratic dominance join:\n$p")
  }

  test("q170 join-view refresh reads the state artifact and prunes pre-cut lineitem") {
    val p = plan("q170_ivm_join_refresh")
    assert(p.contains(s"${Temporal.writtenJoinState(spark, dir)}/state"),
      s"state artifact not read:\n$p")
    // the delta cut reaches the 100 TB-side scan as a pushed predicate,
    // so a refresh never re-reads folded-history row groups
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"delta cut not pushed to the lineitem scan:\n$p")
  }

  test("q220 SCD2 upsert reads the written dimension and prunes pre-cut events") {
    val p = plan("q220_scd2_upsert")
    assert(p.contains(s"${Temporal.writtenScd2State(spark, dir)}/dim"),
      s"dimension artifact not read:\n$p")
    // every events scan in the refresh is the DELTA read — the cut
    // reaches the scan as a pushed predicate, so folded history row
    // groups are never re-read
    val eventScans = p.linesIterator.filter(l =>
      l.contains("events.parquet")).toSeq
    assert(eventScans.nonEmpty, s"no delta scan found:\n$p")
    assert(p.contains("GreaterThanOrEqual(ts"),
      s"delta cut not pushed to the events scan:\n$p")
  }

  test("q172 attribution is one window pass — no timeline self-join") {
    val p = plan("q172_last_touch")
    assert(!p.contains("Join"), s"attribution fell back to a self-join:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"no window operator in attribution plan:\n$p")
  }

  test("q165 merged-schema scan still prunes columns across generations") {
    val p = plan("q165_schema_evolution")
    // schema evolution must not defeat pruning: the merged ReadSchema
    // carries only the audited columns, never gen2's text payload
    assert(!p.contains("text"), s"text column entered the merged scan:\n$p")
    assert(p.contains("n_chars"), s"evolved column missing from scan:\n$p")
  }

  test("q166 gap-fill derives the calendar per entity — no cross join") {
    val p = plan("q166_gapfill_daily")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"gap-fill fell back to a calendar cross join:\n$p")
    // the zero-fill is a key join on (user_id, day)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), s"no key join in gap-fill:\n$p")
  }

  test("q162 upsert masks with anti joins and tokenizes only the edit batch") {
    val p = plan("q162_bm25_upsert_serve")
    // old encodings leave via broadcast anti joins on the id list
    assert(p.contains("LeftAnti"), s"q162 lost the tombstone mask:\n$p")
    // the stored postings keep their pushed term probe
    assert(p.contains("PushedFilters: [In(term"),
      s"q162 lost term-probe pushdown on stored postings:\n$p")
    // only the edit batch's text is read: every documents scan is
    // row-filtered before tokenization (the Generate runs above a
    // Filter, never above a bare corpus scan)
    assert(p.contains("documents.parquet"),
      s"q162 should tokenize the (filtered) edit batch:\n$p")
  }

  test("shared expensive projections are not re-inlined per consumer") {
    // q26/q27's stopword filters share one `toks` split; q53's four
    // window extractions share one byte_pool array — CollapseProject must
    // not substitute per-reference copies back in
    def countExpr(q: String, pred: PartialFunction[
        org.apache.spark.sql.catalyst.expressions.Expression, Unit]): Int =
      graft.SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan
        .collect { case node =>
          node.expressions.map(_.collect(pred).size).sum
        }.sum
    for (q <- Seq("q26_lang_id", "q27_quality_score")) {
      val n = countExpr(q,
        { case _: org.apache.spark.sql.catalyst.expressions.StringSplit => () })
      assert(n == 1, s"$q evaluates split() $n times per row")
    }
    val nPool = countExpr("q53_media_resize",
      { case _: graft.functions.BytePool => () })
    assert(nPool == 1, s"q53 evaluates byte_pool $nPool times per row")
  }

  test("q135 per-stratum top-k short-circuits via WindowGroupLimit") {
    val p = plan("q135_priority_sample")
    assert(p.contains("WindowGroupLimit"),
      s"priority sample sorts whole strata instead of group-limiting:\n$p")
  }

  test("q136 MIPS broadcasts only the bounded query batch (q44 discipline)") {
    val p = plan("q136_mips_topk")
    // BNLJ is expected — the build side is the constant-size query batch
    assert(p.contains("BroadcastNestedLoopJoin"), s"expected BNLJ:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    // one corpus-side embeddings scan feeds the dot/rank pipeline; the
    // query batch + max-norm sides account for the other two scans
    assert(p.linesIterator.count(_.contains("Location: InMemoryFileIndex")) <= 3,
      s"corpus re-scanned:\n$p")
  }

  test("q137 refresh reads the state artifact and prunes history at the scan") {
    val p = plan("q137_ivm_refresh")
    // the merge's state side comes from the written artifact files…
    assert(p.contains(s"${Temporal.writtenAggState(spark, dir)}/state"),
      s"state artifact not read:\n$p")
    // …and the delta side's cut reaches the events scan as a pushed
    // filter, so a refresh never re-reads pre-cut history row groups
    assert(p.contains("GreaterThanOrEqual(ts"),
      s"delta cut not pushed to the events scan:\n$p")
  }

  test("q138 box predicates reach the z-layout scan (row-group stats apply)") {
    val p = plan("q138_zorder_box")
    assert(p.contains("GreaterThanOrEqual(src_idx,10)")
        && p.contains("LessThanOrEqual(src_idx,13)"),
      s"src_idx box not pushed:\n$p")
    assert(p.contains("GreaterThanOrEqual(n_chars,200)")
        && p.contains("LessThanOrEqual(n_chars,400)"),
      s"n_chars box not pushed:\n$p")
  }

  test("q130 computes the per-part threshold in ONE corpus aggregate") {
    val p = plan("q130_small_qty_revenue")
    // the (Σqty, n) aggregate over lineitem exists exactly once: two
    // partial+final HashAggregate pairs total — the threshold pair and
    // the final per-brand rollup. A correlated-subquery regression
    // reintroduces a third aggregate over the lineitem scan.
    val aggs = p.linesIterator.count(_.trim.startsWith("Functions ["))
    assert(aggs == 4, s"expected 2 partial+final aggregate pairs, got $aggs:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
  }

  test("q131 IN-subquery plans as a LEFT SEMI join pruning the fact sides") {
    val p = plan("q131_big_order_customers")
    assert(p.contains("LeftSemi"), s"IN did not become a semi join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
  }

  test("q132 NOT EXISTS plans as LEFT ANTI with the date filter pushed") {
    val p = plan("q132_idle_rich_customers")
    assert(p.contains("LeftAnti"), s"NOT EXISTS did not become anti join:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"recent-orders date filter not pushed to the orders scan:\n$p")
  }

  test("q151 scalar max rides as a one-row subquery; the quarter filter reaches the scan") {
    val p = plan("q151_top_revenue_supplier")
    assert(p.contains("Subquery") || p.contains("scalar-subquery"),
      s"scalar max not planned as a reusable subquery:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate")
      || p.contains("GreaterThanOrEqual(l_shipdate"),
      s"quarter filter not pushed into the lineitem scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
  }

  test("q152 nested IN plans as a LEFT SEMI with the part-name filter pushed") {
    val p = plan("q152_bulk_part_suppliers")
    assert(p.contains("LeftSemi"), s"IN did not become a semi join:\n$p")
    assert(p.contains("StringStartsWith(p_name,red"),
      s"part-name prefix not pushed into the part scan:\n$p")
  }

  test("q153 EXISTS/NOT EXISTS decorrelate to semi + anti joins, no per-row re-scan") {
    val p = plan("q153_sole_late_supplier")
    assert(p.contains("LeftSemi"), s"EXISTS did not become a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS did not become an anti join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"correlation fell back to a nested-loop shape:\n$p")
  }

  test("q156 correlated min decorrelates; the size filter reaches the part scan") {
    val p = plan("q156_cheapest_supplier")
    // the per-part min must come from a grouped aggregate joined back,
    // never a per-row re-evaluation
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"correlated min fell back to a nested-loop shape:\n$p")
    assert(p.contains("EqualTo(p_size,15)"),
      s"p_size filter not pushed into the part scan:\n$p")
  }

  test("q157 global total rides as a one-row subquery over the shared aggregate") {
    val p = plan("q157_part_value_share")
    assert(p.contains("Subquery") || p.contains("scalar-subquery"),
      s"global total not planned as a reusable scalar subquery:\n$p")
    // the threshold pass runs on the grouped per-part frame — the corpus
    // is never joined row-level against the scalar
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
  }

  test("q158 per-side disjunctions are pushed below the join") {
    val p = plan("q158_disjunctive_revenue")
    // part side: the OR of (brand ∧ size) branches reaches the part scan
    assert(p.contains("Or(And(EqualTo(p_brand,Brand#12)"),
      s"part-side disjunction not pushed into the part scan:\n$p")
    // lineitem side: the quantity envelope reaches the lineitem scan
    assert(p.contains("Or(And(GreaterThanOrEqual(l_quantity,1")
        || p.contains("Or(And(GreaterThanOrEqual(l_quantity,10"),
      s"lineitem-side quantity disjunction not pushed:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
  }

  test("q178/q179 dimension filters reach the part scan; no nested-loop joins") {
    val p8 = plan("q178_market_share")
    assert(p8.contains("EqualTo(p_type,PROMO)"),
      s"q178 part-type filter not pushed into the part scan:\n$p8")
    assert(p8.contains("EqualTo(r_name,ASIA)"),
      s"q178 region filter not pushed into the region scan:\n$p8")
    assert(!p8.contains("CartesianProduct") && !p8.contains("BroadcastNestedLoop"),
      s"q178 fell back to a nested-loop shape:\n$p8")
    val p9 = plan("q179_product_profit")
    assert(p9.contains("StringStartsWith(p_name,blue"),
      s"q179 part-name prefix not pushed into the part scan:\n$p9")
    assert(!p9.contains("CartesianProduct") && !p9.contains("BroadcastNestedLoop"),
      s"q179 fell back to a nested-loop shape:\n$p9")
  }

  test("q182 top-20 customers short-circuits as TakeOrderedAndProject") {
    val p = plan("q182_returned_customers")
    assert(p.contains("TakeOrderedAndProject"), s"full sort crept in:\n$p")
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"returnflag filter not pushed into the lineitem scan:\n$p")
  }

  test("q183 custdist keeps the outer join and pushes the ON-clause filter to orders") {
    val p = plan("q183_custdist")
    // the zero bucket exists only if the join stays outer
    assert(p.contains("LeftOuter") || p.contains("RightOuter"),
      s"outer join lost (zero-order customers dropped):\n$p")
    // the ON-clause predicate on the preserved side's opposite input is
    // still pushable INTO that input's scan without changing semantics
    assert(p.contains("Not(EqualTo(o_orderpriority,1-URGENT))"),
      s"ON-clause order filter not pushed into the orders scan:\n$p")
  }

  test("q185 NOT IN denylist plans as an anti join with the size IN-list pushed") {
    val p = plan("q185_supplier_parts")
    assert(p.contains("LeftAnti"), s"NOT IN did not become an anti join:\n$p")
    assert(p.contains("In(p_size"),
      s"size IN-list not pushed into the part scan:\n$p")
  }

  test("q186 non-equi EXISTS plans as a semi join with the date window pushed") {
    val p = plan("q186_priority_exists")
    assert(p.contains("LeftSemi"), s"EXISTS did not become a semi join:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"order-date window not pushed into the orders scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"the non-equi conjunct degenerated to a nested loop:\n$p")
  }

  test("q187 triangle enumeration stays equi-joins end to end") {
    val p = plan("q187_dup_triangles")
    assert(!p.contains("CartesianProduct"), s"triangle join went cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"triangle join went BNLJ:\n$p")
  }

  test("q191/q192 interval builds run on ONE user_id exchange each") {
    for (q <- Seq("q191_scd2_intervals", "q192_interval_union")) {
      val p = plan(q)
      // both window passes and the island aggregate must ride the same
      // user_id partitioning — a second corpus hash exchange means a
      // window or groupBy broke partitioning reuse (the remaining
      // exchange is the final presentation orderBy's range partitioning)
      val hashEx = p.linesIterator.count(l =>
        l.contains("Arguments: hashpartitioning"))
      assert(hashEx == 1, s"$q has $hashEx corpus hash exchanges (want 1):\n$p")
    }
  }

  test("q195 LPA rounds are equi-joins over the checkpointed adjacency") {
    val p = plan("q195_label_propagation")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"LPA round fell back to a nested-loop shape:\n$p")
    // both rounds must read the one checkpointed adjacency, not re-derive
    // the minhash candidate graph per round
    assert(p.contains("Scan ExistingRDD"),
      s"q195 re-derives the candidate graph each round:\n$p")
  }

  test("q196 prefix-filter join stays equi-joins; no all-pairs fallback") {
    val p = plan("q196_prefix_filter_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"exact similarity join went all-pairs:\n$p")
  }

  test("q198 profile reads the table once for all columns") {
    val p = plan("q198_column_profile")
    // the unpivot stack profiles every column from ONE scan — the naive
    // per-column UNION ALL form scans k times (count the node detail
    // headers; formatted mode also repeats each node in the tree sketch)
    assert(p.linesIterator.count(l =>
        l.trim.startsWith("(") && l.contains("Scan parquet")) == 1,
      s"q198 scans the table more than once:\n$p")
  }

  test("q193 per-group percentiles: banded windows, broadcast offsets, no per-type window") {
    val p = plan("q193_group_percentiles")
    // corpus-sized ranks run per (type, band), never per type alone —
    // a per-type-only windowspec serializes each type through one task
    assert(p.linesIterator.exists(l =>
        l.contains("windowspecdefinition(event_type") && l.contains("band")),
      s"q193 lost the (type, band) window partitioning:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"q193 shuffles the corpus to meet the offset table:\n$p")
  }

  test("q222 dedup ROI: survivor pick stays an aggregate; no corpus window") {
    val p = plan("q222_dedup_token_roi")
    val tree = p.split("\n\n").head
    assert(!tree.contains("Window"),
      s"q222 ranks per cluster instead of aggregating:\n$tree")
    assert(!tree.contains("CartesianProduct"),
      s"q222 plans a cartesian product:\n$tree")
  }

  test("q223 allocation reads only the source column; windows run post-rollup") {
    val p = plan("q223_proportional_alloc")
    // the only full-corpus work is the count rollup: the documents scan
    // must be pruned to `source` alone (no text/tokens/embedding read)
    val scans = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.nonEmpty && scans.forall(l =>
        l.contains("struct<source:string>")),
      s"q223 reads more than the source column:\n${scans.mkString("\n")}")
    // the unpartitioned remainder-rank window is legal ONLY because it
    // runs on the source-grain frame — pin that a HashAggregate sits
    // below the Window in the tree (rollup happens before ranking)
    val tree = p.split("\n\n").head
    val aggIdx = tree.linesIterator.indexWhere(_.contains("HashAggregate"))
    val winIdx = tree.linesIterator.indexWhere(_.contains("Window"))
    assert(aggIdx >= 0 && winIdx >= 0,
      s"q223 plan missing rollup or rank window:\n$tree")
  }

  test("q224 linkage blocks with an equi join; verify never goes nested-loop") {
    val p = plan("q224_blocked_linkage")
    assert(!p.contains("CartesianProduct"), s"q224 plans a cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"q224 plans a BNLJ:\n$p")
    // the Levenshtein verify must be a post-join filter, not a join key —
    // the join itself keys on the cheap blocking columns only
    val joinLines = p.linesIterator.filter(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")).toSeq
    assert(joinLines.nonEmpty, s"q224 lost its blocked equi join:\n$p")
    assert(!joinLines.exists(_.contains("levenshtein")),
      s"q224 pushed the verify into the join keys:\n${joinLines.mkString("\n")}")
    // the probe side must be spread across blocks before the verify —
    // the dimension is one file split and the verify is quadratic per
    // block, so without this exchange the whole join runs in one task
    assert(p.linesIterator.exists(l =>
        l.contains("hashpartitioning(w#")),
      s"q224 lost the blocking-key probe repartition:\n$p")
  }

  test("q228 runs audit: banded windows only, never a global corpus window") {
    val p = plan("q228_rle_runs_audit")
    // the order-sensitive lag must be partitioned by (cname, band) — an
    // unpartitioned (or cname-only) window serializes the corpus pass
    assert(p.linesIterator.exists(l =>
        l.contains("windowspecdefinition(cname") && l.contains("band")),
      s"q228 lost the (cname, band) window partitioning:\n$p")
    // the corpus is scanned at most twice: the banded change/edge pass
    // and the NDV rollup — u must not be re-derived per consumer
    val scans = p.linesIterator.count(l =>
      l.trim.startsWith("(") && l.contains("Scan parquet"))
    assert(scans <= 2, s"q228 scans lineitem $scans times:\n$p")
  }

  test("q229 forward as-of: one key shuffle, no range join blow-up") {
    val p = plan("q229_asof_forward")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q229 plans a nested loop:\n$p")
    // the union+window construction: exactly one hash exchange on the key
    // (plus the presentation range sort)
    val hashEx = p.linesIterator.count(_.contains("hashpartitioning(__k"))
    assert(hashEx >= 1, s"q229 lost the single key shuffle:\n$p")
    assert(p.linesIterator.count(_.contains("Window")) >= 1)
  }

  test("q232 nearest as-of fuses both directions into one key exchange") {
    val p = plan("q232_asof_nearest")
    assert(!p.contains("CartesianProduct"), s"q232 plans a cartesian:\n$p")
    // the whole point of asOfNearest vs composing asOf + asOfForward:
    // ONE shuffle and ONE sort serve the backward and forward windows
    val keyEx = p.linesIterator.count(_.contains("hashpartitioning(__k"))
    assert(keyEx == 1, s"q232 shuffles the union $keyEx times, not once:\n$p")
  }

  test("q234 CDC apply: broadcast anti join, no full-outer corpus pass") {
    val p = plan("q234_cdc_apply")
    assert(!p.contains("FullOuter"), s"q234 regressed to a full-outer diff:\n$p")
    assert(p.contains("LeftAnti"), s"q234 lost the retire anti join:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      s"q234 shuffles the corpus to retire a broadcastable delta:\n$p")
  }

  test("q242 erased serving masks via broadcast anti; q243 compaction retires it") {
    // v4: the tombstone mask is a broadcast anti join (erased-docs-sized
    // build side, never a store shuffle)
    val p4 = plan("q242_chunkstore_erase")
    assert(p4.contains("LeftAnti"), s"q242 lost the tombstone mask:\n$p4")
    assert(p4.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      s"q242 shuffles the store to apply a broadcastable tombstone set:\n$p4")
    // v5: physical compaction retired the mask — no anti join, and the
    // probe reads ONLY the compacted segment (tombstone files untouched)
    val p5 = plan("q243_chunkstore_erase_compacted")
    assert(!p5.contains("LeftAnti"),
      s"q243 still masks at read time after the rewrite:\n$p5")
    assert(!p5.contains("tomb1"),
      s"q243 reads the tombstone segment after compaction:\n$p5")
    assert(!p5.contains("delta1") && !p5.contains("compact1"),
      s"q243 reads a pre-compaction segment:\n$p5")
  }
}
