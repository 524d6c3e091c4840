package graft

/** Executable scale invariants: these assertions pin the PLAN SHAPES the
  * engine promises at 100 TB — filters reaching the parquet scan, column
  * pruning, broadcast dims, pinned shuffle-hash joins downstream of
  * explode, partial aggregation, and bounded expression trees. A change
  * that silently regresses one of these passes value-equality tests but
  * fails here.
  */
class PlanHealthSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("b4: predicate pushdown reaches the parquet scan and columns are pruned") {
    val p = plan("b4_filter_rows")
    assert(p.contains("PushedFilters: ["), "expected pushed filters in scan")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("IsNotNull(l_shipdate"),
      s"expected l_shipdate filter pushed to scan:\n$p")
    // projection pruning: the scan must not read the full 16-col lineitem
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipmode"),
      s"scan reads columns the query never uses: $readSchema")
  }

  test("j1: dimension joins are broadcast (no shuffle of the fact side)") {
    val p = plan("j1_lookup_join")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dim joins:\n$p")
  }

  test("x2: inverted-index joins stay shuffle-hash (no rogue broadcast after explode)") {
    val p = plan("x2_dedup_ngram_jaccard")
    assert(p.contains("ShuffledHashJoin"), s"expected pinned shuffle-hash joins:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), "nested-loop join leaked into x2")
  }

  test("q1: aggregation is partial (map-side combine) before the shuffle") {
    val p = plan("q1_pricing_summary")
    // partial + final HashAggregate pairs
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"expected partial aggregation:\n$p")
  }

  test("p1: the compiled column pass stays linear (no exponential expression tree)") {
    // the round-1 per-column fold exploded to ~3^k copies under
    // project-collapse; the single-projection compile keeps the whole
    // executed-plan rendering small
    val p = plan("p1_phase_columns")
    assert(p.length < 200000, s"p1 plan string is ${p.length} chars — expression blowup?")
  }

  test("x63: IVF-ADC probe filter stays linear in centroids; distance table broadcasts") {
    // ivfAssign's argmax once folded when(b>a,b).otherwise(a) over the
    // centroid structs — O(2^numCentroids) Column tree; at 16 centroids
    // the Column->Expression conversion alone OOM'd an 8g driver. The
    // array_sort argmax is linear; this bound catches any re-blowup.
    val p = plan("x63_ivf_adc")
    assert(p.length < 500000, s"x63 plan is ${p.length} chars — expression blowup?")
    assert(p.contains("BroadcastHashJoin"), s"ADC distance table must broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), "nested-loop join leaked into x63")
  }

  test("windows in gated queries are partitioned or eliminated (no global single-task window)") {
    for (name <- Seq("b3_sort_by", "r4_renumber", "q2_topk_orders", "r3_explode",
        "x27_lead_lag", "x29_topk_per_group", "x40_sessionize",
        "x58_weighted_sample")) {
      val p = plan(name)
      assert(!p.contains("Window [") ||
        !p.contains("windowspecdefinition()"), s"$name has an unpartitioned window")
    }
  }

  test("x17: hash split is a pure narrow projection (no exchange at all)") {
    val p = plan("x17_hash_split")
    // one final sort for the oracle ordering is the only allowed exchange
    assert("Exchange".r.findAllIn(p).size <= 1, s"hashSplit introduced shuffles:\n$p")
    assert(!p.contains("Window ["), "hashSplit must not window")
  }

  test("x19/x23: packing and repetition scores never use a partition-less window") {
    for (name <- Seq("x19_pack_sequences", "x23_repetition_scores")) {
      val p = plan(name)
      assert(!p.contains("windowspecdefinition()"),
        s"$name moved all rows to one window task:\n$p")
    }
  }

  test("x20: the benchmark shingle set is broadcast — the corpus side never shuffles before the overlap count") {
    val p = plan("x20_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast benchmark join:\n$p")
  }

  test("x24: incremental dedup anti-joins on the content key without broadcasting the batch") {
    val p = plan("x24_dedup_incremental")
    assert(p.contains("LeftAnti"), s"expected an anti-join:\n$p")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"history anti-join must key-shuffle, not broadcast the batch:\n$p")
  }

  test("x31: two-stage distinct never plans an Expand (no single-reducer distinct state)") {
    val p = plan("x31_distinct_users")
    assert(!p.contains("Expand"), s"two-stage distinct planned an Expand:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"expected partial aggregation:\n$p")
  }

  test("x32: the range join is an equi shuffle join, never BNL/cartesian") {
    val p = plan("x32_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join fell off the equi-bucketed plan:\n$p")
    assert(p.contains("ShuffledHashJoin"), s"expected the pinned bucket join:\n$p")
  }

  test("x33: stratified sampling is a pure narrow filter (no exchange beyond the output sort)") {
    val p = plan("x33_stratified_sample")
    assert("Exchange".r.findAllIn(p).size <= 1, s"stratifiedSample introduced shuffles:\n$p")
    assert(!p.contains("Window ["), "stratifiedSample must not window")
  }

  test("x34: centroids broadcast; the corpus shuffles only for its per-id agg") {
    val p = plan("x34_nearest_centroid")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"expected the centroid side to broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"corpus x centroids must not be a cartesian shuffle:\n$p")
  }

  test("x3/x4: one-pass signature expressions never re-evaluate inside a pushed filter") {
    // duplication WITHIN one Project is handled at runtime by codegen
    // subexpression elimination; the expensive failure mode is a pushed
    // isnotnull(...) FILTER re-running the whole signature per row
    for ((name, marker) <- Seq("x3_dedup_minhash_lsh" -> "minhashsignature",
        "x4_dedup_simhash" -> "simhashfingerprint")) {
      val p = plan(name).toLowerCase
      assert(p.contains(marker), s"$name no longer uses the one-pass expression")
      val filterLines = p.linesIterator.filter(_.trim.startsWith("+- filter")).toSeq ++
        p.linesIterator.filter(_.trim.startsWith("filter")).toSeq
      assert(!filterLines.exists(_.contains(marker)),
        s"$name re-evaluates $marker inside a Filter:\n${filterLines.mkString("\n")}")
    }
  }

  test("e1/e2: dedup loser sets stay frames — no driver round-trip in the pipeline plans") {
    // the round-3 shape collected near-dup loser ids to the driver and
    // re-created them as a LocalTableScan; at real web-corpus dup rates
    // (30-50%) that set is corpus-scale and the collect is a driver OOM.
    // The scale-safe shape is an anti-join on the persisted loser frame
    // (InMemoryTableScan / Scan ExistingRDD), which this pins.
    for (name <- Seq("e1_curation_pipeline", "e2_incremental_ingest")) {
      val p = plan(name)
      assert(!p.contains("LocalTableScan"),
        s"$name materializes a driver-collected set in its plan:\n$p")
      assert(p.contains("LeftAnti"), s"$name lost its anti-join removal:\n$p")
    }
  }

  test("x43: semDedup broadcasts centroids; the within-cluster join is equi-keyed, no cartesian") {
    val p = plan("x43_semdedup")
    assert(!p.contains("CartesianProduct"),
      s"within-cluster pair search fell off the equi-keyed plan:\n$p")
    assert(p.contains("ShuffledHashJoin"), s"expected the pinned cluster join:\n$p")
    assert(p.contains("LeftAnti"), s"expected the loser anti-join:\n$p")
  }

  test("x156: IVF hard negatives join bucket-equi with a broadcast query side — no cartesian") {
    // the whole point of the scale path: candidates come from a
    // bucket-equality join (probed queries broadcast), never the
    // query x corpus cartesian that x105's brute oracle baseline uses
    val p = plan("x156_hard_negatives_ivf")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"IVF hard negatives fell back to a cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected the probed query side to broadcast:\n$p")
  }

  test("x159: the O(n²) diversity metric plans with NO data-sized join") {
    // the whole point of the power-sum identity: pairwise distance with
    // no pair join — only the j4-style 1-row crossJoins may appear
    val p = plan("x159_sample_diversity")
    assert(!p.contains("ShuffledHashJoin") && !p.contains("SortMergeJoin"),
      s"sampleDiversity grew a data-sized join:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"sampleDiversity planned a cartesian over data:\n$p")
  }

  test("x161: index upsert anti-joins on the key — no cartesian, no corpus re-scoring join") {
    val p = plan("x161_ivf_index_upsert")
    assert(p.contains("LeftAnti"), s"upsert lost its replace anti-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"upsert fell off the keyed plan:\n$p")
  }

  test("x160: the sweep histogram keeps pinned shuffle-hash joins and partial aggregation") {
    val p = plan("x160_threshold_sweep")
    assert(p.contains("ShuffledHashJoin"), s"expected pinned index joins:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"sweep joins must stay equi-keyed:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial aggregation in the sweep:\n$p")
  }

  test("x44: BM25 scoring is one narrow scan — zero exchanges, top-k via TakeOrdered") {
    // df/avgdl fold in as literals at build time (bounded collects); the
    // scoring plan itself must stay scan -> project -> filter -> heap-k,
    // with no shuffle and no global sort
    val p = plan("x44_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be a per-partition heap + driver merge, not a sort:\n$p")
    assert(!p.contains("Exchange"), s"BM25 scoring scan must not shuffle:\n$p")
  }

  test("x45: LM scoring joins stay shuffle-hash on the n-gram keys, aggs partial") {
    val p = plan("x45_bigram_nll")
    assert(p.contains("ShuffledHashJoin"), s"expected pinned n-gram joins:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge join would sort the corpus bigrams:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"LM joins must stay equi-keyed:\n$p")
  }

  test("x46: Lloyd M-step aggregates per-dim columns — the explode sits above the shuffle") {
    // the anti-pattern is posexplode-then-groupBy, which multiplies the
    // shuffle by the dimensionality; the one Generate (the flat output
    // fan-out) must execute AFTER every exchange (= print before it)
    val p = plan("x46_kmeans_step")
    assert(p.contains("Generate"), s"expected the flat-output posexplode:\n$p")
    // the range exchange ABOVE the Generate is the output ordering; the
    // invariant is about the aggregation (hash-partitioning) shuffles
    assert(p.indexOf("Generate") < p.indexOf("Exchange hashpartitioning"),
      s"posexplode ran below the agg shuffle — M-step explodes the corpus:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"corpus x centroids must not be a cartesian shuffle:\n$p")
  }

  test("st4: the stream-stream twin keys its join on user_id (shuffle or broadcast hash, no BNL)") {
    val p = plan("st4_attribution_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"attribution join must stay an equi-keyed join with a range filter:\n$p")
  }

  test("x49/x50: the learned B-row tables broadcast back — the token stream never sort-merges") {
    for (name <- Seq("x49_dsir_weights", "x50_bow_classifier")) {
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"),
        s"$name must broadcast its bucket table, not shuffle the corpus for it:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$name sort-merges — the corpus-side token stream is being sorted:\n$p")
    }
  }

  test("x51: PQ encoding is one narrow scan — no join, no exchange beyond the output sort") {
    val p = plan("x51_pq_codes")
    assert(!p.contains("Join"), s"PQ encoding must inline the codebook as literals:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"PQ encoding introduced shuffles beyond the oracle-order sort:\n$p")
  }

  test("x52: ADC scoring joins the broadcast distance table and reduces partially") {
    val p = plan("x52_pq_search")
    assert(p.contains("BroadcastHashJoin"), s"the m x k table must broadcast:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"ADC reduce must partial-aggregate map-side:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-k must be TakeOrdered, not a full sort:\n$p")
  }

  test("x53: every PageRank iteration joins shuffle-hash and aggregates partially — no BNL, no cartesian") {
    val p = plan("x53_pagerank")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"PageRank iteration fell off the equi-join plan:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"rank-onto-transition joins must stay pinned shuffle-hash:\n$p")
  }

  test("x55: resample aggregates partially; the fill window is keyed; gap join is equi-keyed") {
    val p = plan("x55_resample_gapfill")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"bucketed agg must partial-aggregate map-side:\n$p")
    assert(!p.contains("windowspecdefinition()"),
      s"forward-fill window lost its partition key (global single-task window):\n$p")
    // the scaffold-to-observation gap join carries both equi keys
    assert(!p.contains("CartesianProduct"),
      s"gap-fill join fell off the (key, bucket) equi-join:\n$p")
  }

  test("x56: PMI scoring joins broadcast the vocabulary tables — the pair table never sort-merges") {
    val p = plan("x56_pmi_collocations")
    assert(p.contains("BroadcastHashJoin"),
      s"unigram count tables must broadcast onto the pair table:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"x56 sort-merges — a vocabulary join is shuffling the pair table:\n$p")
    // the twice-consumed count tables are persisted: each corpus explode
    // EXECUTES once — every further use is a cached-relation scan (the
    // rendered plan repeats the cached subtree, so count scans, not
    // Generate nodes)
    assert(p.contains("InMemoryTableScan"),
      s"x56 count tables lost their persist — the corpus re-explodes per join:\n$p")
  }

  test("x57: fuzzy link broadcasts the probe side and never shuffles the corpus") {
    val p = plan("x57_fuzzy_link")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"probe set must broadcast (non-equi length-band predicate):\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"the corpus must reach the probe join unshuffled:\n$p")
  }

  test("q3/q5/q10: no cartesian products; the fact joins stay equi-keyed") {
    for (name <- Seq("q3_shipping_priority", "q5_local_supplier_volume",
        "q10_returned_items")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name fell off its equi-joins:\n$p")
      // date/segment/flag filters must reach the scans, not evaluate post-join
      assert(p.contains("PushedFilters: [Is") || p.contains("PushedFilters: [Eq") ||
        p.contains("PushedFilters: [Gr") || p.contains("PushedFilters: [Le"),
        s"$name lost filter pushdown:\n$p")
    }
  }

  test("x65: serving reads the PQ index, never re-encodes corpus vectors") {
    // build the index once, then inspect the SERVING plan only: it must
    // scan the (id, bucket, codes) index and the two corpus point lookups
    // (query vec + probes are collected before planning) — the graft_pq
    // encode expression must NOT appear anywhere in the serving plan.
    val emb = Tables.load(spark, sfDir, "embeddings")
    val cb = operators.Quantization.pqCodebook(emb, "vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_ph_idx").toString
    operators.Quantization.pqIndex(emb, "vec_id", "embedding", cb)
      .write.mode("overwrite").parquet(dir)
    val served = operators.Quantization.ivfAdcTopKWithIndex(
      emb, spark.read.parquet(dir), cb, "vec_id", "embedding",
      queryId = 0L, topK = 10, numCentroids = 16, nprobe = 4)
    val p = served.queryExecution.executedPlan.toString
    assert(!p.contains("graft_pq_encode") && !p.contains("graft_ivf_assign"),
      s"serving plan re-encodes the corpus:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"ADC distance table must broadcast:\n$p")
  }

  test("x66: outlier stats broadcast; cells aggregate partially; no window") {
    val p = plan("x66_count_outliers")
    assert(p.contains("BroadcastHashJoin"),
      s"per-type stats must broadcast back onto cells:\n$p")
    assert(!p.contains("Window ["), s"x66 must not window:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"cell counts must partial-aggregate map-side:\n$p")
  }

  test("e5: the split is component-keyed — no global window, no cartesian") {
    val p = plan("e5_leakage_safe_split")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"e5 leaked a non-equi join:\n$p")
    assert(!p.contains("windowspecdefinition()"),
      s"e5 has an unpartitioned window:\n$p")
  }

  test("q6: all three predicates AND both agg columns reach the parquet scan") {
    val p = plan("q6_forecast_revenue")
    // the toString rendering truncates the PushedFilters list, so assert the
    // pushdown started (IsNotNull batch leads the list) and that the full
    // Filter carries all three business predicates
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"q6 predicates did not push to the scan:\n$p")
    assert(p.contains(">= 1997-01-01") && p.contains("l_quantity#") &&
      p.contains("0.07"), s"q6 lost a predicate:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_partkey"),
      s"q6 scan reads columns it never uses: $readSchema")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"q6 must partial-aggregate map-side:\n$p")
  }

  test("q4: the EXISTS probe stays a LeftSemi equi-join (orders never widen)") {
    val p = plan("q4_priority_check")
    assert(p.contains("LeftSemi"), s"q4 must semi-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q4 fell off its equi-join:\n$p")
  }

  test("q18: lineitem aggregates to order keys BEFORE any join; scan pruned to 2 cols") {
    val p = plan("q18_large_orders")
    val liSchema = p.linesIterator
      .filter(_.contains("ReadSchema")).find(_.contains("l_orderkey")).getOrElse("")
    assert(liSchema.contains("l_quantity") && !liSchema.contains("l_extendedprice"),
      s"q18 lineitem scan must read only (l_orderkey, l_quantity): $liSchema")
    // the HAVING agg must sit below the joins: the first join operator in
    // the plan string appears AFTER the first (deepest-printed) aggregate
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q18 fell off its equi-joins:\n$p")
  }

  test("q19: disjunctive predicate factors onto the part scan; join stays equi-keyed") {
    val p = plan("q19_discounted_revenue")
    // brand IN (...) / Or(...) conjuncts extractable from the OR-of-ANDs
    // must reach the part scan as pushed filters
    assert(p.contains("Or(") || p.contains("In(p_brand"),
      s"q19 lost the factored part-side pushdown:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q19 fell off its equi-join:\n$p")
  }

  test("q15: the scalar max broadcasts back as an equi join — no second lineitem pass for the argmax") {
    val p = plan("q15_top_supplier")
    assert(p.contains("BroadcastHashJoin"), s"q15 max row must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q15 fell off its equi-joins:\n$p")
  }

  test("q17: the per-part average decorrelates into ONE keyed window over ONE lineitem scan") {
    val p = plan("q17_small_qty_revenue")
    assert("Scan parquet".r.findAllIn(p).size == 2, // lineitem + part, once each
      s"q17 must scan lineitem exactly once:\n$p")
    assert(p.contains("windowspecdefinition(l_partkey"),
      s"q17 window must be keyed on l_partkey:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"q17 brand parts must broadcast:\n$p")
  }

  test("x69: canonical selection is a one-shuffle argmax agg — no per-cluster window") {
    val p = plan("x69_canonical_per_cluster")
    assert(!p.contains("Window ["), s"x69 must argmax via agg, not a window sort:\n$p")
    // struct-max is not hash-aggregable — Spark plans SortAggregate — but
    // the partial (map-side) phase must still exist before the shuffle
    assert(p.contains("partial_max(struct"),
      s"x69 cluster argmax must partial-aggregate:\n$p")
  }

  test("x71: the top-500 vocabulary broadcasts — the token stream never shuffles for the join") {
    val p = plan("x71_vocab_oov")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"),
      s"x71 vocab must broadcast-left-join:\n$p")
  }

  test("x73: MERGE apply is one equi full-outer shuffle join — no BNL, no window") {
    val p = plan("x73_merge_upsert")
    assert(p.contains("FullOuter"), s"x73 must full-outer join on the key:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"x73 fell off its equi-join:\n$p")
    assert(!p.contains("Window ["), s"x73 must not window:\n$p")
  }

  test("x74: SCD2 history is one keyed window (partitioned by the business key)") {
    val p = plan("x74_scd2_intervals")
    assert(p.contains("windowspecdefinition(user_id"),
      s"x74 window must be keyed on user_id:\n$p")
    assert(!p.contains("windowspecdefinition()"),
      s"x74 has an unpartitioned window:\n$p")
  }

  test("x72: CUBE plans one Expand + hash aggregation, no repeated scans") {
    val p = plan("x72_cube_events")
    assert(p.contains("Expand"), s"x72 must use grouping-set Expand:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"x72 must scan events exactly once:\n$p")
  }

  test("q7/q8/q9: nation slices broadcast; every fact join stays equi-keyed") {
    for (name <- Seq("q7_volume_shipping", "q8_market_share",
        "q9_product_profit")) {
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"),
        s"$name must broadcast its dimension slices:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name fell off its equi-joins:\n$p")
    }
  }

  test("q11: per-part values aggregate BEFORE the scalar total broadcasts back") {
    val p = plan("q11_important_stock")
    // the only non-equi join is the intended 1-row scalar broadcast
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1,
      s"q11 must have exactly the one scalar-total BNL:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"q11 per-part agg must partial-aggregate:\n$p")
  }

  test("q12: the ship-date range reaches the lineitem scan; no cartesian") {
    val p = plan("q12_shipmode_priority")
    val liSchema = p.linesIterator.filter(_.contains("PushedFilters"))
      .mkString("\n")
    assert(liSchema.contains("l_shipdate"),
      s"q12 lost the lineitem date pushdown:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q12 fell off its equi-join:\n$p")
  }

  test("q13: LEFT join keeps zero-order customers; priority filter pushes to the orders scan") {
    val p = plan("q13_customer_distribution")
    assert(p.contains("LeftOuter"), s"q13 must left-join:\n$p")
    assert(p.linesIterator.filter(_.contains("PushedFilters"))
      .exists(_.contains("o_orderpriority")),
      s"q13 must push the priority filter into the orders scan:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 3,
      s"q13 needs its two-level aggregation:\n$p")
  }

  test("q16: supplier exclusion is a broadcast ANTI join; sizes push to the part scan") {
    val p = plan("q16_parts_suppliers")
    assert(p.contains("LeftAnti"), s"q16 must anti-join the excluded suppliers:\n$p")
    assert(p.linesIterator.filter(_.contains("PushedFilters"))
      .exists(s => s.contains("In(p_size") || s.contains("p_size")),
      s"q16 must push the size IN-list into the part scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q16 fell off its equi-joins:\n$p")
  }

  test("q20: qualifying suppliers reach supplier as a LEFT SEMI (no widening)") {
    val p = plan("q20_potential_promotion")
    assert(p.contains("LeftSemi"), s"q20 must semi-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q20 fell off its equi-joins:\n$p")
  }

  test("q21: EXISTS pair decorrelates to 4 scans total (2x lineitem), all equi-joined") {
    val p = plan("q21_waiting_supplier")
    assert("Scan parquet".r.findAllIn(p).size == 4,
      s"q21 must scan lineitem twice + orders + supplier, nothing more:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q21 fell off its equi-joins:\n$p")
  }

  test("q22: the recent-orders exclusion is an equi ANTI join; only the 1-row stats frame BNLs") {
    val p = plan("q22_global_sales")
    assert(p.contains("LeftAnti"), s"q22 must anti-join recent orders:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"q22 must BNL only the scalar stats row:\n$p")
  }

  test("x76: the transition window is keyed by user; normalization runs on the cell frame") {
    val p = plan("x76_event_transitions")
    assert(p.contains("windowspecdefinition(user_id"),
      s"x76 lead window must be keyed on user_id:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"x76 cell counts must partial-aggregate:\n$p")
  }

  test("x77: tf-idf windows are keyed by document; the df join never broadcasts the vocabulary") {
    val p = plan("x77_tfidf_terms")
    assert(p.contains("windowspecdefinition(doc_id"),
      s"x77 top-k window must be keyed on doc_id:\n$p")
    assert(!p.contains("windowspecdefinition()"),
      s"x77 has an unpartitioned window:\n$p")
  }

  test("x78: HLL registers partial-aggregate; no Expand, no window") {
    val p = plan("x78_hll_distinct")
    assert("HashAggregate".r.findAllIn(p).size >= 4, // cells + fold, partial+final
      s"x78 register cells must partial-aggregate:\n$p")
    assert(!p.contains("Window ["), s"x78 must not window:\n$p")
  }

  test("x79: the skew probe aggregates both sides BEFORE the key join") {
    val p = plan("x79_join_skew_probe")
    assert(p.contains("TakeOrderedAndProject"),
      s"x79 top-k must be a bounded heap, not a global sort:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"x79 fell off its equi-join:\n$p")
  }

  test("x82: negative sampling is a pure projection — no join, no shuffle below the sort") {
    val p = plan("x82_negative_pairs")
    assert(!p.contains("Join"), s"x82 must not join:\n$p")
    assert(!p.contains("Window ["), s"x82 must not window:\n$p")
  }

  test("x83: the majority-label argmax is a partial-agged struct-min, not a per-node window sort") {
    val p = plan("x83_label_propagation")
    assert(p.contains("partial_min(struct") || p.contains("partial_min"),
      s"x83 argmax must partial-aggregate:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"x83 fell off its equi-joins:\n$p")
  }

  test("x94: count-min cells partial-aggregate; the query join broadcasts the bounded cell frame") {
    val p = plan("x94_countmin")
    // build side: the depth-explode feeds a partial+final HashAggregate
    // pair — the shuffle carries <= depth x width cells, never the tokens
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"x94 cells must partial-aggregate:\n$p")
    // query side: cells (bounded frame) broadcast to the query items —
    // no shuffle of either side for the lookup
    assert(p.contains("BroadcastHashJoin"),
      s"x94 cell lookup must broadcast the bounded cell frame:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"rogue join in x94:\n$p")
  }

  test("x97: the gap window is keyed by user; no join, no global sort below the output order") {
    val p = plan("x97_gap_regularity")
    assert(p.contains("Window"), s"x97 needs the keyed lag window:\n$p")
    // the lag window must partition by user_id — an unkeyed window would
    // funnel the event log through one task
    assert(p.contains("windowspecdefinition(user_id"),
      s"x97 window lost its user partitioning:\n$p")
    assert(!p.contains("Join"), s"x97 grew a join it doesn't need:\n$p")
  }

  test("x100: session window keyed by user; the groupBy rides the window's shuffle") {
    val p = plan("x100_session_features")
    assert(p.contains("windowspecdefinition(user_id"),
      s"x100 session window lost its user partitioning:\n$p")
    // co-partitioned aggregation: exactly ONE Exchange below the output
    // sort — the groupBy(user, session) reuses the window's partitioning
    val body = p.split("TakeOrderedAndProject|Sort ").last
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"x100 grew extra shuffles:\n$p")
  }

  test("x103: everything after the register cells is scaffold-sized; window keyed by register") {
    val p = plan("x103_rolling_distinct")
    assert(p.contains("windowspecdefinition(j"),
      s"x103 rolling max must partition by register j:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"x103 scaffold fell off its broadcast:\n$p")
  }

  test("x111: per-key cumsum is a keyed window; totals join stays shuffle-hash") {
    val p = plan("x111_weighted_quantiles_by_key")
    assert(p.contains("windowspecdefinition(source"),
      s"x111 cumsum window lost its key partitioning:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"rogue join in x111:\n$p")
  }

  test("x119: the LM tables broadcast; transitions come from ONE user-keyed window") {
    val p = plan("x119_sequence_nll")
    assert(p.contains("windowspecdefinition(user_id"),
      s"x119 lead window lost its user partitioning:\n$p")
    // k^2 and k-row count tables must broadcast — shuffling the
    // transition frame by n-gram keys would be a corpus-sized shuffle
    // for a bounded-size model
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"x119 LM tables must broadcast:\n$p")
  }

  test("x121: debounce is one keyed lag window, no join, no global sort below the output order") {
    val p = plan("x121_debounce")
    assert(p.contains("windowspecdefinition(user_id"),
      s"x121 window lost its (user, type) partitioning:\n$p")
    assert(!p.contains("Join"), s"x121 grew a join:\n$p")
  }

  test("x128: the correlation is ONE partial-agged scan — no join, no window") {
    val p = plan("x128_quality_length_corr")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"x128 sums must partial-aggregate:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"x128 should be a single scan:\n$p")
  }

  test("x117: the corpus reduces to distinct (source, shingle) BEFORE the pair join") {
    val p = plan("x117_source_overlap")
    assert(p.contains("ShuffledHashJoin"),
      s"x117 pair join must stay shuffle-hash on the shingle key:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"x117 fell off its equi keys:\n$p")
  }

  test("x112: baskets deduplicate BEFORE the pair join; pair join equi-keyed on the session") {
    val p = plan("x112_session_rules")
    // the distinct (session, type) reduction must sit below the self-join
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"x112 pair join must be an equi shuffle join:\n$p")
    // only the broadcast 1-row session-total frame may BNL (the q22
    // precedent); a data-sized cartesian is banned
    assert(!p.contains("CartesianProduct"),
      s"x112 fell off its equi keys:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"x112 grew a second nested-loop join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"x112 lost its partial aggregations:\n$p")
  }

  test("x169: CUSUM window is keyed; no join, no global sort below the output order") {
    val p = plan("x169_cusum_changepoint")
    assert(!p.contains("Join"), s"x169 should be agg+window only:\n$p")
    // exactly one window spec, partitioned by the key
    assert(p.contains("Window"), s"x169 lost its keyed window:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"x169 daily counts must partial-aggregate:\n$p")
  }

  test("x170: Theil-Sen pairs come from an equi self-join of the DAILY frame, not the corpus") {
    val p = plan("x170_theilsen_trend")
    assert(p.contains("ShuffledHashJoin"),
      s"x170 pair join must stay shuffle-hash on the key:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"x170 fell off its equi key:\n$p")
    // both join inputs are the bucketed aggregate — 2 partial+final pairs
    // below the join, 1 pair above for the slope fold
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"x170 lost the daily-count reduction below the self-join:\n$p")
  }

  test("x171: the conformal quantile resolves outside the eval plan; q broadcasts") {
    val p = plan("x171_conformal_coverage")
    // the order statistic is selected during construction in bounded
    // actions (smaller-tail TakeOrdered, or the bracketed two-pass when
    // both tails are huge) — the eval plan itself must carry only the
    // broadcast 1-row q literal and never re-sort the calibration split
    assert(!p.contains("TakeOrderedAndProject"),
      s"x171's eval plan should not sort the calibration split:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"x171's 1-row q frame must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"x171 grew a real cartesian:\n$p")
    // the banned shape: a whole-frame row_number over one partition
    assert(!p.contains("Window"), s"x171 must not use a global window:\n$p")
  }

  test("x172/x173: backtest lag joins are equi shuffle-hash; Holt is join-free") {
    val p = plan("x172_seasonal_backtest")
    assert(p.contains("ShuffledHashJoin"),
      s"x172 lag joins must stay shuffle-hash on (key, bucket):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"x172 fell off its equi keys:\n$p")
    val h = plan("x173_holt_forecast")
    assert(!h.contains("Join"), s"x173 should be two aggs and a fold:\n$h")
    assert("HashAggregate".r.findAllIn(h).size >= 2,
      s"x173 bucket sums must partial-aggregate:\n$h")
  }

  test("x181: entropy stats are two co-keyed aggs — no join, no window") {
    val p = plan("x181_token_entropy")
    assert(!p.contains("Join"), s"x181 must not join:\n$p")
    assert(!p.contains("Window ["), s"x181 must not window:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"x181 token counts must partial-aggregate:\n$p")
  }

  test("x182: segment keep-first is ONE segment-keyed window; losers rejoin via left join") {
    val p = plan("x182_segment_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"x182 grew a non-equi join:\n$p")
    // the only window is the per-segment row_number (state bounded by a
    // segment's duplication) — a second window would mean a corpus-order
    // pass snuck in
    assert("Window \\[".r.findAllIn(p).size == 1,
      s"x182 must have exactly the segment-keyed window:\n$p")
    assert(p.contains("LeftOuter"), s"x182 must left-join kept segments back:\n$p")
  }

  test("x183: budget cut broadcasts the value-sized frames; only the boundary group windows over docs") {
    val p = plan("x183_token_budget")
    assert(p.contains("BroadcastHashJoin"),
      s"x183's value-frame semi/boundary joins must broadcast:\n$p")
    assert(p.contains("LeftSemi"), s"x183 full-value selection must be a semi join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"x183 grew a non-equi join:\n$p")
    // the doc-sized side may carry ONLY the quality-partitioned boundary
    // window; the global cumsum stays on the value-sized aggregate frame
    // (it appears twice — once per union branch re-deriving byVal — plus
    // the boundary-group window; all above HashAggregates, never above
    // the raw doc scan). Every global window must sit above an aggregate.
    assert("Window \\[".r.findAllIn(p).size <= 3,
      s"x183 grew an extra window pass:\n$p")
  }

  test("x185: winnowing selection is a narrow transform — no window anywhere; index join shuffle-hash") {
    val p = plan("x185_winnowing")
    // the whole point vs the SQL formulation: window minima are per-row
    // array transforms, so the plan has NO Window operator at all
    assert(!p.contains("Window ["), s"x185 must not window:\n$p")
    assert(p.contains("ShuffledHashJoin"), s"x185 index join must shuffle-hash:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"x185 grew a non-equi join:\n$p")
  }

  test("x186: ARI reduces to the contingency frame before any non-keyed work") {
    val p = plan("x186_cluster_ari")
    assert(!p.contains("CartesianProduct"), s"x186 grew a real cartesian:\n$p")
    // allowed BNLs: the broadcast centroid cross (x34's shape) and the
    // 1-row marginal combines
    assert(!p.replaceAll(
      "BroadcastNestedLoopJoin BuildRight, Cross", "").contains(
      "BroadcastNestedLoopJoin"),
      s"x186 has a non-broadcast nested-loop join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"x186 marginals must partial-aggregate:\n$p")
  }

  test("x187: the tertile window runs over the (lang, grid) count frame; boundaries broadcast") {
    val p = plan("x187_ccnet_buckets")
    assert(!p.contains("CartesianProduct"), s"x187 grew a real cartesian:\n$p")
    // the lang-partitioned cumsum sits ABOVE a HashAggregate (the grid
    // frame), never above the raw doc scan; bounds join back broadcast
    assert(p.contains("BroadcastHashJoin"), s"x187 bounds must broadcast:\n$p")
    assert(!p.contains("windowspecdefinition()"),
      s"x187 must not use an unpartitioned window:\n$p")
  }

  test("x188: k-core output is left_semi shuffle-hash joins over the persisted edge frame — no cartesian, no window") {
    val p = plan("x188_kcore")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"x188 grew a non-equi join:\n$p")
    assert(p.contains("ShuffledHashJoin") && p.contains("LeftSemi"),
      s"x188 membership must left_semi shuffle-hash:\n$p")
    assert(!p.contains("Window ["), s"x188 must not window:\n$p")
    // the peel loop's survivor frames read from the persisted edges, not
    // a recomputed pair search: the final plan scans an InMemoryRelation
    assert(p.contains("InMemoryTableScan"),
      s"x188 must reuse the persisted edge frame:\n$p")
  }

  test("x189: noisy release is one aggregate to the cell frame plus a narrow expression — no join, no window") {
    val p = plan("x189_dp_noisy_counts")
    assert(!p.contains("Join") && !p.contains("Window ["),
      s"x189 must stay join/window-free:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"x189 cell counts must partial-aggregate:\n$p")
  }

  test("x190: HITS half-rounds are equi shuffle-hash joins on the edge frame — no cartesian") {
    val p = plan("x190_hits")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"x190 grew a non-equi join:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"x190 score joins must shuffle-hash:\n$p")
  }

  test("x192: self-join pre-flight is the single-scan shape — Σn²/Σc(k)² with no joins but the 1-row combine") {
    val p = plan("x192_join_size_estimate")
    assert(!p.contains("CartesianProduct"), s"x192 grew a real cartesian:\n$p")
    assert(!p.replaceAll(
      "BroadcastNestedLoopJoin BuildRight, Cross", "").contains(
      "BroadcastNestedLoopJoin"),
      s"x192's only cross must be the broadcast 1-row combine:\n$p")
    // round-8 self-join fast path: the gated query passes the SAME frame
    // and key on both sides, so the inner product is Σn² over one cells
    // frame and the truth is Σc(k)² over one key-count agg — the plan
    // must carry NO equi joins and exactly two parquet scans (one per
    // arm), not the four-scan two-join general shape
    assert(!p.contains("ShuffledHashJoin") && !p.contains("SortMergeJoin"),
      s"x192 self-join case must not join — duplicate subtree regression:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 2, s"x192 self-join case must scan exactly twice, got $scans:\n$p")
  }

  test("x214: BOW-scored qini — weight table broadcasts, everything else equi; no cartesian") {
    val p = plan("x214_qini_bow")
    assert(!p.contains("CartesianProduct"), s"x214 grew a cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"x214's B-row weight table must broadcast back onto the tf frame:\n$p")
    assert(!p.replaceAll(
      "BroadcastNestedLoopJoin BuildRight, Cross", "").contains(
      "BroadcastNestedLoopJoin"),
      s"x214 must not nested-loop outside a broadcast 1-row combine:\n$p")
  }

  test("x215/x216/x217/x219/x221: experiment readouts are partial-agged scans with only broadcast 1-row combines") {
    for (q <- Seq("x215_did", "x216_power_mde", "x217_winsorized_ate",
        "x219_post_stratified_ate", "x221_ks_arms")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian:\n$p")
      assert(!p.replaceAll(
        "BroadcastNestedLoopJoin BuildRight, Cross", "").contains(
        "BroadcastNestedLoopJoin"),
        s"$q must only cross against broadcast 1-row frames:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q must not row-sort-merge anything:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q aggregation must partial-combine:\n$p")
    }
  }

  test("x224/x225: permutation test and CMH are partial-agged scans with only broadcast 1-row combines") {
    for (q <- Seq("x224_permutation_test", "x225_mantel_haenszel")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian:\n$p")
      assert(!p.replaceAll(
        "BroadcastNestedLoopJoin BuildRight, Cross", "").contains(
        "BroadcastNestedLoopJoin"),
        s"$q must only cross against broadcast 1-row frames:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q must not row-sort-merge anything:\n$p")
      assert(!p.contains("Generate"),
        s"$q must not explode rows (generated-sum convention):\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q aggregation must partial-combine:\n$p")
    }
  }

  test("x220: PSI runs on the distinct-value frame — window above the value agg, crosses only broadcast") {
    val p = plan("x220_psi_drift")
    assert(!p.contains("CartesianProduct"), s"x220 grew a cartesian:\n$p")
    assert(!p.replaceAll(
      "BroadcastNestedLoopJoin BuildRight, Cross", "").contains(
      "BroadcastNestedLoopJoin"),
      s"x220 must only cross against broadcast 1-row frames:\n$p")
    // the CDF window must sit ABOVE an aggregate (value frame), never
    // directly on the document scan
    val winAt = p.indexOf("Window")
    val aggAt = p.indexOf("HashAggregate")
    assert(winAt >= 0 && aggAt >= 0,
      s"x220 expects a window over the value frame:\n$p")
    assert("HashAggregate".r.findAllIn(p.substring(winAt)).size >= 2,
      s"x220's window must run above the value-frame aggregate:\n$p")
  }

  test("x222/x223: corpus stats are explode-then-reduce scans, no joins beyond the group frames") {
    for (q <- Seq("x222_vocab_richness", "x223_gini_sources")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q needs no non-equi join at all:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q must not row-sort-merge anything:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q aggregation must partial-combine:\n$p")
    }
  }

  test("x226/x227: JS and ESS reduce to bounded frames — no cartesian, no row-scale sort-merge") {
    for (q <- Seq("x226_js_divergence", "x227_ess_weights")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian:\n$p")
      assert(!p.replaceAll(
        "BroadcastNestedLoopJoin BuildRight, Cross", "").contains(
        "BroadcastNestedLoopJoin"),
        s"$q must only cross against broadcast 1-row frames:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q aggregation must partial-combine:\n$p")
    }
    // x226 consumes the token-count frame ONCE: a single full-outer join
    // of the two per-slice vocab frames (agg+crossJoin-back would scan
    // the corpus twice — the x192 duplicate-subtree hazard)
    val p226 = plan("x226_js_divergence")
    assert("(SortMergeJoin|ShuffledHashJoin)[^\\n]*FullOuter".r
      .findAllIn(p226).size == 1,
      s"x226 expects exactly one vocab-frame full-outer join:\n$p226")
  }

  test("x218: bloom advisor — per-candidate equi joins only; the probe/total combines broadcast") {
    val p = plan("x218_bloom_advisor")
    assert(!p.contains("CartesianProduct"), s"x218 grew a cartesian:\n$p")
    assert(!p.replaceAll(
      "BroadcastNestedLoopJoin BuildRight, Cross", "").contains(
      "BroadcastNestedLoopJoin"),
      s"x218 must only cross against broadcast 1-row frames:\n$p")
  }

  test("x184: weighted jaccard stays on equi shuffle-hash joins; doc totals join after the pair agg") {
    val p = plan("x184_idf_jaccard")
    // the only BNL allowed is the broadcast 1-row corpus-count attach
    // (idf's N), same shape x171 pins; everything data-sized is equi
    assert(!p.contains("CartesianProduct"),
      s"x184 grew a real cartesian:\n$p")
    assert(!p.replaceAll(
      "BroadcastNestedLoopJoin BuildRight, Cross", "").contains(
      "BroadcastNestedLoopJoin"),
      s"x184 has a non-broadcast nested-loop join:\n$p")
    assert(p.contains("ShuffledHashJoin"), s"x184 index joins must shuffle-hash:\n$p")
    assert(!p.contains("Window ["), s"x184 must not window:\n$p")
  }

  test("x193: modularity's only cross is the broadcast 1-row edge total; memberships attach equi") {
    val p = plan("x193_source_modularity")
    assert(!p.contains("CartesianProduct"), s"x193 grew a real cartesian:\n$p")
    assert(!p.replaceAll(
      "BroadcastNestedLoopJoin BuildRight, Cross", "").contains(
      "BroadcastNestedLoopJoin"),
      s"x193's only cross must be the broadcast 1-row total:\n$p")
    assert(!p.contains("Window ["), s"x193 must not window:\n$p")
  }

  test("x194: epoch shuffle is a range-partitioned sort + two-pass rank — no single-partition window, no join") {
    val p = plan("x194_epoch_shuffle")
    assert(!p.contains("Window ["),
      s"x194 must rank via RowNum, not a global window:\n$p")
    assert(!p.contains("Join"), s"x194 must stay join-free:\n$p")
    assert(p.contains("Sort") && p.contains("rangepartitioning"),
      s"x194's permutation must be a distributed range sort:\n$p")
  }

  test("x195: compaction plan is one keyed window + partial agg — no join, no global sort before the window") {
    val p = plan("x195_compaction_plan")
    assert(!p.contains("Join"), s"x195 must stay join-free:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"x195 bin rollup must partial-aggregate:\n$p")
  }

  test("x197: FS probe matches broadcast; agreement sums reduce to 1-row frames before the field fan-out") {
    val p = plan("x197_fs_weights")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"x197 probe side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"x197 grew a real cartesian:\n$p")
    // the 1-row m/u combine may be a broadcast cross; nothing else
    assert(!p.replaceAll(
      "BroadcastNestedLoopJoin BuildRight, Cross", "").replaceAll(
      "BroadcastNestedLoopJoin BuildLeft, Cross", "").replaceAll(
      "BroadcastNestedLoopJoin BuildRight, Inner", "").contains(
      "BroadcastNestedLoopJoin"),
      s"x197 has a non-broadcast nested-loop join:\n$p")
  }

  test("x198: CUPED is two aggregates + a broadcast 1-row moment attach — no window, no data-sized join") {
    val p = plan("x198_cuped")
    assert(!p.contains("Window ["), s"x198 must not window:\n$p")
    assert(!p.contains("CartesianProduct"), s"x198 grew a real cartesian:\n$p")
    assert(!p.replaceAll(
      "BroadcastNestedLoopJoin BuildRight, Cross", "").contains(
      "BroadcastNestedLoopJoin"),
      s"x198's only cross must be the broadcast 1-row moments:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"x198 per-user sums must partial-aggregate:\n$p")
  }

  test("x200: isotonic fit reduces the corpus to the bin frame before any non-equi join") {
    val p = plan("x200_isotonic_fit")
    assert(!p.contains("CartesianProduct"), s"x200 grew a real cartesian:\n$p")
    // non-equi segment/triple joins are broadcast on the bounded bin frame
    assert(!p.replaceAll("BroadcastNestedLoopJoin BuildRight, Inner", "")
      .replaceAll("BroadcastNestedLoopJoin BuildRight, Cross", "")
      .contains("BroadcastNestedLoopJoin"),
      s"x200's bounded joins must broadcast:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"x200 bin rollup must partial-aggregate:\n$p")
  }

  test("x201: Mann-Whitney stays join-free; the rank window consumes the value frame, not rows") {
    val p = plan("x201_mann_whitney")
    assert(!p.contains("Join"), s"x201 must stay join-free:\n$p")
    val winIdx = p.indexOf("Window [")
    val aggIdx = p.lastIndexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      s"x201's window must consume the aggregated value frame:\n$p")
  }

  test("x202: SRM is one distinct reduction + segment groupBy — no join, no window") {
    val p = plan("x202_srm_check")
    assert(!p.contains("Join") && !p.contains("Window ["),
      s"x202 must stay join/window-free:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"x202 must partial-aggregate:\n$p")
  }

  test("x203: QTE's only cross is the broadcast 1-row arm combine") {
    val p = plan("x203_quantile_treatment")
    assert(!p.contains("CartesianProduct"), s"x203 grew a real cartesian:\n$p")
    assert(!p.replaceAll("BroadcastNestedLoopJoin BuildRight, Cross", "")
      .contains("BroadcastNestedLoopJoin"),
      s"x203's only cross must be the broadcast 1-row combine:\n$p")
  }

  test("x209: qini reduces to the distinct-score frame; the decile attach is an equi join") {
    val p = plan("x209_qini_curve")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"x209 must stay on equi joins:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"x209 per-user sums must partial-aggregate:\n$p")
  }

  test("x211: advisor's only non-equi join is the bounded probes x bins broadcast") {
    val p = plan("x211_sort_advisor")
    assert(!p.contains("CartesianProduct"), s"x211 grew a real cartesian:\n$p")
    assert(!p.replaceAll("BroadcastNestedLoopJoin BuildRight, Inner", "")
      .replaceAll("BroadcastNestedLoopJoin BuildRight, Cross", "")
      .replaceAll("BroadcastNestedLoopJoin BuildLeft, Inner", "")
      .contains("BroadcastNestedLoopJoin"),
      s"x211's bounded joins must broadcast:\n$p")
  }

  test("x211/x218: advisors fold all candidates + probes into ONE eager grouping-sets pass; final plan has ZERO parquet scans") {
    for (name <- Seq("x211_sort_advisor", "x218_bloom_advisor")) {
      val p = plan(name)
      // the single corpus pass (the grouping-sets Expand) ran EAGERLY at
      // construction and was checkpointed to a plan leaf, so the final
      // plan must contain NO Expand and NO parquet scan at all — every
      // candidate branch reads the stored partitions. (The round-9
      // persist() relied on CacheManager canonical matching, which
      // silently fails for grouping-sets subtrees once the analyzer
      // deduplicates the union's repeated references — only the first
      // branch read the cache; the rest re-ran the Expand from parquet.)
      assert(!p.contains("FileScan parquet"),
        s"$name's final plan re-scans parquet — the corpus pass leaked " +
          s"past the checkpoint:\n$p")
      assert("Scan ExistingRDD".r.findAllIn(p).size >= 3,
        s"$name's candidate branches must read the checkpointed " +
          s"grouping-sets frame (>=3 Scan ExistingRDD):\n$p")
    }
  }

  test("x280: blocking advisor is one eager grouping-sets pass — final plan never re-scans parquet") {
    val p = plan("x280_blocking_advisor")
    assert(!p.contains("FileScan parquet"),
      s"x280's final plan re-scans parquet past the checkpoint:\n$p")
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 4,
      s"x280's candidate branches must read the checkpointed frame:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"x280's 1-row combines must broadcast:\n$p")
  }

  test("x281: contamination membership is a left_semi equi-join against the distinct corpus n-gram set — no pair frame") {
    val p = plan("x281_contamination_audit")
    assert(p.contains("LeftSemi"),
      s"x281 must test membership via left_semi, not materialize hits:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"x281 grew a non-equi join over the shingle frames:\n$p")
  }

  test("x282: the nprobe sweep never re-runs the search — corpus joins are equi/broadcast, sweep combines are broadcast-bounded") {
    val p = plan("x282_ivf_nprobe_advisor")
    assert(!p.contains("CartesianProduct"),
      s"x282 grew a real cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"x282's bounded frames must broadcast, not sort-merge:\n$p")
  }

  test("x50: BOW classifier tokenizes the corpus ONCE — both gradient and scoring branches read the persisted tf frame") {
    val p = plan("x50_bow_classifier")
    // the per-(doc,bucket) tf frame is persisted at construction; the
    // final DAG consumes it twice (broadcast gradient table + scoring
    // probe side) and BOTH must be cache reads — round 9 measured the
    // unpersisted shape re-tokenizing the corpus ~4x per run
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"x50's gradient + scoring branches must both read the cached tf " +
        s"frame (>=2 InMemoryTableScan):\n$p")
  }

  test("x212: mSPRT is one partial agg into the days-sized frame — no join") {
    val p = plan("x212_msprt")
    assert(!p.contains("Join"), s"x212 must stay join-free:\n$p")
    val winIdx = p.indexOf("Window [")
    val aggIdx = p.lastIndexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      s"x212's windows must consume the daily frame:\n$p")
  }

  test("x210: attribution's row-scale work is windows + one transition groupBy (solve is driver-side, state-space-sized)") {
    val p = plan("x210_markov_attribution")
    // the returned frame is a literal localtable built from the bounded
    // solve; the heavy lifting happened in the collected transition agg
    assert(p.contains("LocalTableScan") || p.contains("Scan ExistingRDD"),
      s"x210's output must be the driver-solved literal frame:\n$p")
  }

  test("x213: covariate balance is two partial aggs + a 3-row fan-out — no join, no window") {
    val p = plan("x213_covariate_balance")
    assert(!p.contains("Join") && !p.contains("Window ["),
      s"x213 must stay join/window-free:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"x213 per-user sums must partial-aggregate:\n$p")
  }

  test("x230: BH-FDR is two partial-agged scans + a broadcast 1-row combine; step-up windows run on the metric frame") {
    val p = plan("x230_fdr_bh")
    assert(!p.contains("CartesianProduct"), s"x230 grew a cartesian:\n$p")
    assert(!p.replaceAll(
      "BroadcastNestedLoopJoin BuildRight, Cross", "").contains(
      "BroadcastNestedLoopJoin"),
      s"x230 must only cross against the broadcast 1-row user frame:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"x230 must not row-sort-merge anything:\n$p")
    assert(!p.contains("Generate"),
      s"x230 must not explode rows (generated-sum convention):\n$p")
    // the step-up windows must sit ABOVE the per-type aggregate — BH
    // runs on the K-row metric frame, never on raw events
    val winAt = p.indexOf("Window [")
    assert(winAt >= 0, s"x230 expects the K-row step-up window:\n$p")
    assert("HashAggregate".r.findAllIn(p.substring(winAt)).size >= 2,
      s"x230's windows must consume the aggregated metric frame:\n$p")
  }

  test("x231: Heaps fit shuffles the ngram stream once; ranks come from the two-pass RowNum, not a corpus window") {
    val p = plan("x231_heaps_law")
    assert(!p.contains("CartesianProduct"), s"x231 grew a cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"x231 must not row-sort-merge anything:\n$p")
    // no unpartitioned window may consume the corpus-scale stream: the
    // only Window is the 16-row checkpoint cumulative, which sits above
    // aggregates on both of its inputs
    val winAt = p.indexOf("Window [")
    assert(winAt >= 0, s"x231 expects the 16-row cumulative window:\n$p")
    assert("HashAggregate".r.findAllIn(p.substring(winAt)).size >= 2,
      s"x231's window must consume bucket-aggregated frames:\n$p")
  }

  test("x232: AIPW is one partial-agged per-user scan + 2-row moment rollup, broadcast 1-row combines only") {
    val p = plan("x232_aipw_ate")
    assert(!p.contains("CartesianProduct"), s"x232 grew a cartesian:\n$p")
    assert(!p.replaceAll(
      "BroadcastNestedLoopJoin BuildRight, Cross", "").contains(
      "BroadcastNestedLoopJoin"),
      s"x232 must only cross against broadcast 1-row frames:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"x232 must not row-sort-merge anything:\n$p")
    assert(!p.contains("Window ["), s"x232 must stay window-free:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"x232 per-user sums must partial-aggregate:\n$p")
  }

  test("x233: water-filling's row-scale work is one groupBy(source); the solve is driver-side, source-domain-sized") {
    val p = plan("x233_budget_waterfill")
    assert(p.contains("LocalTableScan") || p.contains("Scan ExistingRDD"),
      s"x233's output must be the driver-solved literal frame:\n$p")
  }

  test("x234: VAD is an embarrassingly parallel codec scan — no join, no aggregate, no window") {
    val p = plan("x234_wav_vad")
    assert(!p.contains("Join") && !p.contains("Window ["),
      s"x234 must stay join/window-free:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"x234 must run on the per-partition codec RDD scan:\n$p")
  }

  test("x235: cluster ATE is one groupBy(cluster) + a cluster-domain rollup; broadcast 1-row combines only") {
    val p = plan("x235_cluster_ate")
    assert(!p.contains("CartesianProduct"), s"x235 grew a cartesian:\n$p")
    assert(!p.replaceAll(
      "BroadcastNestedLoopJoin BuildRight, Cross", "").contains(
      "BroadcastNestedLoopJoin"),
      s"x235 must only cross against broadcast 1-row frames:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"x235 must not row-sort-merge anything:\n$p")
    assert(!p.contains("Window ["), s"x235 must stay window-free:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"x235 cluster sums must partial-aggregate:\n$p")
  }

  test("x236: randomized response attaches the category index by broadcast; windows run on bounded frames") {
    val p = plan("x236_randomized_response")
    assert(!p.contains("CartesianProduct"), s"x236 grew a cartesian:\n$p")
    assert(!p.replaceAll(
      "BroadcastNestedLoopJoin BuildRight, Cross", "").contains(
      "BroadcastNestedLoopJoin"),
      s"x236 must only cross against broadcast 1-row frames:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"x236 must not row-sort-merge anything:\n$p")
    // the fake-category attach must be a broadcast of the K-row domain
    assert(p.contains("BroadcastHashJoin"),
      s"x236's category index must broadcast:\n$p")
  }

  test("x237: off-policy eval joins rewards equi on user; all policies ride ONE aggregate pass + broadcast 1-row K") {
    val p = plan("x237_offpolicy_ips")
    assert(!p.contains("CartesianProduct"), s"x237 grew a cartesian:\n$p")
    assert(!p.replaceAll(
      "BroadcastNestedLoopJoin BuildRight, Cross", "").contains(
      "BroadcastNestedLoopJoin"),
      s"x237 must only cross against broadcast 1-row frames:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"x237 sums must partial-aggregate:\n$p")
  }

  test("x238: parity audit — median from the value-frame window, rates one groupBy, only broadcast combines") {
    val p = plan("x238_selection_parity")
    assert(!p.contains("CartesianProduct"), s"x238 grew a cartesian:\n$p")
    assert(!p.replaceAll(
      "BroadcastNestedLoopJoin BuildRight, Cross", "").contains(
      "BroadcastNestedLoopJoin"),
      s"x238 must only cross against broadcast 1-row frames:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"x238 must not row-sort-merge anything:\n$p")
    // the median window must sit ABOVE the value-frame aggregate
    val winAt = p.indexOf("Window [")
    assert(winAt >= 0 &&
      "HashAggregate".r.findAllIn(p.substring(winAt)).size >= 2,
      s"x238's cumulative must consume the value frame, not rows:\n$p")
  }

  test("x239: shuffle audit — range-partitioned sort + two-pass rank; lag windows partition by shard") {
    val p = plan("x239_shuffle_audit")
    assert(!p.contains("CartesianProduct"), s"x239 grew a cartesian:\n$p")
    assert(!p.replaceAll(
      "BroadcastNestedLoopJoin BuildRight, Cross", "").contains(
      "BroadcastNestedLoopJoin"),
      s"x239 must only cross against broadcast 1-row frames:\n$p")
    // every window must be keyed (windowspecdefinition with a partition
    // list) — no unpartitioned corpus-wide window
    assert(!p.contains("windowspecdefinition(__graft"),
      s"x239 must not window the raw corpus unkeyed:\n$p")
    assert(p.contains("Window [") ,
      s"x239 expects the shard-partitioned lag window:\n$p")
  }

  test("x240/x241: survival curves aggregate users once; cumulative windows run on the day-bounded risk frame") {
    for (q <- Seq("x240_kaplan_meier", "x241_logrank")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q must not row-sort-merge anything:\n$p")
      // risk-table windows must sit ABOVE the per-user AND per-day
      // aggregates — two HashAggregate pairs below the first Window
      val winAt = p.indexOf("Window [")
      assert(winAt >= 0 &&
        "HashAggregate".r.findAllIn(p.substring(winAt)).size >= 4,
        s"$q's cumulative must consume the duration frame, not rows:\n$p")
    }
  }

  test("x242/x243: IV Wald and Wilson reduce to per-arm integer counts; only broadcast 1-row combines") {
    for (q <- Seq("x242_iv_wald", "x243_wilson_ci")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian:\n$p")
      assert(!p.replaceAll(
        "BroadcastNestedLoopJoin BuildRight, Cross", "").contains(
        "BroadcastNestedLoopJoin"),
        s"$q must only cross against broadcast 1-row frames:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q must not row-sort-merge anything:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 4,
        s"$q must partial-aggregate the per-user pass:\n$p")
    }
  }

  test("x244: group-sequential fans out over a 5-row broadcast look frame; no row-scale window") {
    val p = plan("x244_group_sequential")
    assert(!p.contains("CartesianProduct"), s"x244 grew a cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"x244 must not row-sort-merge anything:\n$p")
    assert(!p.contains("Window ["),
      s"x244 must not window at all (look frame is a broadcast join):\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"x244's per-user pass must partial-aggregate:\n$p")
  }

  test("x245/x246: rendezvous and W1 keep windows keyed or codomain-bounded; no cartesian") {
    for (q <- Seq("x245_rendezvous", "x246_wasserstein")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian:\n$p")
      assert(!p.replaceAll(
        "BroadcastNestedLoopJoin Build(Right|Left), Cross", "").contains(
        "BroadcastNestedLoopJoin"),
        s"$q must only cross against broadcast bounded frames:\n$p")
    }
    // x245's per-key max windows must be keyed by the doc id
    val p45 = plan("x245_rendezvous")
    assert(p45.contains("windowspecdefinition(__id"),
      s"x245 windows must partition by the key:\n$p45")
  }

  test("x247/x248: pair joins and rank windows run on arm/source-domain frames above partial aggs") {
    for (q <- Seq("x247_kendall_tau", "x248_ucb_allocation")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q must not row-sort-merge anything:\n$p")
      // bounded-frame work sits ABOVE the row-scale partial agg
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q must partial-aggregate the corpus scan:\n$p")
    }
  }

  test("x249: padding waste ranks via two-pass prefix sums; the only raw-corpus window is keyed by length") {
    val p = plan("x249_padding_waste")
    assert(!p.contains("CartesianProduct"), s"x249 grew a cartesian:\n$p")
    // the arrival rank must NOT be an unpartitioned row_number over the
    // corpus; cumByRange's bucketed path partitions by __bkt
    assert(!p.contains("windowspecdefinition(doc_id"),
      s"x249 must not window the raw corpus by doc_id unkeyed:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"x249 batch totals must partial-aggregate:\n$p")
  }

  test("x250-x253: planner/audit frames are bounded; no row-scale sort-merge or cartesian") {
    for (q <- Seq("x250_lsh_planner", "x251_benford", "x252_haar_volume",
        "x253_loo_influence")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q must not row-sort-merge anything:\n$p")
      assert(!p.replaceAll(
        "BroadcastNestedLoopJoin Build(Right|Left), Cross", "").contains(
        "BroadcastNestedLoopJoin"),
        s"$q must only cross against broadcast bounded frames:\n$p")
    }
  }

  test("x254-x257: survival/recapture/jackknife/pareto frames stay bounded above partial aggs") {
    for (q <- Seq("x254_nelson_aalen", "x256_jackknife",
        "x257_pareto_front")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q must not row-sort-merge anything:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q must partial-aggregate the corpus scan:\n$p")
    }
    // x255 composes the two gated detectors; the estimate itself must
    // add only equi-joins and 1-row crosses on top
    val p55 = plan("x255_capture_recapture")
    assert(!p55.contains("CartesianProduct"),
      s"x255 grew a cartesian:\n$p55")
  }

  test("x258/x259: valuation and RMST stay on bounded frames; shingle joins never sort-merge") {
    val p58 = plan("x258_shapley_coverage")
    assert(!p58.contains("CartesianProduct"), s"x258 grew a cartesian:\n$p58")
    assert(!p58.contains("SortMergeJoin"),
      s"x258's shingle-keyed join must stay shuffle_hash:\n$p58")
    assert(p58.contains("ShuffledHashJoin"),
      s"x258 must join presence against coverage counts hash-keyed:\n$p58")
    val p59 = plan("x259_rmst")
    assert(!p59.contains("CartesianProduct"), s"x259 grew a cartesian:\n$p59")
    assert(!p59.contains("SortMergeJoin"),
      s"x259's per-arm frames are day-bounded — no row sort-merge:\n$p59")
    // windows must consume the (arm x day) frame, not raw events: the
    // user partial-agg sits below every Window
    val winIdx = p59.indexOf("Window [")
    assert(winIdx >= 0 && p59.substring(winIdx).contains("HashAggregate"),
      s"x259's windows must consume the aggregated risk frame:\n$p59")
  }

  test("x260/x261: planner outputs are driver-bounded local frames / join-free union of aggs") {
    // x260 runs its k bounded argmax collects at build time; the
    // RESULT is a k-row local frame — that is the design claim
    val p60 = plan("x260_greedy_cover")
    assert(p60.contains("LocalTableScan") || p60.contains("EmptyRelation"),
      s"x260's output must be the k-row driver frame:\n$p60")
    // x261 (round 10): the per-table scans union into ONE
    // groupBy(table_name) — a single aggregation exchange for the whole
    // advisor instead of one 1-row-agg exchange per table (9 tables ran
    // 19 AQE stage jobs of pure latency) — and the names spine attaches
    // by broadcast only (it restores the zero row for empty tables)
    val p61 = plan("x261_broadcast_advisor")
    assert(!p61.contains("SortMergeJoin") && !p61.contains("ShuffledHashJoin"),
      s"x261's spine join must broadcast:\n$p61")
    assert("Exchange hashpartitioning".r.findAllIn(p61).size <= 1,
      s"x261 must carry at most ONE aggregation exchange (union-then-" +
        s"aggregate), not one per table:\n$p61")
    assert("HashAggregate".r.findAllIn(p61).size >= 2,
      s"x261 must partial-aggregate the unioned scans:\n$p61")
  }

  test("x262-x264: probe-panel brute stays broadcast-cross; decay/tail frames are codomain-bounded") {
    // x262: the corpus may only cross against the BROADCAST bounded
    // probe panel — never a real cartesian, never a corpus sort-merge
    val p62 = plan("x262_intrinsic_dim")
    assert(!p62.contains("CartesianProduct"), s"x262 grew a cartesian:\n$p62")
    assert(!p62.contains("SortMergeJoin"),
      s"x262 must not sort-merge the corpus:\n$p62")
    assert(!p62.replaceAll(
      "BroadcastNestedLoopJoin Build(Right|Left), Cross", "").contains(
      "BroadcastNestedLoopJoin"),
      s"x262's only cross must be vs the broadcast probe panel:\n$p62")
    for (q <- Seq("x263_decay_volume", "x264_tail_ownership")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q must not row-sort-merge anything:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q must partial-aggregate the scan:\n$p")
    }
  }

  test("e11: the scorecard assembly only broadcast-joins source-bounded frames") {
    val p = plan("e11_source_valuation")
    assert(!p.contains("CartesianProduct"), s"e11 grew a cartesian:\n$p")
    // stage frames are source-bounded; their assembly must broadcast
    assert(p.contains("BroadcastHashJoin"),
      s"e11's scorecard joins must be broadcast:\n$p")
    // the Shapley shingle join inside stage 2 keeps its shuffle_hash pin
    assert(p.contains("ShuffledHashJoin"),
      s"e11 must keep the x258 shingle join hash-keyed:\n$p")
    // allowed nested-loop forms: the 1-row broadcast crosses and the
    // Pareto stage's domination LeftSemi on the broadcast source frame
    assert(!p.replaceAll(
      "BroadcastNestedLoopJoin Build(Right|Left), (Cross|LeftSemi)", "")
      .contains("BroadcastNestedLoopJoin"),
      s"e11 non-equi joins must be vs broadcast bounded frames only:\n$p")
  }

  test("x266/x267: dim stats and the k-anon ladder stay join-free partial-agged scans") {
    for (q <- Seq("x266_dim_stats", "x267_kanon_planner")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must stay join-free:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q must partial-aggregate the scan:\n$p")
    }
  }

  test("x268-x270: moment reduce + broadcast combine; knapsack/prefix joins stay bounded or hash-keyed") {
    val p68 = plan("x268_regression_adjust")
    assert(!p68.contains("CartesianProduct"), s"x268 grew a cartesian:\n$p68")
    assert(!p68.contains("SortMergeJoin"),
      s"x268 must not row-sort-merge anything:\n$p68")
    assert("HashAggregate".r.findAllIn(p68).size >= 2,
      s"x268 must partial-aggregate the event scan:\n$p68")
    val p69 = plan("x269_budget_knapsack")
    assert(!p69.contains("CartesianProduct"), s"x269 grew a cartesian:\n$p69")
    assert(!p69.contains("SortMergeJoin"),
      s"x269's joins are shingle-hash or broadcast source frames:\n$p69")
    val p70 = plan("x270_prefix_cache")
    assert(!p70.contains("CartesianProduct"), s"x270 grew a cartesian:\n$p70")
    assert(p70.contains("ShuffledHashJoin"),
      s"x270's prefix-group join must stay hash-keyed:\n$p70")
    assert(!p70.contains("SortMergeJoin"),
      s"x270 must not sort the prefix rows:\n$p70")
  }

  test("x271-x273: factorial/negbin/advisor stay join-free reduces on bounded frames") {
    for (q <- Seq("x271_factorial", "x272_negbin_fit",
        "x273_histogram_advisor")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must stay join-free:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q must partial-aggregate the scan:\n$p")
    }
  }

  test("x274: TTL audit is one scan + broadcast max-date + partial agg") {
    val p = plan("x274_ttl_audit")
    assert(!p.contains("CartesianProduct"), s"x274 grew a cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"x274 must not row-sort-merge anything:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"x274 must partial-aggregate the scan:\n$p")
  }

  test("x199: range splits reduce per-row work to one groupBy(key); windows run on the distinct-key frame") {
    val p = plan("x199_range_splits")
    assert(!p.contains("Join"), s"x199 must stay join-free:\n$p")
    // the groupBy(key) partial-agg must appear BELOW the window (the
    // window input is the distinct-key frame, not raw rows)
    val winIdx = p.indexOf("Window [")
    val aggIdx = p.lastIndexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      s"x199's window must consume the aggregated key frame:\n$p")
  }

  test("declared-column validation stays codegen'd and linear: Warn/DropRow columns then a DropRow row step") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions._
    import graft.functions.{ColType, ColumnDef}
    import graft.plans.{Context, ErrorPolicy, Phase, RowNum, Step}
    // (CodegenFallback expressions, expression nodes) of the executed plan
    // of one phase with k declared columns
    def shape(k: Int): (Int, Int) = {
      val names = (1 to k).map(i => s"c$i")
      val src = RowNum.assign(spark.range(0, 100)
        .select(names.map(n => (col("id") % 13 - 1).cast("string").as(n)): _*))
      val phase = Phase("Wide",
        columns = names.zipWithIndex.map { case (n, i) =>
          ColumnDef(n, ColType.IntT, minValue = Some(0), maxValue = Some(10),
            onErrorOpt = Some(if (i % 2 == 0) ErrorPolicy.Warn else ErrorPolicy.DropRow))
        },
        steps = Seq(Step.dropRowsWhen("odd", col("c1") % 2 === 1, "odd c1")))
      val plan = phase(src, new Context(spark)).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      var fallback = 0
      var nodes = 0
      plan.foreach(_.expressions.foreach(_.foreach { e =>
        nodes += 1
        if (e.isInstanceOf[CodegenFallback]) fallback += 1
      }))
      (fallback, nodes)
    }
    val (fallbackK, nodesK) = shape(4)
    val (fallback2K, nodes2K) = shape(8)
    assert(fallbackK == 0 && fallback2K == 0,
      s"interpreted (CodegenFallback) expressions in the phase plan: $fallbackK at 4 columns, $fallback2K at 8")
    assert(nodes2K <= 2.5 * nodesK,
      s"expression nodes grow faster than linearly: $nodesK at 4 columns, $nodes2K at 8")
  }
}
