package graft

/** Plan-shape pins: assert the physical plan structure of queries whose
  * timings have been noisy across rounds, so measurement noise can never
  * masquerade as a plan regression again (and a real regression — a new
  * shuffle, a window sneaking back in — fails fast in `sbt test`, not in
  * a cross-run bench comparison).
  */
class PlanPinsSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Shuffle exchanges only (BroadcastExchange moves a dim table, not
    * the fact stream — counted separately). */
  private def shuffles(plan: String): Int =
    plan.linesIterator.count(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))

  test("doc_orderby executes as TakeOrderedAndProject (no global sort)") {
    val p = planOf("doc_orderby")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("doc_cursor_page: tuple-compare filter at the scan + TakeOrderedAndProject") {
    val p = planOf("doc_cursor_page")
    // keyset paging must be a FILTER fused into the scan stage plus a
    // per-partition top-N — never a global Sort, never an offset rescan
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.linesIterator.exists(l => l.trim.startsWith("Sort ")))
    assert(shuffles(p) === 0)
    // both cursor bounds evaluate inside one Filter over the collection
    assert(p.contains("Filter"))
  }

  test("doc_index_extract is a pure scan-project: zero exchanges") {
    val p = planOf("doc_index_extract")
    assert(shuffles(p) === 0)
    assert(!p.contains("BroadcastExchange"))
  }

  test("evt_sessionize shuffles exactly once") {
    val p = planOf("evt_sessionize")
    assert(shuffles(p) === 1)
  }

  test("evt_approx_topk: ONE shuffle, no window sort (sketch, not row_number)") {
    val p = planOf("evt_approx_topk")
    assert(shuffles(p) === 1)
    assert(!p.contains("Window"))
  }

  test("q2_min_cost: argmin aggregate = one fact shuffle, both dims broadcast") {
    val p = planOf("q2_min_cost")
    assert(shuffles(p) === 1)
    assert(p.linesIterator.count(_.contains("BroadcastExchange")) === 2)
    assert(!p.contains("Window")) // the row_number formulation is the trap
  }

  test("pipeline_curriculum: final agg reuses the window's source partitioning") {
    val p = planOf("pipeline_curriculum")
    assert(shuffles(p) === 1) // window shuffle only; groupBy(source, tier) rides it
  }

  test("dedup_lines: hash-keyed dupness, at most three shuffles, no window") {
    val p = planOf("dedup_lines")
    assert(shuffles(p) <= 3)
    assert(!p.contains("Window"))
    assert(p.contains("xxhash64")) // the narrow 8-byte shuffle key
  }

  test("text_url_stats: two shuffles (host distinct-count), predicate-free scan ok") {
    val p = planOf("text_url_stats")
    assert(shuffles(p) <= 2)
  }

  test("mm_phash_dedup: banded candidate join, one shuffle") {
    val p = planOf("mm_phash_dedup")
    assert(shuffles(p) <= 2) // band join + distinct; broadcast at this SF
  }

  test("ann_filtered_topk: attribute predicate pushed to the scan, queries broadcast") {
    val p = planOf("ann_filtered_topk")
    // pre-filter reaches the parquet scan: kernel scores |filtered|, not |corpus|
    assert(p.contains("PushedFilters") && p.contains("label"))
    assert(p.contains("BroadcastExchange"))
    assert(shuffles(p) === 1) // the per-query top-k window, nothing else
  }

  private def count(plan: String, node: String): Int =
    plan.linesIterator.count(_.contains(node))

  // The in-session ANN searches and dedup_incremental share their bodies
  // with AnnIndex's persisted searches and StreamingDedup. Each pin is
  // the plan's shuffle count, whether it broadcasts, and its nested-loop
  // joins: only the designed broadcast ones (queries × corpus on `!=`,
  // vectors × the C-row centroid table), never a CartesianProduct.
  test("ann_lsh: two shuffles, broadcast rescore, no nested-loop join") {
    val p = planOf("ann_lsh")
    assert(shuffles(p) === 2, p)
    assert(p.contains("BroadcastExchange"), p)
    assert(count(p, "BroadcastNestedLoopJoin") === 0, p)
    assert(count(p, "CartesianProduct") === 0, p)
  }

  test("ann_ivf: five shuffles, both centroid assignments broadcast nested-loop") {
    val p = planOf("ann_ivf")
    assert(shuffles(p) === 5, p)
    assert(p.contains("BroadcastExchange"), p)
    assert(count(p, "BroadcastNestedLoopJoin") === 2, p)
    assert(count(p, "CartesianProduct") === 0, p)
  }

  test("ann_pq: one shuffle, the ADC scan is the one broadcast nested-loop") {
    val p = planOf("ann_pq")
    assert(shuffles(p) === 1, p)
    assert(p.contains("BroadcastExchange"), p)
    assert(count(p, "BroadcastNestedLoopJoin") === 1, p)
    assert(count(p, "CartesianProduct") === 0, p)
  }

  test("dedup_incremental: five shuffles, broadcasts, no nested-loop join") {
    val p = planOf("dedup_incremental")
    assert(shuffles(p) === 5, p)
    assert(p.contains("BroadcastExchange"), p)
    assert(count(p, "BroadcastNestedLoopJoin") === 0, p)
    assert(count(p, "CartesianProduct") === 0, p)
  }

  test("ann_range_search: broadcast queries, zero shuffles, one corpus scan") {
    val p = planOf("ann_range_search")
    assert(shuffles(p) === 0)
    assert(p.contains("BroadcastExchange"))
  }

  test("q17_small_qty: decorrelated to ONE fact shuffle, brand filter broadcast") {
    val p = planOf("q17_small_qty")
    // the window over l_partkey is the only shuffle of lineitem; the
    // final scalar aggregate adds its single-partition exchange
    assert(shuffles(p) <= 2)
    assert(p.contains("BroadcastExchange"))
    // decorrelation by hand: no self-join of lineitem survives
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 2) // lineitem + part
  }

  test("q18_top_buyers / q22_idle_balance: no fact-fact shuffle join (all broadcasts)") {
    for (n <- Seq("q18_top_buyers", "q22_idle_balance")) {
      val p = planOf(n)
      assert(!p.contains("SortMergeJoin"), s"$n has a sort-merge join")
      assert(p.contains("BroadcastExchange"), s"$n lost its broadcast")
    }
  }

  test("mutation_ownership has no Window operator (two-stage agg shape)") {
    val p = planOf("mutation_ownership")
    assert(!p.contains("Window"))
    // the two-aggregation shape: partials on (k, user_id), final on k —
    // still at most two shuffle exchanges
    assert(shuffles(p) <= 2)
  }

  test("mutation_verify_sig: crypto runs pre-shuffle, one aggregate exchange") {
    val p = planOf("mutation_verify_sig")
    assert(shuffles(p) === 1)
    assert(!p.contains("Window"))
  }

  test("evt_decode_abi: single scan, zero exchanges, one json parse") {
    val p = planOf("evt_decode_abi")
    assert(shuffles(p) === 0)
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 1)
    assert(p.linesIterator.map(l => "from_json".r.findAllIn(l).size).sum === 1)
  }

  test("evt_decode_abi_multi: single scan, zero exchanges, one json parse") {
    val p = planOf("evt_decode_abi_multi")
    assert(shuffles(p) === 0)
    assert(!p.contains("BroadcastExchange"))
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 1)
    // the merged-schema decode parses each row exactly once — a second
    // from_json sneaking in means the per-branch parse came back
    assert(p.contains("from_json"))
    assert(p.linesIterator.map(l =>
      "from_json".r.findAllIn(l).size).sum === 1)
  }

  test("fused doc compiler parses each row exactly once (parse fence)") {
    // wide queries (≥4 per-field extractions) run the fused single-parse
    // compiler behind the explode fence: exactly ONE from_json in plan
    Seq("doc_filter_nested", "doc_filter_or").foreach { q =>
      val p = planOf(q)
      assert(p.linesIterator.map(l =>
        "from_json".r.findAllIn(l).size).sum === 1, s"extra parse in $q")
    }
  }

  test("narrow doc queries take the per-field fast path (no fence)") {
    // ≤3 extractions AND no sort-stage field re-probed by another stage:
    // independent get_json_object probes, no struct parse and no
    // Generate — the fence overhead buys nothing here. doc_filter_eq /
    // doc_filter_in (filter+select on the SAME field) are per-field
    // again as of r15: the projection probe runs only on filter
    // SURVIVORS, and the r14 any-repeat rule cost them 1.2-1.7× vs r13
    // (committed records; OPTIMIZATION_r15.md has the per-shape
    // measurement).
    Seq("doc_qstr", "doc_filter_range", "doc_projection",
        "doc_filter_not_in", "doc_filter_eq", "doc_filter_in",
        "doc_filter_neq", "doc_limit", "doc_orderby", "doc_offset").foreach { q =>
      val p = planOf(q)
      assert(p.linesIterator.map(l =>
        "from_json".r.findAllIn(l).size).sum === 0, s"struct parse in $q")
      assert(!p.contains("Generate"), s"parse fence in narrow query $q")
    }
  }

  test("sort∩filter repeated-field doc queries take the fused path") {
    // a field probed by BOTH the sort stage and the filter stage (the
    // keyset-cursor shape: cursor predicates test the order key on
    // every row, then the sort streams it again) re-streams the raw
    // JSON 2-3× per row on the per-field path (codegen CSE is
    // per-operator) — these dispatch to the single-parse compiler even
    // though they are ≤3 extractions. doc_cursor_page is the motivating
    // case (per-field 0.93 s vs fused 0.38-0.41 s in the r15 same-JVM
    // A/B at sf0.1). Sort↔projection-only overlap (doc_orderby,
    // doc_offset) measured FASTER per-field (the projection probe runs
    // post-top-N) and stays on the fast path — the narrow-queries pin
    // above covers them.
    Seq("doc_cursor_page").foreach { q =>
      val p = planOf(q)
      assert(p.linesIterator.map(l =>
        "from_json".r.findAllIn(l).size).sum === 1, s"parse count in $q")
    }
  }

  test("doc_group_agg stays a single-shuffle aggregate") {
    val p = planOf("doc_group_agg")
    assert(shuffles(p) === 1)
  }

  test("pipeline_reservoir: one partial-agg shuffle, no window, no stratum sort") {
    val p = planOf("pipeline_reservoir")
    // the mergeable bottom-k aggregate does all the work: map-side
    // partials ship <= k pairs per source into ONE shuffle, the sampled
    // id set broadcasts back for payload recovery, and no Window / Sort
    // of a stratum exists anywhere in the plan
    assert(shuffles(p) === 1, p)
    assert(p.contains("BroadcastExchange"), p)
    assert(p.contains("partial_bottomksample"), p)
    assert(!p.contains("Window"), p)
  }

  test("pipeline_e2e / dedup_incremental: composed chains never go nested-loop") {
    Seq("pipeline_e2e", "dedup_incremental").foreach { n =>
      val p = planOf(n)
      assert(!p.contains("BroadcastNestedLoop"), s"$n:\n$p")
      assert(!p.contains("CartesianProduct"), s"$n:\n$p")
    }
  }

  test("q7/q8: dual-aliased dims all broadcast — one real fact shuffle (the agg)") {
    for (n <- Seq("q7_nation_volume", "q8_market_share")) {
      val p = planOf(n)
      assert(!p.contains("SortMergeJoin"), s"$n shuffles the fact by a dim key")
      assert(shuffles(p) === 1, s"$n: expected only the aggregate exchange")
    }
  }

  test("q13_order_counts: aggregate-then-join — orders never joins row-wise") {
    val p = planOf("q13_order_counts")
    // per-customer counts collapse BEFORE the (broadcast) left join into
    // customer; a SortMergeJoin here would mean the fact joined raw
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("BroadcastExchange"))
    assert(shuffles(p) <= 2) // orders groupBy + final 20-row distribution agg
  }

  test("q19_disc_revenue: OR-of-ANDs splits and pushes to BOTH scans") {
    val p = planOf("q19_disc_revenue")
    // the per-side envelopes must reach the parquet scans as PushedFilters
    val liScan = p.linesIterator.find(l => l.contains("Scan parquet") && l.contains("lineitem")).get
    val partScan = p.linesIterator.find(l => l.contains("Scan parquet") && l.contains("part.parquet")).get
    assert(liScan.contains("l_quantity"), "quantity envelope not pushed to lineitem")
    assert(partScan.contains("p_brand"), "brand/size envelope not pushed to part")
    assert(shuffles(p) === 1) // the single-row aggregate only
  }

  test("emb_kmeans / pipeline_cluster_sample: centroids broadcast, few small shuffles") {
    val pk = planOf("emb_kmeans")
    // assignment argmax + two tiny rollups; the embedding vectors never
    // ride an exchange beyond the first partial aggregate
    assert(shuffles(pk) <= 3, pk)
    assert(pk.contains("BroadcastExchange") || pk.contains("BroadcastNestedLoop"), pk)
    assert(!pk.contains("CartesianProduct"), pk)
    val ps = planOf("pipeline_cluster_sample")
    assert(shuffles(ps) <= 2, ps) // assignment agg + bottom-k agg
    assert(ps.contains("partial_bottomksample"), ps)
    assert(!ps.contains("CartesianProduct"), ps)
  }

  test("pipeline_dsir: ONE tokenize+bucket pass behind the cut; λ broadcasts back") {
    // r15 rewrote DSIR to reduce both consumers (λ training + scoring)
    // over one checkpointed (doc, bucket) count table; the executed plan
    // downstream of the cut reads checkpoint blocks, so the pin covers
    // BOTH sides of the fence (r15 verdict #1/#2): the final plan must
    // never re-scan parquet, and the pre-cut lineage must tokenize the
    // corpus exactly once — a second (or third) bucket pass sneaking
    // back fails here, not in a cross-run bench comparison.
    val pre = collection.mutable.Map[String, String]()
    graft.pipeline.Cut.probe = (tag, df) =>
      if (tag == "dsir.perDoc")
        pre(tag) = df.queryExecution.executedPlan.toString
    try {
      val p = planOf("pipeline_dsir")
      assert(p.linesIterator.count(_.contains("Scan parquet")) === 0, p)
      assert(p.contains("Scan ExistingRDD"), p) // both consumers read the cut
      assert(shuffles(p) <= 3, p) // λ agg + 256-row totals window + doc agg
      assert(p.linesIterator.count(_.contains("BroadcastExchange")) === 1, p)
      val pd = pre.getOrElse("dsir.perDoc",
        fail("dsir.perDoc cut not observed — did pipelineDsir stop cutting?"))
      assert(pd.linesIterator.count(_.contains("Scan parquet")) === 1, pd)
      assert(shuffles(pd) === 1, pd) // the (doc, lang, b) count aggregate
    } finally graft.pipeline.Cut.probe = null
  }

  test("dedup_clusters_incremental: merge cuts pinned upstream, ≤6 exchanges total") {
    // r15 fused E4/E3 into one candidate join+agg and cut the candidate
    // and touched sets (18 → 6 exchanges in the final plan). The cuts
    // hide the fused shape behind ExistingRDD scans, so pin the pre-cut
    // lineages through the Cut probe: the candidate set must stay ONE
    // join (stream ∪-side × delta index), and `touched` must read the
    // candidate CHECKPOINT, never re-derive it.
    val pre = collection.mutable.Map[String, String]()
    graft.pipeline.Cut.probe = (tag, df) =>
      if (tag.startsWith("merge."))
        pre(tag) = df.queryExecution.executedPlan.toString
    try {
      val p = planOf("dedup_clusters_incremental")
      assert(shuffles(p) <= 4, p)
      assert(p.linesIterator.count(_.contains("Exchange")) <= 6, p)
      def joins(plan: String): Int = plan.linesIterator.count(l =>
        l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin") ||
          l.contains("ShuffledHashJoin"))
      val cand = pre.getOrElse("merge.cand", fail("merge.cand cut not observed"))
      assert(joins(cand) === 1, cand) // the fused E4/E3 candidate join
      val touched = pre.getOrElse("merge.touched",
        fail("merge.touched cut not observed"))
      assert(joins(touched) === 1, touched)
      assert(touched.contains("Scan ExistingRDD"), touched) // reads cand's cut
      // the rep collapse (r16): ONE delta scan into ONE rep aggregate,
      // with the E1 member ids folded into it — no join
      val reps = pre.getOrElse("merge.reps", fail("merge.reps cut not observed"))
      assert(reps.linesIterator.count(_.contains("Scan ")) === 1, reps)
      assert(reps.linesIterator.count(l => l.contains("Aggregate") &&
        !l.contains("partial_")) === 1, reps)
      assert(joins(reps) === 0, reps)
    } finally graft.pipeline.Cut.probe = null
  }

  test("q_window_funcs: four window functions share ONE Window (one shuffle, one sort)") {
    val p = planOf("q_window_funcs")
    assert(shuffles(p) === 1, p)
    assert(p.linesIterator.count(_.trim.startsWith("+- Window")) +
      p.linesIterator.count(_.trim.startsWith(":- Window")) <= 2, p) // lag/lead/cume share; ntile may split
    assert(p.linesIterator.count(_.contains("Sort ")) === 1, p)
  }

  test("q_cube_agg expands grouping sets inside ONE shuffle") {
    val p = planOf("q_cube_agg")
    assert(shuffles(p) === 1, p)
    assert(p.contains("Expand"), p)
  }

  test("emb_pca is a zero-exchange single-scan partial aggregate") {
    // r5/r6 timing jitter on unchanged code — pin the shape so noise can
    // never be mistaken for a plan regression
    val p = planOf("emb_pca")
    assert(shuffles(p) === 0)
    assert(!p.contains("BroadcastExchange"))
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 1)
  }

  private def lineitemScans(plan: String): Int =
    plan.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem.parquet"))

  test("q15/q20: aggregate-vs-own-total decorrelations scan the fact ONCE") {
    // the scalar-subquery forms re-scan lineitem for the max/total (no
    // ReusedExchange fires) — at 100 TB that doubles the dominant cost.
    // Pin the single-scan window-over-aggregated shape.
    assert(lineitemScans(planOf("q15_top_supplier")) === 1)
    assert(lineitemScans(planOf("q20_excess_suppliers")) === 1)
  }

  test("q21: double EXISTS/NOT-EXISTS decorrelates to ONE pass over lineitem") {
    // the textbook form joins the fact to itself twice (l2 EXISTS + l3
    // NOT EXISTS); the per-order aggregation needs neither
    val p = planOf("q21_waiting_supplier")
    assert(lineitemScans(p) === 1)
    assert(p.contains("TakeOrderedAndProject")) // deterministic top-10
  }

  test("text_search_bm25: no explode, one stats exchange, TakeOrdered top-k") {
    val p = planOf("text_search_bm25")
    assert(!p.contains("Generate"), "tf must come from array HOFs, not explode")
    assert(shuffles(p) === 1, "only the one-row stats aggregate may exchange")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q10: per-customer rollup happens BEFORE the customer/nation joins") {
    // the wide c_name column must never ride the fact shuffle: the
    // aggregate's output feeds the broadcast joins, not the reverse
    val p = planOf("q10_returned_revenue")
    assert(p.contains("TakeOrderedAndProject"))
    val aggPos = p.indexOf("HashAggregate")
    val bcastPos = p.indexOf("BroadcastHashJoin")
    assert(aggPos >= 0 && bcastPos >= 0 && bcastPos < aggPos,
      "broadcast dim joins should sit above the aggregation in the plan tree")
  }
}
