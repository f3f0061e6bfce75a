package graft

/** Physical-plan discipline audit: correctness tests prove WHAT the
  * queries return; these prove the plans are the ones we'd want at
  * 100 TB — dims broadcast, scans filtered at the source, hot
  * aggregations inside whole-stage codegen, and no accidental
  * cartesian products (the intentional ones — ANN brute force,
  * pairwise cosine — are exactly that, intentional and LSH-bounded).
  */
class PlanAuditSpec extends SparkSpec {

  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.toRdd.count() // materialize so AQE settles on the real plan
    df.queryExecution.executedPlan.toString
  }

  test("dim joins stay broadcast (q3/q5/q14 — J1/J2 parity at any fact size)") {
    for (q <- Seq("q3_shipping", "q5_region_revenue", "q14_promo_share")) {
      val plan = finalPlan(q)
      assert(plan.contains("BroadcastHashJoin"), s"$q lost its broadcast join:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q degenerated to a cartesian:\n$plan")
    }
  }

  test("flagship aggregation runs inside whole-stage codegen with partial aggregation") {
    val plan = finalPlan("q1_pricing")
    // AQE's tree string marks codegen stages with "*(n)" prefixes
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("),
      s"q1 fell out of codegen:\n$plan")
    assert(plan.contains("HashAggregate"), s"q1 not hash-aggregated:\n$plan")
    // partial/final pair: two HashAggregate nodes around the exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"q1 lost map-side partial aggregation:\n$plan")
  }

  test("selective scans push their filters into the parquet source") {
    val df = SparkEntry.queries("q6_revenue_delta")(spark, sf)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: ["), s"q6 scan has no pushed filters:\n$scan")
    assert(!scan.contains("PushedFilters: []"), s"q6 pushed-filter list is empty:\n$scan")
  }

  test("per-key top-k rows cut each group to k before the shuffle (partial WindowGroupLimit)") {
    // SQL and DataFrame forms of `row_number() <= 3`, with the rank
    // dropped or kept: each task ships at most 3 rows per customer
    for (q <- Seq("grouped_topk_orders", "window_topk_orders", "window_topk_ranked")) {
      val df = SparkEntry.queries(q)(spark, sf)
      assert(TopKPlan.limitsBeforeShuffle(df),
        s"$q shuffles whole groups (no partial WindowGroupLimit below the exchange):\n" +
          df.queryExecution.executedPlan)
    }
  }

  test("ANN probes partition-prune the at-rest index (no full signature/list scan)") {
    // ann_lsh: the SRP index scan must carry the 137-bucket hamming-≤2
    // IN set as a PARTITION filter — the probe reads those directories
    // only, never the other 65k buckets' files
    val lsh = finalPlan("ann_lsh")
    assert(lsh.contains("PartitionFilters: [srp_bucket"),
      s"ann_lsh scans the whole signature table (no partition filter):\n$lsh")
    // ann_ivf_probe: the inverted-list scan prunes to the nprobe=2 cells
    val ivf = finalPlan("ann_ivf_probe")
    assert(ivf.contains("PartitionFilters: [label"),
      s"ann_ivf_probe scans every inverted list (no partition filter):\n$ivf")
  }

  test("ANN eval grading keeps the pruned-probe discipline of the indexes it grades") {
    // the 16-query eval must not regress the index probes into full
    // scans: LSH reads only the union of the queries' hamming-≤2
    // bucket directories, IVF only the probed inverted lists; all
    // query-side/probe-side joins broadcast, nothing plans a cartesian
    val lsh = finalPlan("ann_eval_lsh")
    assert(lsh.contains("PartitionFilters: [srp_bucket"),
      s"ann_eval_lsh scans the whole signature table:\n$lsh")
    assert(!lsh.contains("CartesianProduct"))
    val ivf = finalPlan("ann_eval_ivf")
    assert(ivf.contains("PartitionFilters: [label"),
      s"ann_eval_ivf scans every inverted list:\n$ivf")
    assert(!ivf.contains("CartesianProduct"))
    // the composed IVFADC probe must prune its CODE scan to the probed
    // cells — the pruned-AND-compressed property is the index's point
    val ivfpq = finalPlan("ann_eval_ivfpq")
    assert(ivfpq.contains("PartitionFilters: [cell"),
      s"ann_eval_ivfpq scans every cell's codes:\n$ivfpq")
    assert(!ivfpq.contains("CartesianProduct"))
    for (q <- Seq("ann_eval_lsh", "ann_eval_ivf", "ann_eval_pq", "ann_eval_pq_m8",
        "ann_eval_ivfpq")) {
      val plan = finalPlan(q)
      assert(plan.contains("BroadcastHashJoin"),
        s"$q: probe/query joins must broadcast-hash:\n$plan")
      // the ONLY nested-loop broadcast allowed is the exact leg's
      // 16-query fanout (rankedTopK's crossJoin against the broadcast
      // query sample — a keyless fanout that CANNOT be a hash join);
      // a probe-side equi-join degrading from BroadcastHashJoin to
      // BroadcastNestedLoopJoin would add a second occurrence and fail.
      // Count in the FINAL plan only — AQE's tree string appends an
      // "== Initial Plan ==" section that duplicates every node.
      val finalOnly = plan.split("== Initial Plan ==").head
      val bnlj = finalOnly.sliding("BroadcastNestedLoopJoin".length)
        .count(_ == "BroadcastNestedLoopJoin")
      assert(bnlj <= 1,
        s"$q: a probe join degraded to BroadcastNestedLoopJoin ($bnlj found):\n$plan")
    }
  }

  test("top-k queries short-circuit via TakeOrderedAndProject, not a global sort") {
    for (q <- Seq("get_top_sources", "returned_revenue_topk")) {
      val plan = finalPlan(q)
      assert(plan.contains("TakeOrderedAndProject"), s"$q does a full sort for a top-k:\n$plan")
    }
  }

  test("bitext mining rides the tiled kernel: top-pairs short-circuit, no pair join") {
    val plan = finalPlan("bitext_margin_topk")
    assert(plan.contains("TakeOrderedAndProject"),
      s"bitext top pairs must short-circuit, not global-sort:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"bitext margin joins must stay hash-equi on vec_id/cand:\n$plan")
  }

  test("phash near-dup stays banded: equi-join on (band, value), no cartesian") {
    val plan = finalPlan("media_phash_neardup")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"phash candidates must come from the banded equi-join:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"the stop-band cap must prune hot buckets before pairing:\n$plan")
  }

  test("relational tranche is cartesian-free") {
    // every oracle-checked relational query must join on keys; a plan
    // regression to a cross product would still pass correctness at
    // sf0.01 and then melt at scale — catch it here
    for (q <- Seq("join_orders_customer", "q4_order_priority", "full_outer_daily",
      "semi_join_big_spenders", "anti_join_no_orders", "asof_last_order",
      "range_join_error_window")) {
      val plan = finalPlan(q)
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian product:\n$plan")
    }
  }

  test("row-local kernel queries shuffle only for repartition + final order") {
    // winnowing, gopher signals, int8 quantization: the computation is
    // per-row array math — the ONLY exchanges allowed are the explicit
    // round-robin spread and the presentation orderBy. A SortAggregate /
    // extra Exchange here means someone reintroduced an explode+groupBy.
    for (q <- Seq("doc_winnow_fingerprint", "doc_gopher_signals", "emb_quantize_int8",
                  "text_normalize", "doc_fingerprint")) {
      // AQE's tree string appends the pre-adaptive "Initial Plan" —
      // count exchanges in the final section only
      val plan = finalPlan(q).split("== Initial Plan ==").head
      val exchanges = "Exchange".r.findAllIn(plan).size
      assert(exchanges <= 2, s"$q grew extra shuffles ($exchanges):\n$plan")
      assert(!plan.contains("SortAggregate") && !plan.contains("ObjectHashAggregate"),
        s"$q re-grew an aggregation:\n$plan")
    }
  }

  test("stratified sampler is a pure pushed-scan filter (no shuffle before the sort)") {
    val plan = finalPlan("sample_stratified").split("== Initial Plan ==").head
    // one exchange: the orderBy's range partitioning — nothing else
    assert("Exchange".r.findAllIn(plan).size <= 1,
      s"sample_stratified shuffles before sampling:\n$plan")
  }

  test("decontamination joins broadcast the eval side (the corpus never shuffles to a join)") {
    for (q <- Seq("decontaminate_exact", "sample_mixture")) {
      val plan = finalPlan(q)
      assert(plan.contains("BroadcastHashJoin"), s"$q lost its broadcast join:\n$plan")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
        s"$q shuffles the corpus into a join:\n$plan")
    }
  }

  test("blocklist audit is a map + dim-sized partial agg — no join node at all") {
    val plan = finalPlan("blocklist_filter").split("== Initial Plan ==").head
    assert(!plan.contains("Join"), s"blocklist_filter grew a join:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"blocklist_filter lost map-side partial aggregation:\n$plan")
  }

  test("span census short-circuits via TakeOrderedAndProject") {
    val plan = finalPlan("span_topk")
    assert(plan.contains("TakeOrderedAndProject"),
      s"span_topk does a full sort for a top-k:\n$plan")
  }

  test("global-order rewrites never plan a single-partition window") {
    // ntile_quartiles runs on sort+zipWithIndex; zipf_curve ranks only
    // the top-100 survivors of a TakeOrderedAndProject
    val ntile = finalPlan("ntile_quartiles")
    assert(!ntile.contains("Window"), s"ntile_quartiles re-grew a global window:\n$ntile")
    val zipf = SparkEntry.queries("zipf_curve")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(zipf.contains("TakeOrderedAndProject"),
      s"zipf_curve lost its parallel top-k:\n$zipf")
  }

  test("exact percentiles plan sort-based: no per-group value-map aggregate, probes broadcast") {
    // the builtin `percentile` aggregate buffers a value->count map per
    // group (unbounded for price-like columns at 100 TB) — the rebuilt
    // plan must keep it out entirely and probe the sorted relation with
    // a broadcast hash join on the tiny rank set
    val plan = finalPlan("percentiles_exact")
    assert(!plan.contains("percentile("),
      s"percentiles_exact re-grew the buffering percentile aggregate:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"percentile rank probes must broadcast, not shuffle the sorted relation:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in percentile probe:\n$plan")
    // no global single-partition window anywhere (the rank machinery is
    // zipWithIndex-based)
    assert(!plan.contains("Window"), s"percentiles_exact re-grew a window:\n$plan")
  }

  test("vocab/contamination audits broadcast the small side into the corpus explode") {
    for (q <- Seq("vocab_oov_rate", "contamination_ngram_rate")) {
      val plan = finalPlan(q)
      assert(plan.contains("BroadcastHashJoin"), s"$q lost its broadcast join:\n$plan")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
        s"$q shuffles the corpus explode into a join:\n$plan")
    }
  }

  test("funnel joins stay keyed on user_id (no cartesian anywhere)") {
    val plan = finalPlan("funnel_conversion")
    assert(!plan.contains("CartesianProduct"),
      s"funnel_conversion degenerated to a cartesian:\n$plan")
  }

  test("zorder key is a pure map stage before the output sort") {
    val plan = finalPlan("zorder_key").split("== Initial Plan ==").head
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"zorder_key grew a join/agg:\n$plan")
    assert("Exchange".r.findAllIn(plan).size <= 1,
      s"zorder_key shuffles more than the output order:\n$plan")
  }

  test("jaccard pair counting keeps map-side partial aggregation") {
    // since r18 the registered query materializes the pair relation
    // once (it feeds both mirror branches of its union), so the pair
    // count no longer appears in the FINAL plan — audit the pair
    // pipeline itself, where the partial-aggregation property lives
    val pairs = operators.DedupOps.jaccardPairs(Tables.documents(spark, sf))
    pairs.queryExecution.toRdd.count()
    val pairPlan = pairs.queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(pairPlan).size >= 2,
      s"pair counting lost its partial aggregate:\n$pairPlan")
    val plan = finalPlan("dedup_ngram_jaccard")
    assert(!plan.contains("CartesianProduct"),
      s"dedup_ngram_jaccard degenerated to a cartesian:\n$plan")
  }

  test("ann_eval grading joins stay broadcast (no staged sort-merge on window legs)") {
    // r18: the grading legs (exact top-10, per-query aggregates, ADC
    // funnel survivors) are ≤16·K rows but derive from windows, so the
    // planner has no stats — explicit broadcast hints keep them from
    // staging sort-merge exchanges. Regression guard on one
    // representative of each probe family.
    for (q <- Seq("ann_eval_ivf", "ann_eval_lsh", "ann_eval_pq_m8")) {
      val plan = finalPlan(q)
      assert(!plan.contains("SortMergeJoin"),
        s"$q staged a sort-merge join on a dim-sized grading leg:\n$plan")
    }
  }

  test("ewma anomaly plans no ordered window — explode + re-aggregate only") {
    val plan = finalPlan("ewma_anomaly")
    assert(!plan.contains("Window"),
      s"ewma_anomaly re-grew an ordered window over the spine:\n$plan")
  }

  test("sparse cosine ranks via TakeOrderedAndProject, never a cartesian") {
    val plan = finalPlan("sparse_cosine_topk")
    assert(plan.contains("TakeOrderedAndProject"),
      s"sparse_cosine_topk does a full sort for its top-k:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"sparse_cosine_topk degenerated to a cartesian:\n$plan")
  }

  test("pagerank iterations stay cartesian-free over the edge relation") {
    val plan = finalPlan("nation_trade_pagerank")
    assert(!plan.contains("CartesianProduct"),
      s"pagerank degenerated to a cartesian:\n$plan")
  }

  test("semantic decontamination broadcasts the eval split (corpus scanned once)") {
    // the deliberate cross join must ride a BROADCAST of the tiny eval
    // side — a CartesianProduct here would shuffle the full corpus
    // against the eval set at 100 TB
    val plan = finalPlan("decontaminate_semantic")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"decontaminate_semantic lost its eval-side broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"decontaminate_semantic degenerated to a cartesian:\n$plan")
  }

  test("boilerplate mask keys every shuffle on the gram/doc (no pair join, no cartesian)") {
    val plan = finalPlan("boilerplate_mask")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"boilerplate_mask grew a pair/cartesian join:\n$plan")
    // partial aggregation on both tiers (df census + mask count)
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"boilerplate_mask lost map-side partial aggregation:\n$plan")
  }

  test("bm25 never explodes tokens into a shuffle — stats broadcast + top-k short circuit") {
    val plan = finalPlan("bm25_topk")
    // the only join is the 1-row stats broadcast; ranking short-circuits
    assert(plan.contains("TakeOrderedAndProject"),
      s"bm25_topk lost its top-k short circuit:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"bm25_topk grew a real join (stats must broadcast):\n$plan")
    assert(!plan.contains("Generate"),
      s"bm25_topk exploded tokens into the plan (tf/dl must stay row-local):\n$plan")
  }

  test("covariance collapses the d² explode into a partial aggregate (no join, no pair shuffle)") {
    val plan = finalPlan("emb_covariance")
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"emb_covariance grew a join (outer product must be row-local):\n$plan")
    // partial/final HashAggregate pair: the shuffle carries only
    // #partitions × d(d+1)/2 group rows, never N·d²
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"emb_covariance lost map-side partial aggregation:\n$plan")
  }

  test("hybrid RRF legs reduce via TakeOrderedAndProject before the bounded fusion") {
    val plan = finalPlan("hybrid_rrf_topk")
    // both candidate legs must short-circuit to their Depth rows — the
    // single-partition rank windows and the fusion join then run on
    // ≤50-row inputs (constant epilogue), never on the corpus
    assert("TakeOrderedAndProject".r.findAllIn(plan).size >= 2,
      s"hybrid_rrf_topk lost a leg's top-k short circuit:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"hybrid_rrf_topk grew a cartesian (stats/query must broadcast):\n$plan")
  }

  test("per-source dedup stats pre-aggregate after the hash-partitioned window") {
    val plan = finalPlan("dedup_rate_by_source")
    // canonical-min is a window PARTITIONED by text (hash shuffle, no
    // global sort); the source rollup keeps its partial/final pair
    assert(!plan.contains("Join"), s"dedup_rate_by_source grew a join:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"dedup_rate_by_source lost map-side partial aggregation:\n$plan")
  }

  test("PII scrub is a map stage: redact shuffles only for the order, stats pre-aggregate") {
    val red = finalPlan("pii_redact").split("== Initial Plan ==").head
    // the five regexp_replace calls are row-local; the one exchange is
    // the presentation orderBy's range partitioning
    assert("Exchange".r.findAllIn(red).size <= 1,
      s"pii_redact grew a shuffle beyond the final sort:\n$red")
    assert(!red.contains("Join"), s"pii_redact grew a join:\n$red")
    val stats = finalPlan("pii_stats").split("== Initial Plan ==").head
    // partial/final pair on source: the shuffle carries per-source
    // pre-aggregated rows, never documents
    assert("HashAggregate".r.findAllIn(stats).size >= 2,
      s"pii_stats lost map-side partial aggregation:\n$stats")
  }

  test("weighted sampler is a map stage + TakeOrderedAndProject (no global sort, no shuffle)") {
    val plan = finalPlan("sample_weighted")
    assert(plan.contains("TakeOrderedAndProject"),
      s"sample_weighted lost its top-k short-circuit:\n$plan")
    assert(!plan.contains("Join"), s"sample_weighted grew a join:\n$plan")
  }

  test("second-wave map-stage ops stay row-local (one exchange beyond scan at most)") {
    // pseudonymization, bitwise surface, deflate signal, audio bands:
    // all per-row compute — the only exchanges allowed are the
    // consuming aggregation pair or the presentation sort
    Seq("bitwise_funcs_surface", "doc_compress_ratio").foreach { q =>
      val p = finalPlan(q).split("== Initial Plan ==").head
      assert(!p.contains("Join"), s"$q grew a join:\n$p")
      assert("Exchange".r.findAllIn(p).size <= 1,
        s"$q shuffled beyond the presentation sort:\n$p")
    }
    Seq("pii_pseudonymize", "media_audio_bands").foreach { q =>
      val p = finalPlan(q).split("== Initial Plan ==").head
      assert(!p.contains("Join"), s"$q grew a join:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2 || !p.contains("HashAggregate"),
        s"$q lost map-side partial aggregation:\n$p")
    }
  }

  test("q12 band rides the equi join; interleave ranks per source, never globally") {
    val q12 = finalPlan("q12_late_shipments")
    assert(!q12.contains("CartesianProduct") && !q12.contains("BroadcastNestedLoop"),
      s"q12 date band degraded the order-key equi join:\n$q12")
    val il = finalPlan("interleave_order").split("== Initial Plan ==").head
    // the corpus-sized window must be hash-partitioned by source; the
    // only single-partition window allowed is the |sources|-row index
    val globalWindows = "Window".r.findAllIn(il).size
    assert(globalWindows <= 2, s"interleave_order window stack grew:\n$il")
    assert(il.contains("hashpartitioning(source"),
      s"per-source rank must partition by source:\n$il")
  }

  test("phrase search joins position lists on keys; prefix simjoin plans no cartesian") {
    val phrase = finalPlan("phrase_match_topk")
    assert(!phrase.contains("CartesianProduct") && !phrase.contains("BroadcastNestedLoop"),
      s"phrase_match_topk must equi-join (doc, position) lists:\n$phrase")
    assert(phrase.contains("TakeOrderedAndProject"),
      s"phrase_match_topk lost its top-k short-circuit:\n$phrase")
    val sim = finalPlan("simjoin_prefix_filter")
    assert(!sim.contains("CartesianProduct") && !sim.contains("BroadcastNestedLoop"),
      s"simjoin_prefix_filter candidates must come from the prefix index join:\n$sim")
  }

  test("retrieval eval broadcasts the fixed query sample; rank window stays keyed by qid") {
    for (q <- Seq("eval_recall_at_k", "eval_ndcg_at_k")) {
      val plan = finalPlan(q)
      // the 16-query sample rides a broadcast (BNLJ against the scan is
      // the intended bounded cross: 16·N dot products, linear in N)
      assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
        s"$q lost the query-sample broadcast:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$q degenerated to a shuffled cartesian:\n$plan")
      // the top-k rank must be per-query (hash partitioned by qid),
      // never a single-partition global window over 16·N rows
      assert(plan.contains("hashpartitioning(qid"),
        s"$q rank window must partition by qid:\n$plan")
    }
  }
}
