package graft

import graft.SparkEntry

/** Physical-plan audits: the properties that matter at 100 TB, asserted on
  * the executed plans of registered queries. These catch regressions like
  * a filter that stops reaching the parquet scan or a dimension join that
  * stops broadcasting — invisible in correctness tests.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf001).queryExecution.executedPlan.toString

  test("q01 projection prunes the scan to selected columns") {
    val p = plan("q01_project_rename")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("c_nationkey"), "unreferenced column read from parquet")
  }

  test("q17 point lookup pushes the key predicate into the scan") {
    val p = plan("q17_point_lookup")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(c_custkey,42)"),
      s"predicate not pushed:\n$p")
  }

  test("q18 range filter pushes null-tolerant bounds down") {
    val p = plan("q18_range_filter")
    assert(p.contains("PushedFilters") && p.contains("Or(IsNull(c_acctbal)"),
      s"null-tolerant range not pushed:\n$p")
  }

  test("q12 star enrich broadcasts both dimension sides") {
    val p = plan("q12_star_enrich")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 2, s"expected nation+region broadcast joins, got $broadcasts:\n$p")
  }

  test("q15 max_by latest-per-group avoids the window sort") {
    val p = plan("q15_latest_lineitem_maxby")
    assert(!p.contains("Window"), "max_by variant must not plan a window")
    assert(p.contains("partial_max_by") || p.contains("ObjectHashAggregate"),
      s"expected partial (map-side) max_by aggregation:\n$p")
  }

  test("q14 window latest-per-group plans exactly one exchange before the window") {
    val p = plan("q14_latest_lineitem_window")
    assert(p.contains("Window"))
  }

  test("whole-stage codegen covers the hot path of the aggregation queries") {
    // AQE only materializes codegen spans in the FINAL plan — execute,
    // then read the formatted explain (adaptive toString elides children)
    Seq("q08_agg_conditional", "q09_agg_ratio", "q22_tumbling_hourly").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf001)
      df.collect()
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(p.contains("[codegen id :"), s"$q fell out of codegen:\n$p")
    }
  }

  test("previous applications and q10 pivot in one aggregation: one shuffle, no Pivot") {
    import graft.queries.MedallionQueries
    val prev = graft.pipeline.Silver.previousApplications(
      MedallionQueries.previousApps(spark, sf001), Some(MedallionQueries.statuses))
    // the bureau summary is one aggregation too: no latest-month window or join
    val bureau = graft.pipeline.Silver.bureauSummary(
      MedallionQueries.bureau(spark, sf001), MedallionQueries.bureauBalance(spark, sf001))
    Seq("previousApplications" -> prev.queryExecution.executedPlan.toString,
        "bureauSummary" -> bureau.queryExecution.executedPlan.toString,
        "q10_pivot_status" -> plan("q10_pivot_status")).foreach { case (name, p) =>
      val shuffles = "(?<!Broadcast)Exchange ".r.findAllIn(p).length
      assert(shuffles == 1, s"$name plans $shuffles shuffle exchanges:\n$p")
      assert(!p.toLowerCase.contains("pivot"), s"$name still pivots:\n$p")
    }
  }

  test("q60 medallion reuses one hash partitioning across the star join") {
    // all feature tables join on SK_ID_CURR: the plan must not re-shuffle
    // the application side per join (exchange reuse / same-key partitioning)
    val p = plan("q60_medallion_profile")
    val exchanges = "Exchange hashpartitioning\\(SK_ID_CURR".r.findAllIn(p).length
    // app side + one per feature table (3) is the ceiling; a naive plan
    // re-exchanging between joins would exceed it
    assert(exchanges <= 4, s"too many SK_ID_CURR exchanges ($exchanges):\n$p")
  }

  test("q55 native top-k aggregate combines map-side (partial before the exchange)") {
    val p = plan("q55_ann_topk_agg")
    assert(p.contains("partial_top_k_pairs"),
      s"no partial aggregation for top_k_pairs:\n$p")
  }

  test("q66 window-decorrelated subquery scans lineitem exactly once") {
    val p = plan("q66_small_qty_revenue")
    val scans = p.linesIterator.count(l => l.contains("FileScan") && l.contains("lineitem"))
    assert(scans == 1, s"expected one lineitem scan, got $scans:\n$p")
  }

  test("q58 range join plans an equi-join on the bin key, not a nested loop") {
    val p = plan("q58_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degenerated to a product plan:\n$p")
  }

  test("entry flagship runs and returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q70 bloom probe is the native might_contain over a scalar subquery, not a UDF") {
    // decontaminateBloom builds BloomFilterMightContain(ScalarSubquery(...))
    // through the private[sql] bridge — exactly the internal surface a
    // Spark minor bump can shift. Pin the shape: the probe must stay the
    // codegen'd native expression (InjectRuntimeFilter's own shape); any
    // refactor that reintroduces a closure UDF (or Python eval) re-fences
    // whole-stage codegen on the corpus side of the query.
    val df = SparkEntry.queries("q70_bloom_decontaminate")(spark, sf001)
    df.collect()
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("might_contain"), s"native bloom probe missing:\n$p")
    assert(p.toLowerCase.contains("subquery"), s"bloom filter not fed via scalar subquery:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF") && !p.contains("UDF("),
      s"bloom probe fell back to a UDF:\n$p")
    assert(p.contains("[codegen id :"), s"corpus side fell out of codegen:\n$p")
  }

  test("q78 double-correlated semi/anti joins keep their equality keys (no product plan)") {
    // EXISTS/NOT EXISTS with a same-order different-supplier residual must
    // plan as equi semi/anti joins on l_orderkey with the inequality as
    // residual — a BNLJ or cartesian here is quadratic in lineitem
    val p = plan("q78_waiting_suppliers")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"correlated exists degenerated to a product plan:\n$p")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), s"missing semi/anti joins:\n$p")
  }

  test("q83 IN-over-HAVING computes the per-order aggregate on one lineitem scan") {
    // the subquery and the outer projection share the same aggregate —
    // a literal semi-join translation would scan and aggregate twice
    val p = plan("q83_large_volume_orders")
    val scans = p.linesIterator.count(l => l.contains("FileScan") && l.contains("lineitem"))
    assert(scans == 1, s"expected one lineitem scan, got $scans:\n$p")
  }

  test("q84 disjunctive filter pushes the extracted brand predicate into the part scan") {
    // every disjunct constrains p_brand; the manual CNF extraction must
    // surface as a pushed In/Or filter on the broadcast part side
    val p = plan("q84_disjunctive_revenue")
    assert(p.contains("BroadcastHashJoin"), s"part side not broadcast:\n$p")
    assert(p.contains("In(p_brand") || p.contains("EqualTo(p_brand"),
      s"brand predicate not pushed to the part scan:\n$p")
  }

  test("q86 scalar-subquery max shares the materialized aggregate (one lineitem scan)") {
    val p = plan("q86_top_revenue_supplier")
    val scans = p.linesIterator.count(l => l.contains("FileScan") && l.contains("lineitem"))
    assert(scans <= 1, s"revenue aggregate recomputed from the corpus ($scans scans):\n$p")
  }

  test("q87 nation-pair join broadcasts the pruned supplier leg, no product plan") {
    val p = plan("q87_volume_shipping")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"pair-disjunction degenerated to a product plan:\n$p")
    assert(p.contains("In(n_name") || p.contains("EqualTo(n_name"),
      s"nation prefilter not pushed into the nation scan:\n$p")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 2, s"expected broadcast dimension legs, got $broadcasts:\n$p")
  }

  test("q97 curation gates stay above the signal projection (no substituted split)") {
    // filter pushdown substitutes attribute references with their
    // defining expressions; for the curation gates that inlines the
    // token split into the gram lambda — quadratic per row, measured
    // 10× at sf0.1. pinnedFilter must keep the predicate consuming the
    // PROJECTED attributes: no Filter node may contain the split call.
    val p = plan("q97_corpus_curation")
    val badFilter = p.linesIterator.exists(l =>
      l.contains("Filter ") && l.contains("split("))
    assert(!badFilter, s"signal derivation substituted into a filter:\n$p")
  }

  test("q97 curation pipeline fuses quality+repetition into one signal scan (≤3 total)") {
    // fused signals (1) + dedup-keeper aggregation (1) + pruned eval-set
    // scan for the broadcast decontamination keys (1); a 4th scan means
    // the quality/repetition fusion regressed to a self-join
    val p = plan("q97_corpus_curation")
    val scans = p.linesIterator.count(l => l.contains("FileScan") && l.contains("documents"))
    assert(scans <= 3, s"expected ≤3 documents scans, got $scans:\n$p")
  }

  test("q103 pushes all three range predicates into the lineitem scan") {
    // formatted mode prints the full PushedFilters list (toString
    // truncates long field lists)
    val p = SparkEntry.queries("q103_forecast_revenue")(spark, sf001)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("PushedFilters"), s"no pushed filters:\n$p")
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(p.contains(s"GreaterThanOrEqual($c") || p.contains(s"LessThan($c") ||
        p.contains(s"GreaterThan($c"), s"$c predicate not pushed:\n$p")
  }

  test("PlanAudit flags product joins and passes the broadcast star join") {
    import graft.ops.PlanAudit
    def errors(df: org.apache.spark.sql.DataFrame) =
      PlanAudit.audit(df).filter(_.severity == "ERROR")
    // broadcast star join: no ERROR findings
    val star = errors(SparkEntry.queries("q12_star_enrich")(spark, sf001))
    assert(star.isEmpty, s"q12 flagged:\n${star.mkString("\n")}")
    // a genuine cartesian must be flagged
    val product = spark.range(10).toDF("a").crossJoin(spark.range(10).toDF("b"))
    assert(errors(product).nonEmpty)
  }

  test("q107 correlated EXISTS/NOT EXISTS decorrelates to hash semi/anti joins") {
    val p = plan("q107_q21_sql_surface")
    assert(p.contains("LeftSemi"), s"EXISTS did not become a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS did not become an anti join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"decorrelation fell back to a nested loop:\n$p")
  }

  test("q112 tokenizes once: the gram lambda references a bound attribute, not split()") {
    // an unbound tokens(text) inside the transform lambda re-runs the
    // split per element_at — 12× slower at sf0.1; CollapseProject must
    // not inline __tk back (it is referenced 5 times, which blocks the
    // rule). One split( in the plan = one tokenization per row.
    val p = plan("q112_fingerprint_portable")
    val splits = "split\\(".r.findAllIn(p).length
    assert(splits == 1, s"expected exactly one split() in the plan, got $splits:\n$p")
  }

  test("q122 argmin join broadcasts all three dimension legs") {
    val p = plan("q122_min_cost_supplier")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 3, s"expected supplier+nation+region broadcasts, got $broadcasts:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q124 Q8 join tree: dimension legs broadcast, filters pushed, no cartesian") {
    val p = plan("q124_market_share_q8")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    // part, both nation roles, region, supplier — five broadcast legs
    assert(broadcasts >= 5, s"expected 5 broadcast dimension legs, got $broadcasts:\n$p")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(p_type,ECONOMY)"),
      s"part type filter not pushed to the scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q125 Q9 join tree: part-name filter pushed into the broadcast leg, no cartesian") {
    val p = plan("q125_nation_profit_q9")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 3, s"expected part+supplier+nation broadcasts, got $broadcasts:\n$p")
    assert(p.contains("PushedFilters") && p.contains("StringContains(p_name,red)"),
      s"part name filter not pushed to the scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q127 Q5: nation equality rides the supplier join condition, not a post-filter") {
    val p = plan("q127_local_supplier_q5")
    // The compound key is the shape under test: supplier joins on BOTH
    // l_suppkey AND the customer's nation in one hash join. Stated as a
    // post-filter, the plan would pair every customer nation with every
    // supplier nation first and discard 24/25 of the rows after.
    assert("""BroadcastHashJoin \[l_suppkey#\d+L?, c_nationkey#\d+L?\], \[s_suppkey#\d+L?, s_nationkey#\d+L?\]""".r
      .findFirstIn(p).isDefined,
      s"supplier join does not carry the compound (suppkey, nationkey) key:\n$p")
    assert(p.contains("EqualTo(r_name,ASIA)"), s"region filter not pushed:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q128 Q11: HAVING vs global total re-reads the checkpointed frame, not the corpus") {
    val p = plan("q128_supplier_share_q11")
    // Both the kept set and the 1-row total derive from the ONE
    // materialized per-part aggregate (|parts| rows): the final plan must
    // contain no lineitem file scan — re-scanning the corpus for the
    // scalar would double the dominant cost at 100 TB.
    assert(!p.contains("lineitem.parquet"),
      s"corpus re-scanned for the global total:\n$p")
    assert(p.contains("ExistingRDD"), s"checkpointed frame not reused:\n$p")
    assert(!p.contains("CartesianProduct"), s"unbounded product join:\n$p")
  }

  test("q130 Q10: selective filters pushed to both scans, top-20 without a global sort") {
    val p = plan("q130_returned_items_q10")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(l_returnflag,R)"),
      s"returnflag filter not pushed to the lineitem scan:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate,"),
      s"order-date window not pushed to the orders scan:\n$p")
    // the limit must plan as TakeOrderedAndProject (per-partition top-20 +
    // driver merge), never a global Sort of the full customer grain
    assert(p.contains("TakeOrderedAndProject"), s"top-20 plans a global sort:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q131 Q12: one pass — each fact scanned once, counts in one aggregate") {
    val p = plan("q131_shipmode_priority_q12")
    // both conditional counts ride the same aggregate over the same join —
    // a second scan of either fact would double the dominant cost at scale
    assert("lineitem\\.parquet".r.findAllIn(p).length == 1,
      s"lineitem scanned more than once:\n$p")
    assert("orders\\.parquet".r.findAllIn(p).length == 1,
      s"orders scanned more than once:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q132 Q16: NOT IN decorrelates to a broadcast anti join, part filters pushed") {
    val p = plan("q132_parts_suppliers_q16")
    assert(p.contains("LeftAnti"), s"supplier exclusion is not an anti join:\n$p")
    // the In(p_size, ...) pushdown is also present but plan toString
    // truncates long filter lists — the brand filter proves the part
    // scan receives pushed predicates
    assert(p.contains("Not(EqualTo(p_brand,Brand#5))"),
      s"part attribute filters not pushed to the part scan:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"exclusion/part legs not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q137 substring dedup: postings derive once, bounded shuffles") {
    val p = plan("q137_substring_dedup_spans")
    // shape contract (DedupSubstring doc, round 16): ONE postings
    // derivation → ONE gram shuffle for the shared-gram window (min/max
    // over the gram partition — the old aggregate→probe pair derived and
    // shuffled the corpus-sized postings twice) → ONE doc shuffle for the
    // interval-merge window; the final span aggregate rides the window's
    // doc partitioning with no new exchange
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 2, s"expected ≤2 hash exchanges (gram window, doc window), got $shuffles:\n$p")
    assert(p.contains("windowspecdefinition(__gram"),
      s"shared-gram detection lost its one-pass window form:\n$p")
    // exactly one Generate: the postings explode happens ONCE (the old
    // two-branch shape exploded the corpus once per branch)
    val generates = "Generate explode".r.findAllIn(p).length +
      "Generate posexplode".r.findAllIn(p).length
    assert(generates <= 1, s"postings exploded more than once ($generates):\n$p")
    // interval merge is per-doc, never a corpus-wide window
    assert(p.contains("windowspecdefinition(__doc"),
      s"span-merge window not partitioned by doc:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q138 assembly chain: broadcast-only joins, bucketed prefix sum, per-shard order") {
    val p = plan("q138_assembly_chain")
    // the chain adds NO corpus-sized join: keepers/eval/bins sides are all
    // bounded frames and must broadcast — a SortMergeJoin here would mean
    // a full corpus shuffle smuggled in by an interface regression
    assert(!p.contains("SortMergeJoin"), s"corpus-sized shuffle join appeared:\n$p")
    // packing's running sum stays per-bucket; shard position stays
    // per-shard — neither may degrade to a global single-partition window
    assert(p.contains("windowspecdefinition(__b"),
      s"packing prefix sum lost its bucket partitioning:\n$p")
    assert(p.contains("windowspecdefinition(shard"),
      s"shard position lost its shard partitioning:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("registry sweep: no query plans a product join or unbounded shape") {
    import graft.ops.PlanAudit
    // BroadcastNestedLoopJoin is ERROR-graded by the audit because it is
    // unbounded in general; these queries use it with a PROVABLY BOUNDED
    // broadcast side and are allowlisted with the reason:
    //  - q50/q55/q64: ANN — the tiny query set is broadcast, the corpus
    //    never shuffles; cost is |corpus| × |queries|, the designed shape
    //  - q77: near-decontamination — the benchmark set is the broadcast side
    //  - q67/q89/q109/q116: 1-row scalar aggregate frame crossed in
    //  - q41/q59/q74/q76: degenerate exhaustive oracle twins of the
    //    banded/bucketed primary paths, documented as not-for-scale
    val degenerateByDesign = Set(
      //  - q260: MMR re-rank — retrieval is q50's broadcast-query shape;
      //    the greedy itself is HOFs over one bounded array row per query
      //  - q261: retrieval eval — runs BOTH q50's and q64's retrieval
      //    shapes to produce the |Q|·k frames the metric joins
      //  - q263: composed RAG chain — the APPROXIMATE path (IVF) is a
      //    bounded cell equi-join; the one BroadcastNestedLoopJoin is the
      //    exact-truth side the metric judges against (q50's shape) plus
      //    the 8-row centroid cross for probing
      "q260_mmr_rerank", "q261_retrieval_eval", "q263_rag_serving_chain",
      "q50_ann_bruteforce", "q55_ann_topk_agg", "q64_ann_quantized",
      "q77_decontaminate_near", "q67_dormant_customers", "q89_vocabulary_topk",
      "q109_tfidf_topterms", "q116_histogram", "q117_temperature_mixture",
      "q41_token_jaccard_pairs", "q59_ngram_jaccard",
      "q74_ann_lsh_exhaustive", "q76_embedding_pairs_exhaustive",
      "q120_incremental_embedding_neardup",
      //  - q128: Q11 HAVING — the 1-row global total is the broadcast side
      "q128_supplier_share_q11",
      //  - q144: exact quantile cut — the 1-row cutoff frame is the
      //    broadcast side of the >= join; the corpus is probed map-side
      "q144_quality_quantile_cut",
      //  - q146-q150: gap-fill family — the 1-row min/max bounds frame is
      //    crossed into the distinct-groups frame to build the time spine
      "q146_gapfill_hourly", "q147_locf_hourly", "q148_interpolate_hourly",
      "q149_ewma_hourly", "q150_deltas_hourly", "q247_holt_forecast",
      "q249_holt_winters",
      //  - q161: equal-frequency binning — the 1-row (k-1)-boundary array
      //    frame is crossed in; bin assignment probes it map-side
      "q161_equal_freq_binning",
      //  - q167: market basket — the 1-row order-count frame is crossed in
      "q167_market_basket",
      //  - q178: nearest centroid — the class-count-sized centroid model
      //    is the broadcast side; the corpus scores map-side
      "q178_nearest_centroid",
      //  - q181: temporal SCD2 lookup — the 1-row max-ts sentinel frame is
      //    crossed into the run frame to close open intervals
      "q181_temporal_scd2_lookup",
      //  - q184: BM25 — the 1-row corpus-stats frame (N, Σdl) is crossed
      //    into the already-term-filtered postings
      "q184_bm25_topk",
      //  - q187: RFM — the 1-row max-date frame plus q161's per-dimension
      //    1-row boundary arrays are crossed in; bins assign map-side
      "q187_rfm_segmentation",
      //  - q196: HITS — each half-step crosses in its 1-row mean frame
      //    for the mean normalization
      "q196_hits_supplier_customer",
      //  - q197: association rules — q167's 1-row order-count frame
      "q197_association_rules",
      //  - q203: decile lift — q161's 1-row decile-boundary array
      "q203_decile_lift",
      //  - q207: CUPED — the 1-row global θ/μ moment frame is crossed in
      "q207_cuped_adjustment",
      //  - q212: quantile drift — the 1-row pre-period boundary array
      "q212_quantile_drift",
      //  - q213: collocations — the 1-row corpus-totals frame
      "q213_collocations",
      //  - q218: dashboard cycle — the 1-row COUNT(*) total frame is
      //    crossed onto the 10-row page (both sides bounded by contract)
      "q218_dashboard_cycle",
      //  - q221: k-means step — the k-row centroid model is the broadcast
      //    side (q178's nearest-centroid posture); the corpus scores
      //    map-side
      //    q257 is the same shape with the 8-seed centroid model built
      //    from hashed text embeddings instead of a vector table
      "q221_kmeans_step", "q254_kmeans_fit", "q255_kmeans_inertia",
      "q257_text_kmeans",
      //  - q243: theta overlap matrix — the pairwise cross runs on the
      //    SKETCHED frame (one kilobyte row per group, both sides bounded
      //    by the group count); the corpus was reduced to sketches in the
      //    one prior scan and is never rescanned
      "q243_theta_mergeable")
    // The round-15 candidate-payload WARNs are gated here too (every
    // future dedup operator registered is swept, not just the three
    // rewritten in round 14). Justified exceptions:
    //  - q44/q51: embedding LSH — the payload is a FIXED-width unit
    //    vector, and cosine admits no lossless count-style prefilter
    //    (size-ratio has no analogue on normalized embeddings), so
    //    arrays necessarily attach to the raw banded candidates; the
    //    attach joins are shuffle_hash-hinted so candidates stream
    //    unsorted, and the banded layout bounds the candidate count.
    val candidatePayloadByDesign = Set("q44_embedding_neardup", "q51_ann_lsh")
    // object-agg-over-explode (round-16, generalizing the round-15 sf10
    // autopsy): the sweep forces every registered query to answer "why is
    // an object-tier aggregate consuming exploded-cardinality rows?".
    // Justified answers, per name:
    //  - q219_line_dedup: the collect_list IS the operator's output —
    //    CCNet line dedup must REASSEMBLE each doc's kept lines into its
    //    cleaned text, a per-group variable-length string no window can
    //    produce (a window filters/ranks rows; it cannot emit one
    //    array-valued row per group). The buffer is bounded by ONE
    //    document's kept lines, and the group key is doc_id, so partial
    //    map-side aggregation reduces before the shuffle. Contrast the
    //    jaccard prefix build this rule exists for: there the collection
    //    was a MEANS to a per-row filter, which is exactly what the
    //    window form expresses without object-tier state.
    //  - q245_freq_mergeable: a frequency-sketch TypedImperativeAggregate
    //    (Misra-Gries envelope) whose buffer is O(maxMapSize=256) per
    //    group REGARDLESS of row count — seeing every exploded token is
    //    the algorithm, and the bounded monoid buffer is the entire point
    //    of the mergeable-sketch tier (SketchSpec pins merge
    //    conservation). Every other sketch query aggregates non-exploded
    //    corpus rows and never trips the rule.
    val objectAggReshapeByDesign = Set("q219_line_dedup", "q245_freq_mergeable")
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if degenerateByDesign(name) => None
      case (name, fn) =>
        val all =
          try PlanAudit.audit(fn(spark, sf001))
          catch { case e: Exception => Seq(PlanAudit.Finding("ERROR", s"build failed: $e")) }
        val errors = all.filter(_.severity == "ERROR")
        val candWarns =
          if (candidatePayloadByDesign(name)) Nil
          else all.filter(f => f.message.startsWith("candidate-SMJ") ||
            f.message.startsWith("unfiltered-candidate-payload"))
        val objWarns =
          if (objectAggReshapeByDesign(name)) Nil
          else all.filter(_.message.startsWith("object-agg-over-explode"))
        val bad = errors ++ candWarns ++ objWarns
        if (bad.isEmpty) None else Some(s"$name: ${bad.mkString("; ")}")
    }
    assert(failures.isEmpty,
      s"scale audit ERRORs in ${failures.size} quer${if (failures.size == 1) "y" else "ies"}:\n" +
        failures.mkString("\n"))
  }

  test("plan-fingerprint gate: no registered query's physical shape drifts silently") {
    // Round-9 verdict stretch #7: hash every query's canonical plan shape
    // (operator tree + join strategies + exchange kinds, no expressions —
    // see PlanShape) against the committed PLAN_FINGERPRINTS.json, so a
    // Catalyst-upgrade or fixture-growth plan flip fails HERE with a
    // named query instead of surfacing as an unattributable bench delta.
    // Regenerate after an INTENTIONAL plan change with:
    //   GRAFT_REGEN_PLANS=1 sbt "testOnly graft.PlanSpec -- -z fingerprint"
    // and review the committed diff — the diff IS the plan-change review.
    val path = java.nio.file.Paths.get("PLAN_FINGERPRINTS.json")
    // cached frames another test leaked would substitute InMemoryTableScan
    // into matching new plans and make shapes order-dependent — sweep first
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    val current: Seq[(String, String)] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val shape =
          try PlanShape.canonical(fn(spark, sf001))
          catch { case e: Exception => s"BUILD_FAILED:${e.getClass.getSimpleName}" }
        name -> shape
      }
    assert(!current.exists(_._2.startsWith("BUILD_FAILED")),
      "queries failed to build: " +
        current.filter(_._2.startsWith("BUILD_FAILED")).map(_._1).mkString(", "))
    val rendered = current.map { case (k, v) => s"""  "$k": "$v"""" }
      .mkString("{\n", ",\n", "\n}\n")
    if (sys.env.contains("GRAFT_REGEN_PLANS")) {
      java.nio.file.Files.writeString(path, rendered)
      info(s"regenerated $path with ${current.size} fingerprints")
    } else {
      assert(java.nio.file.Files.exists(path),
        "PLAN_FINGERPRINTS.json missing — regenerate (see comment above)")
      val line = """^\s*"([^"]+)":\s*"([^"]*)",?$""".r
      val committed = scala.io.Source.fromFile(path.toFile).getLines()
        .collect { case line(k, v) => k -> v }.toMap
      val cur = current.toMap
      val changed = current.collect {
        case (k, v) if committed.get(k).exists(_ != v) =>
          s"$k:\n  committed: ${committed(k)}\n  current:   $v"
      }
      val missing = current.collect {
        case (k, _) if !committed.contains(k) => k
      }
      val stale = committed.keys.filterNot(cur.contains).toSeq.sorted
      assert(changed.isEmpty && missing.isEmpty && stale.isEmpty,
        s"plan fingerprints drifted — if intentional, regenerate (see comment above).\n" +
          (if (changed.nonEmpty) s"CHANGED (${changed.size}):\n${changed.mkString("\n")}\n" else "") +
          (if (missing.nonEmpty) s"NEW queries without fingerprints: ${missing.mkString(", ")}\n" else "") +
          (if (stale.nonEmpty) s"STALE fingerprints for removed queries: ${stale.mkString(", ")}" else ""))
    }
  }

  test("q201 column profile never plans Expand (multi-distinct regression pin)") {
    // the DECISIONS.md round-9 ruling: one aggregate with a countDistinct
    // per column re-enters the corpus into the distinct shuffle once PER
    // COLUMN via Expand (measured 9.2x slower); the committed shape
    // unpivots once instead — Expand reappearing means the shape regressed
    val p = plan("q201_column_profile")
    assert(!p.contains("Expand"),
      s"multi-distinct Expand is back in the profile plan:\n$p")
  }

  test("q133 epoch upsampling mix is zero-shuffle (explode + map-side filter)") {
    val p = plan("q133_epoch_upsample_mix")
    assert(!p.contains("Exchange"),
      s"the mix must stay narrow — a shuffle here costs the full 2.3x corpus at scale:\n$p")
    assert(p.contains("Generate explode"), s"expected a literal-sequence explode:\n$p")
  }

  test("q134 shard export shuffles ONCE on the shard key, never to one partition") {
    val p = plan("q134_shard_shuffle_export")
    val exchanges = "Exchange ".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly one exchange (shard key), got $exchanges:\n$p")
    assert(p.contains("hashpartitioning(shard"),
      s"exchange must hash on shard (parallel in-shard sorts):\n$p")
    assert(!p.contains("SinglePartition") && !p.contains("rangepartitioning"),
      s"a global funnel defeats the sharded-sort design:\n$p")
  }

  test("q135 split assignment adds no shuffle beyond the clustering") {
    val df = SparkEntry.queries("q135_leakage_safe_split")(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the corpus side reads doc_id ONLY (projection pruned to the key)...
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
      s"split should scan the id column only:\n$p")
    // ...and the (small) label frame broadcasts onto it; the md5 draw is
    // a pure projection. A sort/range exchange here would mean the split
    // went through a global ordering it does not need.
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"expected an equi-join against the label frame:\n$p")
    assert(!p.contains("SinglePartition") && !p.contains("rangepartitioning"),
      s"global funnel in the split path:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q136 overlap matrix computes the gram set once (stage reuse), no cartesian") {
    val df = SparkEntry.queries("q136_source_overlap_matrix")(spark, sf001)
    df.collect() // AQE performs exchange/stage reuse at runtime only
    val p = df.queryExecution.executedPlan.toString
    // four consumers (self-join both sides + two size legs) must share ONE
    // corpus scan+explode: without reuse this query reads 100 TB four times
    assert(p.contains("ReusedExchange"),
      s"gram-distinct exchange not reused across consumers:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"overlap join must key on gram:\n$p")
  }

  test("q73 partition filter prunes at the listing, not post-scan") {
    val df = SparkEntry.queries("q73_partitioned_roundtrip")(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters"), s"no partition filters in scan:\n$p")
    val pf = p.linesIterator.mkString(" ")
    // both predicates must be PARTITION filters (pruned directory listing);
    // a plan filtering year/month after a full scan reads every partition
    assert(pf.matches(""".*PartitionFilters: \[[^\]]*year[^\]]*\].*"""),
      s"year not in PartitionFilters:\n$p")
    assert(pf.matches(""".*PartitionFilters: \[[^\]]*month[^\]]*\].*"""),
      s"month not in PartitionFilters:\n$p")
  }

  test("minhash prefilters stay narrow-first: size-ratio cut below the signature joins") {
    // Round-14 invariant (DECISIONS.md): q93's sf10 wall was 88% iowait
    // because the banded candidate frame carried the ~200 B signature
    // arrays through its join-sort spills; the fix joins signatures onto
    // size-ratio SURVIVORS only. The public operators checkpoint eagerly
    // (their returned plan is an opaque RDDScan), so this pins the
    // extracted pre-checkpoint builders on the OPTIMIZED logical plan —
    // if a Spark upgrade or optimizer change ever pulls the signature
    // joins below the size-ratio cut, the bytes discipline silently
    // breaks and this fails with the offending subtree.
    import org.apache.spark.sql.catalyst.expressions.{Greatest, Least}
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    val docs = graft.sources.Tables.documents(spark, sf001).limit(200)
    val sig = graft.ops.Dedup.minHashSignatures(docs, "doc_id", "text", 1, 32)
    def audit(frame: org.apache.spark.sql.DataFrame): Unit = {
      val plan = frame.queryExecution.optimizedPlan
      // the size-ratio predicate is the only Least/Greatest in the chain;
      // the optimizer may leave it as a Filter or fold it into a join
      // condition — match the predicate, not the node class
      def hasRatio(n: LogicalPlan): Boolean = n.expressions.exists(e =>
        e.exists(_.isInstanceOf[Least]) && e.exists(_.isInstanceOf[Greatest]))
      val ratioNodes = plan.collect { case n if hasRatio(n) => n }
      assert(ratioNodes.nonEmpty, s"size-ratio prefilter not found:\n$plan")
      ratioNodes.foreach { n =>
        val below = n.collect { case m => m.output }.flatten.map(_.name).toSet
        assert(!below.contains("__siga") && !below.contains("__sigb"),
          s"signature arrays joined BELOW the size-ratio cut — wide payload " +
            s"rides the full candidate set again:\n$n")
      }
      val everywhere = plan.collect { case m => m.output }.flatten.map(_.name).toSet
      assert(everywhere.contains("__siga") && everywhere.contains("__sigb"),
        s"signature estimate stage missing above the ratio cut (renamed?):\n$plan")
    }
    audit(graft.ops.Dedup.nearDupPairsPlan(graft.ops.PairSides.within(sig), 0.5, 8, 4, 0.2))
    audit(graft.ops.Dedup.nearDupPairsPlan(graft.ops.PairSides.against(
      sig.filter(org.apache.spark.sql.functions.col("__id") % 2 === 0), sig),
      0.5, 8, 4, 0.2))
  }

  test("candidate-payload audit: fires on the pre-427a6a4 shape, silent on shipped chains") {
    // Round-15 (r14 verdict #5): the per-query narrow-first pins above are
    // promoted into PlanAudit rules that sweep the whole registry. This
    // test proves the rules detect the EXACT shape that collapsed at sf10
    // in round 14 — signature arrays joined onto the raw banded candidate
    // set — and stay silent on the shipped narrow-first chains.
    import org.apache.spark.sql.functions._
    import graft.ops.PlanAudit
    def findings(df: org.apache.spark.sql.DataFrame): Seq[String] =
      PlanAudit.candidatePayloadFindings(df.queryExecution.sparkPlan)
        .map(_.message.takeWhile(_ != ':'))

    val docs = graft.sources.Tables.documents(spark, sf001).limit(200)
    val sig = graft.ops.Dedup.minHashSignatures(docs, "doc_id", "text", 1, 32)
    def preFixShape() = {
      val banded = sig.select(col("__id"),
        posexplode(graft.functions.TextFunctions.bandKeys(col("__sig"), 8, 4))
          .as(Seq("__band", "__key")))
      val cand = banded.alias("a").join(banded.alias("b"),
          col("a.__band") === col("b.__band") && col("a.__key") === col("b.__key") &&
            col("a.__id") < col("b.__id"))
        .select(col("a.__id").alias("id_a"), col("b.__id").alias("id_b"))
        .distinct()
      val sa = sig.select(col("__id").alias("id_a"), col("__sig").alias("__siga"))
      cand.join(sa, "id_a")
    }
    // at toy scale the attach join broadcasts — the payload rule fires
    assert(findings(preFixShape()).contains("unfiltered-candidate-payload"),
      s"rule missed the raw-candidate array attach:\n${preFixShape().queryExecution.sparkPlan}")
    // at corpus scale the planner picks SMJ (no broadcast, no hint) — the
    // sort rule fires too
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fs = findings(preFixShape())
      assert(fs.contains("candidate-SMJ"),
        s"rule missed the candidate sort-merge join: $fs")
      assert(fs.contains("unfiltered-candidate-payload"), fs.toString)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)

    // shipped chains: narrow-first minhash and the prefix-jaccard builders
    assert(findings(graft.ops.Dedup.nearDupPairsPlan(
        graft.ops.PairSides.within(sig), 0.5, 8, 4, 0.2)).isEmpty,
      "shipped minhash chain tripped the candidate-payload audit")
    assert(findings(graft.ops.Dedup.nearDupPairsPlan(
        graft.ops.PairSides.against(sig.filter(col("__id") % 2 === 0), sig),
        0.5, 8, 4, 0.2)).isEmpty,
      "shipped minhash batch×corpus chain tripped the candidate-payload audit")
    val t = docs.select(col("doc_id").alias("__id"),
        array_sort(array_distinct(graft.functions.TextFunctions.tokenHashes(
          graft.functions.TextFunctions.tokens(col("text"))))).alias("__toks"))
      .withColumn("__n", size(col("__toks")))
    val candJ = graft.ops.Dedup.jaccardPrefixCandidates(t, 0.9)
    assert(findings(graft.ops.Dedup.jaccardVerifyOnTokens(candJ, t, 0.9)).isEmpty,
      "shipped prefix-jaccard chain tripped the candidate-payload audit")
  }

  test("object-agg audit: fires on the pre-358db2b prefix build, silent on the window form") {
    // Round-16 (r15 verdict #4): the round-15 safepoint autopsy proved
    // "never collect_list at exploded cardinality — use a Tungsten
    // window"; this is that lesson as a PlanAudit rule. The pre-358db2b
    // prefix build below is the EXACT shape that killed the sf10 context:
    // explode tokens → join document frequency → per-doc collect_list of
    // (df, tok) structs (an ObjectHashAggregate over 500M exploded rows)
    // → sort + slice to the prefix.
    import org.apache.spark.sql.functions._
    import graft.ops.PlanAudit
    def findings(df: org.apache.spark.sql.DataFrame): Seq[String] =
      PlanAudit.candidatePayloadFindings(df.queryExecution.sparkPlan)
        .map(_.message.takeWhile(_ != ':'))

    val docs = graft.sources.Tables.documents(spark, sf001).limit(200)
    val t = docs.select(col("doc_id").alias("__id"),
        array_sort(array_distinct(graft.functions.TextFunctions.tokenHashes(
          graft.functions.TextFunctions.tokens(col("text"))))).alias("__toks"))
      .withColumn("__n", size(col("__toks")))
    val freq = t.select(explode(col("__toks")).alias("__tok"))
      .groupBy(col("__tok")).agg(count(lit(1)).alias("__df"))
    val preFixPrefix = t
      .select(col("__id"), col("__n"), explode(col("__toks")).alias("__tok"))
      .join(freq, "__tok")
      .groupBy(col("__id"), col("__n"))
      .agg(slice(
        transform(array_sort(collect_list(struct(col("__df"), col("__tok")))),
          s => s("__tok")),
        1, 8).alias("__pref"))
    assert(findings(preFixPrefix).contains("object-agg-over-explode"),
      s"rule missed the collect_list prefix build:\n" +
        s"${preFixPrefix.queryExecution.sparkPlan}")

    // the freq aggregate itself (HashAggregate over an explode) must NOT
    // trip it — the rule targets OBJECT-tier aggregation only
    assert(!findings(freq).contains("object-agg-over-explode"),
      "rule fired on a Tungsten hash aggregate over an explode")
    // the shipped window-based prefix build (and the whole candidate
    // chain) stays silent
    assert(!findings(graft.ops.Dedup.jaccardPrefixCandidates(t, 0.9))
        .contains("object-agg-over-explode"),
      "shipped window prefix build tripped the object-agg audit")
    // a bounded per-group reshape whose input was ALREADY aggregated
    // (collect over group-reduced rows) stays silent too: the walk stops
    // at the intervening aggregate
    val bucketed = t.select(col("__id"), explode(col("__toks")).alias("__tok"))
      .groupBy(col("__id")).agg(count(lit(1)).alias("n"))
      .groupBy(col("__id") % 10).agg(collect_list(col("n")).alias("ns"))
    assert(!findings(bucketed).contains("object-agg-over-explode"),
      "rule fired above an intervening aggregate")
  }
}
