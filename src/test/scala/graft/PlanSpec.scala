package graft

import org.apache.spark.sql.execution.FormattedMode

/** Regression net for the plan properties the engine depends on at
  * scale — if one of these degrades, a future change broke pushdown,
  * broadcasting, or partial aggregation. */
class PlanSpec extends SparkTestBase {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, Sf).queryExecution.explainString(FormattedMode)

  test("ts_scan_range pushes the time range to the parquet scan as raw int64") {
    val p = plan("ts_scan_range")
    assert(p.contains("GreaterThanOrEqual(ts,"), "time lower bound must be pushed")
    assert(p.contains("LessThan(ts,"), "time upper bound must be pushed")
    assert(p.contains("GreaterThanOrEqual(user_id,10)"), "key bound must be pushed")
  }

  test("q1_pricing aggregates map-side before its single exchange") {
    val p = plan("q1_pricing")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final HashAggregate")
    assert("Exchange".r.findAllIn(plan("q1_pricing")).size <= 2, "one shuffle (+AQE read)")
  }

  test("q3_topk_revenue broadcasts dims and avoids a global sort for top-k") {
    val p = plan("q3_topk_revenue")
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not globally sort")
  }

  test("q1 scan reads only the referenced columns") {
    val p = plan("q1_pricing")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("l_orderkey") && !read.contains("l_tax"),
      s"column pruning failed: $read")
  }

  test("dedup_embedding pairs join carries precomputed norms, not recomputed dots") {
    val p = plan("dedup_embedding")
    // 1 pair dot + 2 per-row norm dots = 3; the unfactored form had 3 per pair
    assert(p.contains("graft_dot"), "native dot product must be in the plan")
  }

  test("dedup_embedding generates candidates from LSH bands, not all pairs") {
    val p = plan("dedup_embedding")
    assert(p.contains("graft_band_codes"), "native band-code signature must be in the plan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must never be an all-pairs product")
  }

  test("ann_ivf_topk probes a stored index with partition pruning, no query-time build") {
    val p = plan("ann_ivf_topk")
    assert(p.contains("graft-stage"), "must read the staged IVF index, not rebuild it")
    assert(p.contains("dynamicpruningexpression"),
      "probe must partition-prune the assignment scan to the probed cells")
    assert(!p.contains("windowspecdefinition"),
      "no per-vector argmax window may survive in the probe path")
    assert(!p.contains("HashAggregate"),
      "the centroid aggregation must not run at query time — probe only")
  }

  test("knn_label_centroid assigns by broadcast fold, not a per-vector window") {
    val p = plan("knn_label_centroid")
    assert(!p.contains("windowspecdefinition"),
      "argmax must be a map-side fold over the broadcast centroid array")
  }

  test("ts_ema folds per (key, day) bucket first, never a key's whole history") {
    val p = plan("ts_ema")
    assert("Keys \\[2\\]: \\[user_id#\\d+L?, day#".r.findFirstIn(p).isDefined,
      s"first aggregate must group on (user_id, day) so no row holds a full key history")
  }

  test("ts_holt folds per (key, day) bucket first, never a key's whole history") {
    val p = plan("ts_holt")
    assert("Keys \\[2\\]: \\[user_id#\\d+L?, day#".r.findFirstIn(p).isDefined,
      "first aggregate must group on (user_id, day) — the bounded-state contract")
  }

  test("q_percentiles windows only within histogram buckets, never a whole group") {
    val p = plan("q_percentiles")
    val windowSpecs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windowSpecs.nonEmpty, "expected the prefix-sum and in-bucket rank windows")
    assert(windowSpecs.forall(_.contains("bucket")),
      s"every window must be keyed by bucket, got: ${windowSpecs.mkString("\n")}")
  }

  test("ts_interp_linear windows the observed frame once, never fills a spine") {
    val p = plan("ts_interp_linear")
    assert(!p.contains("unboundedfollowing"),
      "a [current, unbounded following] frame rescans the partition tail per row")
    // neighbor-pair formulation: ONE lead window over the observed
    // hourly frame + a sequence explode — no spine join, no IGNORE
    // NULLS running fills over gap rows
    val specs = p.linesIterator.count(_.contains("windowspecdefinition"))
    assert(specs == 1, s"expected the single lead window, got $specs")
    assert(p.contains("Generate"), "gap hours must come from the sequence explode")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "no spine join may remain")
  }

  test("text_decontaminate broadcasts the eval n-grams; the corpus never shuffles pre-match") {
    val p = plan("text_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "the eval n-gram set must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the training corpus must probe the eval set map-side, not co-shuffle with it")
  }

  test("emb_kmeans_step assigns map-side (fold argmax) and aggregates without corpus expansion") {
    val p = plan("emb_kmeans_step")
    assert(!p.contains("windowspecdefinition"),
      "assignment must be the fold-argmax projection, not a per-vector rank window")
    assert(!p.contains("SortMergeJoin"), "the K seeds must broadcast")
    // the 64 per-dim sums aggregate the corpus directly; the only
    // Generate (posexplode) runs AFTER aggregation on K rows
    val genLine = p.linesIterator.indexWhere(_.contains("Generate"))
    val aggLine = p.linesIterator.indexWhere(_.contains("HashAggregate"))
    assert(genLine >= 0 && aggLine >= 0 && genLine < aggLine,
      "the per-dim explode must sit above the aggregate (K rows), never below it (corpus rows)")
  }

  test("ann_pq_topk probes staged codes map-side; raw vectors fetched only for the shortlist") {
    val p = plan("ann_pq_topk")
    assert(p.contains("graft-stage"), "must read the staged code table, not re-encode")
    assert(p.contains("TakeOrderedAndProject"), "both ranking stages must be top-k, not global sorts")
    assert(!p.contains("SortMergeJoin"),
      "the shortlist and the LUT row must broadcast — the corpus never co-shuffles")
    assert(!p.contains("windowspecdefinition"), "no rank window may survive")
  }

  test("dedup_spans probes the staged positioned fingerprints; island windows partition by doc") {
    val p = plan("dedup_spans")
    assert(p.contains("graft-stage"),
      "must read the staged fpos artifact, never re-tokenize the corpus")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("doc_id")),
      s"the lag/island windows must partition by doc_id:\n${specs.mkString("\n")}")
  }

  test("ann_ivfpq_topk scans only probed cells' codes; raw vectors fetched for the shortlist only") {
    val p = plan("ann_ivfpq_topk")
    assert(p.contains("graft-stage"), "must read the staged IVF-PQ code table, not re-encode")
    assert(p.contains("TakeOrderedAndProject"), "both ranking stages must be top-k, not global sorts")
    assert(!p.contains("SortMergeJoin"),
      "the LUT rows and the shortlist must broadcast — the code table never co-shuffles")
    assert(!p.contains("windowspecdefinition"), "no rank window may survive in the probe path")
  }

  test("ts_autocorr pairs on the key shuffle and aggregates without a join") {
    val p = plan("ts_autocorr")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("user_id")),
      s"the lead window must partition by the key:\n${specs.mkString("\n")}")
    assert(!p.contains("Join"), "the six sums must come from one aggregate, not a join-back")
  }

  test("emb_norm_stats is one combinable aggregate: no window, no join, partial+final") {
    val p = plan("emb_norm_stats")
    assert(!p.contains("windowspecdefinition") && !p.contains("Join"))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "per-label stats must aggregate map-side before the label exchange")
  }

  test("ts_changepoint shares one key shuffle across all windows; no join anywhere") {
    val p = plan("ts_changepoint")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("user_id")),
      s"every window must partition by the key:\n${specs.mkString("\n")}")
    assert(!p.contains("Join"), "the totals must come from windows, not a join-back")
  }

  test("doc_mix_weights aggregates map-side; the 1-row source count broadcasts back") {
    val p = plan("doc_mix_weights")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final corpus aggregation")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "the 1-row count frame must broadcast, never co-shuffle")
  }

  test("ts_zscore derives stats in one agg and flags via broadcast, no key window") {
    val p = plan("ts_zscore")
    assert(!p.contains("windowspecdefinition"),
      "per-key stats must not window over the key's event history")
    assert(p.contains("BroadcastHashJoin"),
      "the per-key stats frame must broadcast back onto the fact scan")
  }

  test("q9_profit broadcasts all three dims and shuffles only the final rollup") {
    val p = plan("q9_profit")
    // count nodes via their "(id) Node" detail headers — tree lines would
    // double-count
    assert("\\(\\d+\\) BroadcastHashJoin".r.findAllIn(p).size == 3,
      "part/supplier/nation broadcast")
    assert(!p.contains("SortMergeJoin"), "the fact table must never shuffle for a dim join")
  }

  test("q13_custdist pre-aggregates orders before the customer join") {
    val p = plan("q13_custdist")
    // the per-customer count must sit BELOW the join: an aggregate keyed
    // on o_custkey proves order rows collapse before touching customer
    assert("Keys \\[1\\]: \\[o_custkey#\\d+L?\\]".r.findFirstIn(p).isDefined,
      s"orders must pre-aggregate to one row per customer before the join")
  }

  test("dedup_containment candidates come from prefix shingles, never all pairs") {
    val p = plan("dedup_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "containment candidate generation must be a shingle equi-join")
    assert(p.contains("graft-stage"),
      "must probe the staged rarity-sorted sets, not re-shingle the corpus")
  }

  test("dedup_ngram_jaccard probes the staged rset; no corpus re-shingle") {
    val p = plan("dedup_ngram_jaccard")
    assert(p.contains("graft-stage"),
      "must probe the staged rarity-sorted sets, not re-shingle the corpus")
    assert(!p.toLowerCase.contains("documents.parquet"),
      "the documents table must not appear in the probe plan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must be a prefix-shingle equi-join")
  }

  test("dedup_substring probes the staged fingerprints; no corpus re-tokenize") {
    val p = plan("dedup_substring")
    assert(p.contains("graft-stage"),
      "must probe the staged fps table, not re-window the corpus")
    assert(!p.toLowerCase.contains("documents.parquet"),
      "the documents table must not appear in the probe plan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pairing must be a fingerprint equi-join, never all pairs")
    // the df cap must be an aggregated hot-list anti-join, never a
    // per-fp window (a hot fingerprint would funnel through one task)
    assert(!p.contains("Window"),
      "boilerplate guard must not be a per-fp window")
  }

  test("dedup_cluster_survivor joins clusters by key and windows per cluster") {
    val p = plan("dedup_cluster_survivor")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "cluster tagging must be a doc_id equi-join")
    // the survivorship window must partition by cluster_id — an
    // unpartitioned window would funnel every clustered doc into one task
    val windowSpecs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windowSpecs.nonEmpty, "expected the per-cluster row_number window")
    assert(windowSpecs.forall(_.contains("cluster_id")),
      s"every window must be keyed by cluster_id, got: ${windowSpecs.mkString("\n")}")
  }

  test("q_pivot_daily pivots as two-level aggregation, no domain-discovery pass") {
    val p = plan("q_pivot_daily")
    // explicit pivot values plan as (day, event_type) partial+final agg
    // that collapses the facts, then a tiny (day) pivot agg — two
    // aggregate pairs, two exchanges, and NO extra job to collect the
    // pivot column's distinct values
    assert("\\(\\d+\\) HashAggregate".r.findAllIn(p).size == 4,
      "expected the two-level pivot aggregation")
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 2,
      "facts must shuffle once; the pivot step reshuffles only day-level rows")
  }

  test("q18_large_orders filters on the partial-aggregated quantity before joining back") {
    val p = plan("q18_large_orders")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "per-order quantity must combine map-side")
    assert(p.contains("BroadcastHashJoin"), "customer joins the few survivors broadcast")
  }

  test("q17_small_qty forces broadcast only on the brand dim; the threshold join is AQE's") {
    // avgQty grows with the brand's part count (a dimension, not a
    // constant) — a forced broadcast there would OOM the driver when the
    // dimension scales; AQE picks broadcast when it actually fits.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, ResolvedHint}
    val analyzed = SparkEntry.queries("q17_small_qty")(spark, Sf)
      .queryExecution.analyzed
    // the part-dim hint appears once per reference to `branded`; what
    // must NOT exist is a hint over the per-part AGGREGATE (avgQty)
    val hintedAggs = analyzed.collect {
      case h: ResolvedHint if h.child.collectFirst { case a: Aggregate => a }.isDefined => h
    }
    assert(hintedAggs.isEmpty,
      s"the per-part threshold aggregate must not be force-broadcast: $hintedAggs")
    assert(analyzed.collectFirst { case h: ResolvedHint => h }.isDefined,
      "the brand-filtered part dim should still be hint-broadcast")
  }

  test("q21_late_supplier joins facts once and broadcasts only the supplier dim") {
    val p = plan("q21_late_supplier")
    assert(p.contains("BroadcastHashJoin"), "supplier dim must broadcast")
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere")
    // lineitem and orders are each scanned exactly once — the
    // EXISTS/NOT-EXISTS self-joins of textbook Q21 must not reappear
    // formatted mode lists one Location line per scan node
    val liScans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("lineitem"))
    assert(liScans == 1, s"lineitem must be scanned once, got $liScans")
  }

  test("doc_pack_bins below the gate runs two-level: one bounded partitionless window") {
    // at test scale the size gate picks the two-level path — the
    // partitionless cumulative sees ≤ PackMaxFlatChunks chunk rows
    val p = plan("doc_pack_bins")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.size == 2,
      s"expected chunk-cumulative + doc-in-chunk windows:\n${specs.mkString("\n")}")
    assert(specs.count(s => s.contains("chunk") && s.contains("doc_id")) == 1,
      "the doc-grain running sum must be chunk-partitioned")
  }

  test("doc_pack_bins past the gate is three-level: partitionless window only at superchunk grain") {
    val p = graft.operators.TextOps.docPackBinsThreeLevel(spark, Sf)
      .queryExecution.explainString(FormattedMode)
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.size == 3,
      s"expected sup-cumulative + chunk-in-sup + doc-in-chunk windows:\n${specs.mkString("\n")}")
    // the per-doc window must be partitioned by chunk (bounded groups)
    assert(specs.count(s => s.contains("chunk") && s.contains("doc_id")) == 1,
      "the doc-grain running sum must be chunk-partitioned")
    // the chunk-grain window must be partitioned by superchunk — only
    // the one-row-per-2^20-docs superchunk cumulative runs partitionless
    assert(specs.count(s => s.contains("sup") && s.contains("chunk")) == 1,
      "the chunk-grain running sum must be superchunk-partitioned")
  }

  test("q_percentiles folds its domain-bounded phases back as literals (r21)") {
    val p = plan("q_percentiles")
    // the stats/histogram phases run eagerly and return as literals, so
    // the returned frame holds NO cache and exactly ONE fact scan (the
    // bounded-bucket extraction pass)
    assert(!p.contains("InMemoryTableScan") && !p.contains("InMemoryRelation"),
      "no cached frame may remain in the extraction plan")
    assert(p.linesIterator.count(_.contains("events.parquet")) == 1,
      "the extraction pass must scan the fact exactly once")
  }

  test("dedup_cluster's pair source is the staged table, never a corpus re-mine") {
    // the registered query's contraction loop erases lineage at each
    // localCheckpoint, so assert on the pair source plan directly: it
    // must read the staged parquet and never touch the documents table
    val p = graft.operators.Dedup.stagedPairs(spark, Sf)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("graft-stage"), "pairs must come from the staged store")
    assert(!p.contains("documents"), "pair read must not rescan the corpus")
  }

  test("dedup_minhash_lsh probes the staged signature store; no corpus re-shingle") {
    val p = plan("dedup_minhash_lsh")
    assert(p.contains("graft-stage"),
      "band keys and hash-sets must come from the staged store")
    assert(!p.toLowerCase.contains("documents.parquet"),
      "the documents table must not appear in the probe plan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidates must come from the band self-join, never all pairs")
    assert(!p.contains("InMemoryRelation"),
      "no operator-owned cache: each consumer re-reads the staged parquet")
  }

  test("mm_phash probes the staged fingerprints; payload bytes never enter the plan") {
    val p = plan("mm_phash")
    assert(p.contains("graft-stage"),
      "fingerprints must come from the staged phash store, not per-run hashing")
    assert(!p.toLowerCase.contains("documents.parquet"),
      "the documents table (payload source) must not appear in the probe plan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pair mining must be the byte-block equi-join, never all pairs")
  }

  test("dedup_incremental probes staged signatures on BOTH sides — zero corpus scans") {
    val p = plan("dedup_incremental")
    assert(p.contains("graft-stage"), "both sides must read staged stores")
    val docScans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("documents.parquet"))
    assert(docScans == 0,
      s"arrival signatures are the staged store's isNew slice — no text re-shingle, got $docScans corpus scans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidates must come from the band join, never all pairs")
  }

  test("dedup_cluster_incremental's reduced graph probes staged signatures — zero corpus scans") {
    // the contraction loop's localCheckpoints erase lineage, so assert
    // on the reduced-edge source plan directly (the clusterDups pattern)
    val p = graft.operators.Dedup.clusterIncrementalReduced(spark, Sf)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("graft-stage"),
      "bands/hsets/cluster state must come from staged stores")
    assert(!p.toLowerCase.contains("documents.parquet"),
      "neither side may re-shingle text: arrival signatures are staged at ingest")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidates must come from the band join, never all pairs")
  }

  test("mm_phash_incremental reads staged 8-byte fingerprints on BOTH sides — zero payload scans") {
    val p = plan("mm_phash_incremental")
    assert(p.contains("graft-stage"), "both sides must read the staged phash store")
    assert(!p.toLowerCase.contains("documents.parquet"),
      "the payload table must not appear: arrival fingerprints are staged at ingest")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pair mining must be the byte-block equi-join, never all pairs")
  }

  test("q_funnel_window: conditional-min chain shares one user exchange — no self-join") {
    val p = plan("q_funnel_window")
    assert(!p.contains("Join"), "the step chain must be windows, never event self-joins")
    // count tree nodes ("+- Exchange"), not raw mentions — formatted
    // mode repeats every node in the detail section
    val exchanges = "- Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"user window + depth rollup only, got $exchanges exchanges")
  }

  test("ann_bq_ivf: id-only cell-pruned list scan, heap shortlist, floats only behind the shortlist") {
    val p = plan("ann_bq_ivf")
    assert(p.contains("graft-stage"), "lists and fingerprints must be staged reads")
    assert(p.contains("graft_topk_min"),
      "the coarse pass must be the bounded-heap aggregate, not a candidate rank window")
    assert(p.contains("dynamicpruningexpression"),
      "the probed (qid, cell) set must partition-prune the lists scan")
    // tree nodes only (details repeat them): probe window + rerank
    // window + the probe's copy inside the partition-pruning subquery;
    // the candidate hamming pass must NOT be a window
    assert("- Window ".r.findAllIn(p).size <= 3,
      "rank windows only for the 2-cell probe (plus its DPP subquery copy) and the <=32-row rerank")
    // the only nested-loop join allowed is the tiny centroid × query
    // probe (the ann_batch_ivf_topk precedent); corpus joins are
    // broadcast equi-joins
    assert(!p.contains("CartesianProduct"))
    assert("- BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      "only the centroid probe may cross (it appears once more inside its DPP subquery) — never fingerprints or floats")
  }

  test("emb_remove_top_pc: map-side folds into one combinable label aggregate — no explode below the agg") {
    val p = plan("emb_remove_top_pc")
    assert(!p.contains("Generate"),
      "the scoring pass folds inside the arrays, never explodes the corpus")
    assert(!p.contains("windowspecdefinition"), "no window anywhere")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final label agg")
  }

  test("dedup_cross_source_matrix mines nothing: staged pairs + a 2-column corpus projection") {
    // the registered query checkpoints the grouped matrix (it seeds two
    // consumers), so assert on the pre-checkpoint frame directly
    val p = graft.operators.Dedup.crossSourceGrouped(spark, Sf)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("graft-stage"), "pairs must come from the staged table")
    val docScans = p.linesIterator.filter(l =>
      l.contains("ReadSchema") && l.contains("doc_id")).toList
    assert(docScans.nonEmpty && docScans.forall(!_.contains("text")),
      s"the documents scan must prune to (doc_id, source) — no text column: $docScans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("text_gopher_rules is a pure map-side projection — zero exchanges") {
    val p = plan("text_gopher_rules")
    assert(!p.contains("Exchange"), "quality rules must not shuffle the corpus")
    assert(!p.contains("Generate"), "no explode: ratios fold inside the token array")
  }

  test("q2_min_cost_supp broadcasts both dims and never rank-windows the fact") {
    val p = plan("q2_min_cost_supp")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "part filter and region-pruned suppliers must broadcast")
    assert(!p.contains("windowspecdefinition"),
      "per-part arg-min must be the struct-ordered min agg, not a rank window")
  }

  test("q11_important_parts semi-joins the broadcast supplier keys before the agg") {
    val p = plan("q11_important_parts")
    assert(p.contains("LeftSemi"), "nation suppliers must filter as a semi join")
    assert(p.contains("BroadcastHashJoin"), "the key set must broadcast")
  }

  test("emb_quantize_sq has no explode and combines partials map-side") {
    val p = plan("emb_quantize_sq")
    assert(!p.contains("Generate"),
      "error sums must fold inside the array, not explode the corpus")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final agg")
  }

  test("ann_mmr_rerank touches the corpus once; greedy rounds run on the cached shortlist") {
    val p = plan("ann_mmr_rerank")
    assert(p.contains("TakeOrderedAndProject"),
      "the shortlist must be a top-k, not a global sort")
    assert(p.contains("InMemoryRelation"),
      "the constant-size shortlist must cache — re-deriving it would " +
        "TakeOrdered the corpus once per greedy round")
    val corpusScans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("embeddings.parquet"))
    assert(corpusScans <= 2,
      s"corpus scans must stay O(1) (query + shortlist), got $corpusScans")
  }

  test("emb_ivf_balance reads zero data bytes — partition column only") {
    val p = plan("emb_ivf_balance")
    assert(p.contains("graft-stage"), "must read the staged assignment table")
    assert(p.contains("ReadSchema: struct<>"),
      "the count must come from the partition column alone — no data columns")
  }

  test("dedup_band_stats probes the staged bands, never the corpus text") {
    val p = plan("dedup_band_stats")
    assert(p.contains("graft-stage"), "must read the staged band keys")
    assert(!p.toLowerCase.contains("documents.parquet"),
      "band health must not rescan the corpus")
  }

  test("ts_anomaly_mad is one scan, one exchange — medians via windows, not join-backs") {
    val p = plan("ts_anomaly_mad")
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("props"), s"payload column must be pruned: $l")
    }
    val scans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("events.parquet"))
    assert(scans == 1, s"the fact must be scanned once, got $scans")
    assert("Exchange".r.findAllIn(p).size <= 2, "one user_id shuffle (+AQE read)")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "no join-back: both medians are full-partition window sums")
  }

  test("text_lang_confusion scores and labels in ONE corpus scan — no self-join") {
    val p = plan("text_lang_confusion")
    val docScans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("documents.parquet"))
    assert(docScans == 1, s"prediction and label share the scan, got $docScans")
    assert(!p.contains("Join"), "no doc_id re-join for a column the scan had")
  }

  test("ts_histogram_quantile is one combinable conditional-count pass") {
    val p = plan("ts_histogram_quantile")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final agg")
    assert(!p.contains("windowspecdefinition") && !p.contains("Join"),
      "bucket counts need no window and no join")
  }

  test("q_attribution carries the last touch in a window — no join anywhere") {
    val p = plan("q_attribution")
    assert(p.contains("windowspecdefinition"), "running struct-max window")
    assert(!p.contains("Join"),
      "attribution must not become a purchases x touches join")
    val evScans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("events.parquet"))
    assert(evScans == 1, s"one corpus scan, got $evScans")
  }

  test("ts_cross_corr scans the corpus once; pair work runs on the checkpointed aggregate") {
    val p = plan("ts_cross_corr")
    assert(!p.contains("events.parquet"),
      "all consumers must read the materialized hourly aggregate, not re-scan events")
  }

  test("text_dup_ngram_frac probes the staged rset; the text column never enters the plan") {
    val p = plan("text_dup_ngram_frac")
    assert(p.contains("graft-stage"), "shingle sets must come from the staged store")
    assert(!p.toLowerCase.contains("documents.parquet"),
      "no tokenization pass: the corpus parquet must not appear")
  }

  test("dedup_winnow reads the staged wfp artifact; no re-tokenize, no query-time argmin") {
    val p = plan("dedup_winnow")
    assert(p.contains("graft-stage"),
      "winnowed selections must come from the staged wfp store")
    assert(!p.toLowerCase.contains("documents.parquet"),
      "no tokenization pass: the corpus parquet must not appear")
    assert(!p.contains("windowspecdefinition"),
      "the winnowing argmin window is index build, not query work")
  }

  test("dedup_winnow_pairs mines the staged wfp; df cap is an anti-join, never a per-fp window") {
    val p = plan("dedup_winnow_pairs")
    assert(p.contains("graft-stage"), "must probe the staged wfp store")
    assert(!p.toLowerCase.contains("documents.parquet"),
      "no tokenization pass: the corpus parquet must not appear")
    assert(!p.contains("windowspecdefinition"),
      "the boilerplate cap must not funnel hot fingerprints through one task")
  }

  test("dedup_simhash_pairs mines the staged fingerprints; the corpus text never enters the plan") {
    val p = plan("dedup_simhash_pairs")
    assert(p.contains("graft-stage"), "fingerprints must come from the staged sim store")
    assert(!p.toLowerCase.contains("documents.parquet"),
      "no tokenization pass: the corpus parquet must not appear")
  }

  test("text_char_lm probes the staged bigram profiles; the corpus text never enters the plan") {
    val p = plan("text_char_lm")
    assert(p.contains("graft-stage"), "profiles must come from the staged store")
    assert(!p.toLowerCase.contains("documents.parquet"),
      "no tokenization pass: the corpus parquet must not appear")
  }

  test("text_dsir probes the staged feature profiles; the corpus text never enters the plan") {
    val p = plan("text_dsir")
    assert(p.contains("graft-stage"), "profiles must come from the staged store")
    assert(!p.toLowerCase.contains("documents.parquet"),
      "no tokenization pass: the corpus parquet must not appear")
  }

  test("emb_knn_graph reads the staged edge parquet; the banded build never runs per query") {
    val p = plan("emb_knn_graph")
    assert(p.contains("graft-stage"), "edges must come from the staged knn graph")
    assert(!p.contains("graft_band_codes"),
      "the banded self-join is index build, not query work")
    assert(!p.contains("windowspecdefinition"),
      "the per-src rank window is index build, not query work")
  }

  test("ann_graph_probe walks staged artifacts only — work ∝ beam × degree × hops, never corpus") {
    // the registered query localCheckpoints each hop's visited frame
    // (so every staged probe evaluates ONCE per hop), which erases the
    // lineage — assert on the exposed pre-checkpoint hop frame (the
    // clusterIncrementalReduced pattern)
    val p = graft.operators.Similarity.annGraphProbeHop(spark, Sf)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("graft-stage"),
      "seeds and edges must come from the staged kcenter/knn stores")
    assert(!p.contains("graft_band_codes"),
      "no candidate mining at query time: the graph build is index work")
    // ONE staged edge scan per hop — never per-node, never corpus-wide
    val edgeScans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("knng"))
    assert(edgeScans == 1, s"one staged edge scan per hop, got $edgeScans")
    // the only nested-loop joins are the (queries × KcK seeds) hop-0
    // broadcast, duplicated across the expand union's two branches —
    // both sides bounded constants, never corpus frames
    val bnlj = p.linesIterator.count(l =>
      l.trim.startsWith("(") && l.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 2,
      s"only the tiny hop-0 seed cross join may be non-equi, got $bnlj")
  }

  test("text_decontaminate_fuzzy probes the staged store on BOTH sides — zero corpus scans") {
    val p = plan("text_decontaminate_fuzzy")
    assert(p.contains("graft-stage"), "both slices must read staged signatures")
    val docScans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("documents.parquet"))
    assert(docScans == 0,
      s"neither side may re-shingle text at query time, got $docScans corpus scans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidates must come from the band equi-join, never all pairs")
  }

  test("q_join_salted: the salt reaches the join keys and the dim replicates in-plan") {
    val p = plan("q_join_salted")
    assert(p.contains("SortMergeJoin"),
      "the salted twin must stay a shuffle join — broadcast has no shuffle to skew")
    // the dim side replicates through the literal salt explode
    assert(p.contains("explode([0,1,2,3,4,5,6,7])"),
      "orders must replicate via the literal salt-array explode")
    // the join condition carries the salt beside the orderkey, so the
    // hot key's rows hash to JoinSaltN distinct reducer partitions
    val smj = p.linesIterator.filter(_.contains("Left keys")).mkString
    assert(smj.contains("salt"),
      s"join keys must include the salt, got: $smj")
  }

  test("emb_pagerank_knn iterates over the staged edge parquet, never re-mines the graph") {
    val p = plan("emb_pagerank_knn")
    assert(p.contains("graft-stage"), "edges must come from the staged knn graph")
    assert(!p.contains("graft_band_codes"),
      "no banded self-join: the graph build must not run per query")
  }

  test("emb_dim_stats aggregates without exploding the corpus") {
    val p = plan("emb_dim_stats")
    // the only Generate is the 1-row unpivot ABOVE the aggregate (its
    // line prints before the HashAggregates in the top-down tree); a
    // Generate below the agg would mean the corpus posexploded
    assert(p.indexOf("Generate") < p.indexOf("HashAggregate"),
      "per-dim sums must fold as 256 agg expressions, not a corpus posexplode")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final agg")
  }

  test("ann_filtered_topk pushes the metadata filter to the cell-pruned index scan") {
    val p = plan("ann_filtered_topk")
    assert(p.contains("graft-stage"), "must read the staged IVF index, not rebuild it")
    assert(p.contains("dynamicpruningexpression"),
      "probe must partition-prune the assignment scan to the probed cells")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    val want = operators.Similarity.FilteredAnnLabels.mkString("In(label, [", ",", "])")
    assert(pushed.contains(want),
      s"the FULL tag-set filter must reach the parquet reader: want $want, got $pushed")
    assert(!p.contains("HashAggregate"),
      "the centroid aggregation must not run at query time — probe only")
  }

  test("ann_batch_ivf_topk serves the batch from the staged index: cell-pruned scan, no corpus crossJoin") {
    val p = plan("ann_batch_ivf_topk")
    assert(p.contains("graft-stage"), "must read the staged IVF index, not rebuild it")
    assert(p.contains("dynamicpruningexpression"),
      "the probed (qid, cell) set must partition-prune the assignment scan")
    assert(!p.contains("HashAggregate"),
      "the centroid aggregation must not run at query time — probe only")
    // the only nested-loop join allowed is the tiny centroid × query
    // probe; the corpus join must be the broadcast equi-join on the
    // cell column (a corpus crossJoin would be the brute-force shape
    // this query exists to replace)
    assert(p.contains("BroadcastHashJoin"),
      "candidates must come from the broadcast (qid, cell) equi-join")
  }

  test("ann_filtered_adaptive sizes the probe from staged stats; filter pushed to the cell-pruned scan") {
    val p = plan("ann_filtered_adaptive")
    assert(p.contains("graft-stage"), "must read the staged IVF index, not rebuild it")
    assert(p.contains("cellstats"), "cell sizing must read the staged stats table")
    assert(p.contains("dynamicpruningexpression"),
      "probe must partition-prune the assignment scan to the selected cells")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    val want = operators.Similarity.FilteredAnnLabels.mkString("In(label, [", ",", "])")
    assert(pushed.contains(want),
      s"the FULL tag-set filter must reach the parquet reader: want $want, got $pushed")
  }

  test("q_part_growth: agg, lag window and rank share ONE part-keyed exchange") {
    val p = plan("q_part_growth")
    // hashpartitioning(l_partkey) serves the (part, month) agg AND the
    // part-keyed lag window; the only other allowed exchange is the
    // final top-10's single-partition collect
    val exchanges = p.linesIterator.count(l => l.trim.startsWith("(") &&
      l.contains("Exchange"))
    assert(exchanges <= 2, s"expected one part-keyed exchange (+ top-10 collect), got $exchanges:\n" +
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("ann_ivf_incremental probes the sliced staged index; no query-time index build") {
    val p = plan("ann_ivf_incremental")
    assert(p.contains("graft-stage"), "must read the staged sliced IVF index")
    assert(p.contains("dynamicpruningexpression"),
      "the indexed side must partition-prune to the probed cells")
    assert(!p.contains("HashAggregate"),
      "neither centroid build nor assignment may run at query time")
  }

  test("q_market_basket mines the staged incidence frame; lineitem never enters the pair join") {
    val p = plan("q_market_basket")
    assert(p.contains("graft-stage"),
      "the distinct (order, part) frame must come from the staged BasketIndex")
    assert(!p.toLowerCase.contains("lineitem.parquet"),
      "no corpus scan: pairs, supports and n all derive from the staged frame")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not globally sort")
  }

  test("emb_silhouette scores by broadcast fold — no window, no shuffle join") {
    val p = plan("emb_silhouette")
    assert(!p.contains("windowspecdefinition"), "no per-vector window")
    assert(!p.contains("SortMergeJoin"),
      "the centroid table must reach rows as a broadcast join, never a shuffle join")
  }

  test("ts_deriv/predict share one key exchange between window min and OLS agg") {
    for (q <- Seq("ts_deriv", "ts_predict_linear")) {
      val p = plan(q)
      val scans = p.linesIterator.count(l =>
        l.contains("Location") && l.contains("events.parquet"))
      assert(scans == 1, s"$q: the fact must be scanned once, got $scans")
      assert("Exchange".r.findAllIn(p).size <= 2,
        s"$q: one user_id shuffle (+AQE read)")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q: regression sums must partial-aggregate map-side")
    }
  }

  test("dedup_bloom_incremental gates the batch with a codegen bloom probe and broadcasts the survivors") {
    val p = plan("dedup_bloom_incremental")
    assert(p.contains("might_contain"),
      "the staged bloom must gate the batch as a native Catalyst predicate")
    assert(p.contains("BroadcastHashJoin"),
      "the bloom-surviving batch side must broadcast — the corpus never shuffles for the verify")
    assert(!p.contains("SortMergeJoin"),
      "no corpus-sized shuffle join may remain behind the bloom gate")
  }

  test("ann_ivf_delete pushes the tombstone filter into the staged cell-pruned scan") {
    val p = plan("ann_ivf_delete")
    assert(p.contains("dynamicpruning") || p.contains("PartitionFilters"),
      "the probe must keep the cell prune")
    assert(!p.contains("SortMergeJoin"), "the probe joins stay broadcast")
    val scanLines = p.linesIterator.filter(l =>
      l.contains("PushedFilters") && l.contains("vec_id")).mkString
    assert(scanLines.nonEmpty, "vec_id filters must reach the staged scan")
  }

  test("emb_bq_rerank fetches float vectors only behind the shortlist join") {
    val p = plan("emb_bq_rerank")
    // stage 1 scores STAGED sign-packed longs; the float-vector join
    // must hang off the 32-row-per-query shortlist, not a corpus
    // crossJoin
    assert("BroadcastNestedLoopJoin|CartesianProduct".r.findAllIn(p).size <= 2,
      "only the two 10-row query broadcasts may cross-join")
    assert(p.contains("bit_count"), "coarse scoring must be the integer popcount")
    // the fingerprints come pre-packed from the staged BqIndex, never
    // re-packed from raw floats per run
    assert(p.contains("graft-stage") && p.contains("bq-"),
      "coarse pass must read the staged BqIndex fingerprints")
    // the coarse shortlist is a bounded-heap aggregate with map-side
    // partials; the ONLY window is the 32-row-per-qid exact rerank
    assert(p.contains("graft_topk_min"),
      "shortlist must be the bounded-heap top-k aggregate")
    assert("\\(\\d+\\) Window\\b".r.findAllIn(p).size == 1,
      "no rank window may exist over the corpus — only the shortlist rerank")
  }

  test("stream_ann_probe's serve path has NO rank window and reads the staged lists") {
    val p = plan("stream_ann_probe")
    // cell choice is the in-array fold, the top-3 is custom state —
    // a rank window anywhere would break the streaming contract
    assert(!p.contains("windowspecdefinition"),
      "the serve path must be window-free end to end")
    assert(p.contains("graft-stage"),
      "candidates must come from the staged IVF lists")
    assert(p.contains("FlatMapGroupsWithState") || p.contains("MapGroups"),
      "the per-query top-3 must be the bounded custom-state operator")
  }

  test("text_bpe_apply applies the merge chain over the vocab, not the corpus") {
    val p = plan("text_bpe_apply")
    // the replace chain must evaluate once per DISTINCT word — i.e.
    // inside the vocab aggregate's result projection (the nb column),
    // never in the corpus-side token explode
    val replLines = p.linesIterator.filter(_.contains("replace(")).toSeq
    assert(replLines.nonEmpty, "the sentinel replace chain must be in the plan")
    assert(replLines.forall(_.contains("AS nb#")),
      s"the replace chain may only compute the vocab nb column:\n${replLines.mkString("\n")}")
    assert(p.contains("Keys [1]: [w#"),
      "a distinct-word aggregate must bound the apply at vocab size")
    assert(!p.contains("windowspecdefinition"), "no window anywhere")
  }

  test("capped PPJoin miners read the staged group table, never re-window the arrays") {
    for (q <- Seq("dedup_ngram_jaccard_capped", "dedup_containment_capped",
        "dedup_embedding_capped", "dedup_minhash_lsh_capped")) {
      val p = plan(q)
      assert(p.contains("graft-stage"), s"$q must read staged artifacts")
      // the only windows left are the per-doc cap and (for PPJoin) none
      // over raw set arrays: no window may partition by set/embedding
      val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
      assert(specs.forall(l => !l.contains("set#") && !l.contains("embedding#")),
        s"$q must not re-group the arrays at query time:\n${specs.mkString("\n")}")
    }
  }

  test("emb_bq_recall's BQ leg is staged + heap-aggregated; only the exact leg windows") {
    val p = plan("emb_bq_recall")
    assert(p.contains("graft-stage") && p.contains("bq-"),
      "BQ leg must read the staged BqIndex fingerprints")
    assert(p.contains("graft_topk_min"),
      "BQ top-3 must be the bounded-heap top-k aggregate")
    // the single remaining window belongs to the brute-force exact leg
    // (annBatchTopk), which IS the eval's ground-truth contract
    assert("\\(\\d+\\) Window\\b".r.findAllIn(p).size == 1,
      "only the exact ground-truth leg may rank via a window")
  }

  test("ann_sq_rerank: heap shortlist in the coarse pass; the lone window ranks the shortlist") {
    val p = plan("ann_sq_rerank")
    assert(p.contains("graft_topk_min"),
      "the coarse top-32 must be the bounded-heap aggregate")
    // exactly one window — the <=32-row exact re-rank; a second would
    // mean the coarse pass ranks the corpus
    assert("\\(\\d+\\) Window\\b".r.findAllIn(p).size == 1,
      "only the shortlist re-rank may use a window")
  }

  test("doc_interleave never windows a whole source: every rank partitions by (source, bucket)") {
    val p = plan("doc_interleave")
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    // the carry window partitions by source over 256 bucket rows; the
    // rank window by (source, bucket); the source-index window rides
    // the sources-bounded distinct frame — none may be a bare
    // partitionless window over doc rows (hk present = doc grain)
    assert(specs.nonEmpty)
    specs.filter(_.contains("hk")).foreach { l =>
      assert(l.contains("source") && l.contains("b#"),
        s"doc-grain rank must partition by (source, bucket): $l")
    }
  }

  test("ts_counter_correct: lag and offset sum share one key exchange; no join") {
    val p = plan("ts_counter_correct")
    val scans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("events.parquet"))
    assert(scans == 1, s"one corpus scan, got $scans")
    assert("\\(\\d+\\) Exchange\\b".r.findAllIn(p).size <= 2,
      "both windows must ride one user_id exchange")
    assert(!p.contains("Join"), "no join anywhere")
  }

  test("emb_cos_hist pairs via ONE corpus scan + explode — no self-join, no window") {
    val p = plan("emb_cos_hist")
    val scans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("embeddings.parquet"))
    assert(scans == 1, s"the corpus must be scanned once, got $scans")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "no unbounded join may exist")
    assert(!p.contains("windowspecdefinition"), "no window anywhere")
    assert(p.contains("Generate"), "pair roles must come from the explode")
  }

  test("q_skew_stats runs entirely off the checkpointed histogram — the corpus never re-enters") {
    // the per-key count + count-value histogram collapse happens ONCE
    // (inside the localCheckpoint job); the published plan's three
    // consumers (totals, cumulative window, percentile selection) may
    // only read the checkpoint
    val p = plan("q_skew_stats")
    assert(!p.contains("events.parquet"),
      "every consumer must read the checkpointed histogram, not the corpus")
  }

  test("text_zipf_check's rank and totals branches share the checkpointed vocab frame") {
    val p = plan("text_zipf_check")
    assert(!p.contains("documents.parquet"),
      "both branches must read the checkpointed (lang, word) counts — one tokenize")
  }

  test("ts_subquery_maxrate: corpus crosses one exchange; the day regroup moves the hourly frame") {
    val p = plan("ts_subquery_maxrate")
    val scans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("events.parquet"))
    assert(scans == 1, s"the fact must be scanned once, got $scans")
    // each node appears twice in FormattedMode (tree + details):
    // 2 exchanges = 4 mentions
    assert("\\(\\d+\\) Exchange\\b".r.findAllIn(p).size <= 4,
      "two grains, two exchanges — the second over the hourly aggregate only")
    assert(!p.contains("windowspecdefinition") && !p.contains("Join"),
      "both grains are aggregates: no window, no join")
  }

  test("source_csv_roundtrip is a pure codegen projection — zero exchanges") {
    val p = plan("source_csv_roundtrip")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      "render+parse must stay map-side")
  }

  test("ts_quantile_daily ranks and brackets on ONE (key, day) exchange") {
    val p = plan("ts_quantile_daily")
    val scans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("events.parquet"))
    assert(scans == 1, s"the fact must be scanned once, got $scans")
    assert("Exchange".r.findAllIn(p).size <= 2,
      "the window and the bracketing groupBy must share one exchange")
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("props"), s"payload column must be pruned: $l")
    }
  }

  test("ann_ivf_rebalance re-assigns drifted cells only; list sizes read no vector bytes") {
    val p = plan("ann_ivf_rebalance")
    assert(p.contains("graft-stage"), "must read the staged sliced index")
    // the K-bounded drift set folds into the plan as literals, so the
    // staged member scan is STATICALLY partition-pruned to the drift
    // set — rebalance work is ∝ drifted-cell mass, never the corpus
    assert(p.linesIterator.exists(l => l.contains("PartitionFilters") &&
      l.contains("assigned_label") && l.contains(" IN (")),
      "the member scan must carry a static IN partition filter on the drift set")
    assert(!p.contains("windowspecdefinition"),
      "both assignment folds are map-side argmaxes — no per-vector window")
    // the per-cell list-size pass (inside the checkpointed refresh
    // frame) reads zero data columns: the cell is the partition
    // column, so counts come from parquet metadata
    val (_, assignedPath) = graft.operators.IvfIndex.ensureIndexed(spark, Sf)
    val cnt = spark.read.parquet(assignedPath)
      .groupBy("assigned_label").count()
      .queryExecution.explainString(FormattedMode)
    assert(cnt.linesIterator.exists(l =>
      l.trim.startsWith("ReadSchema") && l.contains("struct<>")),
      "n_old's scan shape must read no data columns")
  }

  test("ann_ivf_commit serves the committed generation: static drop filter + DPP on both legs") {
    val p = plan("ann_ivf_commit")
    assert(p.contains("graft-stage"), "must read the staged committed generation")
    // the pointer's dropped set enters the BASE scan as a static NOT IN
    // partition filter (re-homed cells' base lists are never read), and
    // the probe's 2 cells prune dynamically — commit never rewrites the
    // kept base partitions, so the probe must prove it reads them in place
    assert(p.linesIterator.exists(l => l.contains("PartitionFilters") &&
      l.contains("NOT assigned_label") && l.contains(" IN (")),
      "base scan must carry the pointer's static NOT-IN dropped-cell filter")
    assert(p.linesIterator.count(l => l.contains("PartitionFilters") &&
      l.contains("dynamicpruningexpression(assigned_label")) >= 2,
      "both generation legs (base + delta) must partition-prune to the probed cells")
    assert(!p.contains("windowspecdefinition"),
      "the post-swap probe is TakeOrdered + broadcast joins — no window")
  }

  test("ann_ivf_commit_report counts cells from partition columns only — no vector bytes") {
    val p = plan("ann_ivf_commit_report")
    // both generation legs count on the partition column alone, so the
    // scans read zero data columns (parquet footer weight — the
    // rebalance report's n_old discipline, post-swap)
    assert(p.linesIterator.count(l =>
      l.trim.startsWith("ReadSchema") && l.contains("struct<>")) >= 2,
      "both leg scans must read no data columns")
    assert(!p.contains("windowspecdefinition"))
  }

  test("q_decile_lift ranks within rev buckets — the customer dim never hits one partition") {
    val p = plan("q_decile_lift")
    // the global-rank window must be partitioned by the rev bucket
    assert("windowspecdefinition\\(b#\\d+L, rev#\\d+L DESC".r.findFirstIn(p).isDefined,
      "the row_number window must partition by the DecileBucketCents bucket")
    // no row_number may ride a partitionless spec (that was the r16 defect)
    assert(!"row_number\\(\\) windowspecdefinition\\(rev#".r.findFirstIn(p).isDefined,
      "no global single-partition rank over the customer frame")
  }

  // ---- partitionless-window bound invariant (verdict r16 #2) ----------
  //
  // A Window with NO partition spec moves its whole input to ONE
  // partition — acceptable ONLY over a provably bounded frame. This
  // invariant enumerates every allowed site with its bound witness
  // (shortlist limit / bounded-key aggregate / calendar spine /
  // checkpointed histogram / rectangle scan) as a structural frame
  // signature, and fails on ANY new partitionless window anywhere in
  // the 259 registered queries until it is either partitioned or
  // argued bounded and added here with a witness.

  import org.apache.spark.sql.catalyst.plans.logical._
  import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

  /** Structural signature of the frame below a partitionless window:
    * the first cardinality-determining node on each branch. Aggregates
    * carry their grouping keys (the bound must be a property of the
    * KEY domain, never the corpus); scans carry the table basename so
    * a staged K-row centroid table can never be confused with a
    * corpus parquet. */
  private def frameSig(p: LogicalPlan): String = p match {
    case a: Aggregate =>
      s"agg[${a.groupingExpressions.flatMap(_.references.map(_.name)).distinct.sorted.mkString(",")}]"
    case _: GlobalLimit | _: LocalLimit => "limit"
    case u: Union => u.children.map(frameSig).mkString("union(", "+", ")")
    case j: Join => s"join(${frameSig(j.left)},${frameSig(j.right)})"
    case l: LogicalRelation =>
      val base = l.relation match {
        case h: HadoopFsRelation =>
          val n = h.location.rootPaths.headOption.map(_.getName).getOrElse("?")
          if (n.matches("^[rbm]-[0-9]+$")) "rick" else n
        case _ => "?"
      }
      s"scan:$base"
    case l: LeafNode if l.getClass.getSimpleName == "LogicalRDD" => "rdd"
    case _: LeafNode => s"leaf:${p.getClass.getSimpleName}"
    case o if o.children.size == 1 => frameSig(o.children.head)
    case o => s"?${o.getClass.getSimpleName}"
  }

  /** query -> allowed (frame signature, bound witness) sites. */
  private val BoundedWindowSites: Map[String, Seq[(String, String)]] = Map(
    "ann_filtered_adaptive" -> Seq(
      ("join(join(scan:centroids,scan:embeddings.parquet),agg[assigned_label])",
        "cumulative filtered mass over the ncells-row (cell rank × cell stats) frame"),
      ("join(scan:centroids,scan:embeddings.parquet)",
        "probe rank over the K-row centroid table × 1-row query")),
    "ann_hybrid_rrf" -> Seq(
      ("limit", "RRF rank over a TakeOrdered shortlist")),
    "dedup_jaccard_histogram" -> Seq(
      ("agg[bucket]", "cumulative count over the 10-bin similarity histogram")),
    "doc_interleave" -> Seq(
      ("agg[source]", "source index over the sources catalogue dimension")),
    "doc_pack_bins" -> Seq(
      ("agg[chunk]", "bin carry over the chunk-count histogram (two-level pack)")),
    "helix_scan_custom_order" -> Seq(
      ("leaf:LocalRelation", "comparator order over the scan's key×time rectangle " +
        "(range-pushed store scan, a few hundred rows at any corpus scale; " +
        "a range within HelixStore.InProcessScanMaxBytes is read in process into a local relation)")),
    "q_abc_analysis" -> Seq(
      ("agg[b]", "cumulative-revenue carry over the AbcBucketUnits value " +
        "histogram (range/width bounded — the part dimension itself " +
        "never hits one partition)")),
    "q_decile_lift" -> Seq(
      ("agg[decile]", "cumulative share over the 10 decile rows"),
      ("agg[b]", "rank carry over the DecileBucketCents value histogram " +
        "(value-range/width bounded, never customer-count bounded)")),
    "q_session_concurrency" -> Seq(
      ("agg[day_us]", "concurrency spine over the calendar-day aggregate")),
    "q_skew_stats" -> Seq(
      ("rdd", "selection over the checkpointed count-of-counts histogram " +
        "(distinct per-key row counts, not keys)")),
    "text_heaps_vocab" -> Seq(
      ("agg[sup]", "Heaps curve over the bounded sample-point frame")),
    "ts_sla_multiwindow" -> Seq(
      ("join(agg[],rdd)", "trailing windows over the calendar spine " +
        "(1-row min/max × checkpointed 5-minute bucket frame)")),
    "stream_late_data" -> Seq(
      ("agg[b]", "watermark trajectory over the arrival-slice spine " +
        "(3 h wall-clock slices — calendar-bounded, the " +
        "ts_sla_multiwindow witness)")))

  // ---- cross-join bound invariant (verdict r17 #4) ---------------------
  //
  // A condition-free join (crossJoin / BroadcastNestedLoopJoin /
  // CartesianProduct) multiplies cardinalities, so it is acceptable
  // ONLY when at least one side is PROVABLY K-bounded — a 1-row scalar
  // aggregate, a limit shortlist, a unique-key slice (=/</IN on
  // vec_id/doc_id against literals — the probe-query frames), the
  // K-row staged centroid table, or plan literals. Exactly like the
  // partitionless-window contract above: any NEW unwitnessed cross
  // join anywhere in the registered queries fails this suite until it
  // is bounded or given a witness here.

  import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal, And => CAnd}

  /** Unique-key columns whose literal slices bound row counts: ids are
    * dense and unique in their tables, so `= lit` is one row and
    * `< lit` is at most `lit` rows at ANY corpus scale. */
  private val UniqueKeys = Set("vec_id", "doc_id")

  /** Top-level conjuncts only — a bound inside Not/Or bounds nothing. */
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  private def uniqueKeySlice(cond: Expression): Boolean =
    conjuncts(cond).exists {
      case EqualTo(a: AttributeReference, _: Literal) => UniqueKeys(a.name)
      case EqualTo(_: Literal, a: AttributeReference) => UniqueKeys(a.name)
      case LessThan(a: AttributeReference, _: Literal) => UniqueKeys(a.name)
      case LessThanOrEqual(a: AttributeReference, _: Literal) => UniqueKeys(a.name)
      case GreaterThan(_: Literal, a: AttributeReference) => UniqueKeys(a.name)
      case GreaterThanOrEqual(_: Literal, a: AttributeReference) => UniqueKeys(a.name)
      case In(a: AttributeReference, vs) =>
        UniqueKeys(a.name) && vs.forall(_.isInstanceOf[Literal])
      case _ => false
    }

  /** Staged artifacts that are K-row BY CONSTRUCTION (one row per
    * cluster cell), safe as a cross-join side at any corpus scale. */
  private val KRowArtifacts = Set("centroids")

  /** Bound witness for one side of a condition-free join, or None. */
  private def xjBounded(p: LogicalPlan): Option[String] = p match {
    case a: Aggregate if a.groupingExpressions.isEmpty => Some("scalar-agg")
    case _: GlobalLimit | _: LocalLimit => Some("limit")
    case f: Filter if uniqueKeySlice(f.condition) => Some("unique-key-slice")
    case f: Filter => xjBounded(f.child)
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation
        if h.location.rootPaths.headOption.exists(r => KRowArtifacts(r.getName)) =>
        Some(s"staged-K-row:${h.location.rootPaths.head.getName}")
      case _ => None
    }
    case _: LocalRelation => Some("plan-literals")
    case j: Join =>
      // a nested join's output is K-bounded only when that is provable
      // from the join's SHAPE: both inputs bounded (≤ K·K rows), or a
      // semi/anti join whose output is a subset of a bounded left side.
      // One bounded input alone proves nothing — (corpus ⋈ 1-row) is
      // corpus-sized, and treating it as bounded let an unflagged
      // O(N²) product through the fence (advice r18).
      import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
      j.joinType match {
        case LeftSemi | LeftAnti => xjBounded(j.left).map(w => s"semi($w)")
        case _ =>
          for (l <- xjBounded(j.left); r <- xjBounded(j.right))
            yield s"join($l×$r)"
      }
    case u: Union =>
      val cs = u.children.map(xjBounded)
      if (cs.forall(_.isDefined)) Some(cs.flatten.mkString("union(", "+", ")"))
      else None
    case o if o.children.size == 1 => xjBounded(o.children.head)
    case _ => None
  }

  test("sweep-gate registry: every flagged baseline and its bounded twin are registered queries") {
    SparkEntry.unboundedBaselineOf.foreach { case (baseline, twin) =>
      assert(SparkEntry.queries.contains(baseline),
        s"flagged baseline $baseline is not a registered query")
      assert(SparkEntry.queries.contains(twin),
        s"$baseline's bounded twin $twin is not a registered query")
      assert(baseline != twin, s"$baseline cannot be its own bounded twin")
    }
    SparkEntry.linearInDocs.foreach { q =>
      assert(SparkEntry.queries.contains(q),
        s"linear-in-docs flag $q is not a registered query")
    }
    assert(SparkEntry.unboundedBaselineOf.keySet.intersect(SparkEntry.linearInDocs).isEmpty,
      "a query cannot carry both sweep contracts")
  }

  test("every condition-free join has a provably K-bounded side") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val df = SparkEntry.queries(name)(spark, Sf)
      df.queryExecution.optimizedPlan.foreach {
        case j: Join if j.condition.isEmpty =>
          if (xjBounded(j.left).isEmpty && xjBounded(j.right).isEmpty)
            offenders += s"$name: ${frameSig(j.left)} × ${frameSig(j.right)}"
        case _ => ()
      }
    }
    assert(offenders.isEmpty,
      "condition-free joins with NO bounded side (bound one side or add a witness rule):\n" +
        offenders.mkString("\n"))
  }

  test("the cross-join fence catches an unwitnessed corpus × corpus join (red path)") {
    val e = graft.core.Tables.embeddings(spark, Sf).select("vec_id")
    val bad = e.crossJoin(e.withColumnRenamed("vec_id", "v2"))
    val unbounded = bad.queryExecution.optimizedPlan.collect {
      case j: Join if j.condition.isEmpty
        && xjBounded(j.left).isEmpty && xjBounded(j.right).isEmpty => j
    }
    assert(unbounded.nonEmpty,
      "the fence must flag a corpus × corpus cross join — the checker went blind")
  }

  test("the fence catches (corpus ⋈ scalar) × corpus — one bounded input does not bound a join") {
    // regression for the r18-advice hole: a 1-row side joined to a
    // corpus side yields up to corpus-many rows, so the nested join
    // must NOT count as a K-bound witness for the outer cross join
    val e = graft.core.Tables.embeddings(spark, Sf).select("vec_id")
    val scalarized = e.crossJoin(e.agg(org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("n"))) // corpus ⋈ 1-row: corpus-sized
    val bad = scalarized.crossJoin(e.withColumnRenamed("vec_id", "v2"))
    val unbounded = bad.queryExecution.optimizedPlan.collect {
      case j: Join if j.condition.isEmpty
        && xjBounded(j.left).isEmpty && xjBounded(j.right).isEmpty => j
    }
    assert(unbounded.nonEmpty,
      "the fence must flag (corpus ⋈ scalar) × corpus — the Join rule is unsound again")
  }

  test("every partitionless window rides an enumerated, provably bounded frame") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val df = SparkEntry.queries(name)(spark, Sf)
      val sigs = df.queryExecution.optimizedPlan.collect {
        case w: Window if w.partitionSpec.isEmpty => frameSig(w.child)
      }
      val allowed = BoundedWindowSites.getOrElse(name, Seq.empty).map(_._1)
      if (sigs.sorted != allowed.sorted)
        offenders += s"$name: got ${sigs.sorted.mkString("; ")} " +
          s"— allowed ${allowed.sorted.mkString("; ")}"
    }
    assert(offenders.isEmpty,
      "partitionless windows off the allowlist (add a bound witness or partition them):\n" +
        offenders.mkString("\n"))
  }
}
