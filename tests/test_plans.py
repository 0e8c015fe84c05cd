"""Physical-plan posture checks — the scale contract, asserted.

These tests fail if a future change silently turns a broadcast join
into a shuffle join, un-prunes a scan, or drops a filter pushdown.
"""

from __future__ import annotations

from redshift_etl_spark import plans as P
from redshift_etl_spark import queries as Q

from .conftest import SF_ORACLE


def test_star_join_broadcasts_dims(spark):
    df = Q.all_queries()["agent_metrics"](spark, SF_ORACLE)
    assert P.has_broadcast_join(df)
    assert P.count_broadcasts(df) >= 3  # customer, nation, region


def test_star_filter_project_no_shuffle(spark):
    # project+filter+broadcast joins — nothing in this plan may shuffle
    df = Q.all_queries()["star_filter_project"](spark, SF_ORACLE)
    assert P.count_shuffles(df) == 0
    assert P.count_broadcasts(df) >= 2


def test_filter_pushdown_reaches_scan(spark):
    df = Q.all_queries()["pricing_summary"](spark, SF_ORACLE)
    pushed = " ".join(P.pushed_filters(df))
    assert "l_shipdate" in pushed


def test_column_pruning(spark):
    # lineitem has 11 columns; pricing reads 8, star projection reads 5
    df = Q.all_queries()["star_filter_project"](spark, SF_ORACLE)
    P.assert_scan_pruned(df, table_cols=11)
    scans = P.scanned_columns(df)
    li_scan = next(s for s in scans if "l_orderkey" in s)
    assert len(li_scan) == 5


def test_dedup_scan_reads_only_needed_columns(spark):
    df = Q.all_queries()["dedup_exact"](spark, SF_ORACLE)
    scans = P.scanned_columns(df)
    assert scans and all(set(s) <= {"doc_id", "text"} for s in scans)


def test_window_frames_single_pass(spark):
    # four frame expressions (running, trailing-7, first_value, lag) over
    # one (partition, order) spec must compile to ONE Window operator
    # behind ONE shuffle — not a shuffle or sort per frame
    df = Q.all_queries()["window_frames"](spark, SF_ORACLE)
    assert P.tree_count(df, "Window") == 1
    assert P.tree_count(df, "Exchange") - P.tree_count(df, "BroadcastExchange") == 1


def test_shipping_priority_posture(spark):
    # dim filter broadcasts; date filters reach both scans; the LIMIT
    # plans as TakeOrderedAndProject (no global sort materialization)
    df = Q.all_queries()["shipping_priority"](spark, SF_ORACLE)
    assert P.has_broadcast_join(df)
    assert "TakeOrderedAndProject" in P.plan_tree(df)
    pushed = " ".join(P.pushed_filters(df))
    assert "o_orderdate" in pushed and "l_shipdate" in pushed


def test_stratified_sample_data_path_shuffle_free(spark):
    # the group-sizes join carries NO broadcast hint (group cardinality
    # is caller-controlled; a forced hint would OOM at millions of
    # groups) — so the posture is a runtime decision: in the FINAL
    # adaptive plan AQE must have converted the join to broadcast, and
    # the full-data path never shuffles (the oracle's COUNT() OVER
    # would shuffle every row)
    df = Q.all_queries()["stratified_sample"](spark, SF_ORACLE)
    tree = P.final_plan_tree(df)
    assert tree.count("BroadcastHashJoin") == 1
    assert tree.count("Window") == 0


def test_text_clean_pure_projection(spark):
    df = Q.all_queries()["text_clean"](spark, SF_ORACLE)
    assert P.count_shuffles(df) == 0


def test_exists_priority_semi_join(spark):
    # EXISTS compiles to a semi join — probe rows never duplicate, so
    # the plan needs no distinct before the count
    tree = P.plan_tree(Q.all_queries()["exists_priority"](spark, SF_ORACLE))
    assert "LeftSemi" in tree


def test_large_orders_broadcasts_survivors(spark):
    # the HAVING survivor set and the customer dim both broadcast; the
    # only real shuffle is the lineitem per-order aggregate
    df = Q.all_queries()["large_orders"](spark, SF_ORACLE)
    assert P.tree_count(df, "BroadcastHashJoin") == 2
    assert P.tree_count(df, "Exchange") - P.tree_count(df, "BroadcastExchange") <= 1


def test_dormant_customers_anti_join(spark):
    tree = P.plan_tree(Q.all_queries()["dormant_customers"](spark, SF_ORACLE))
    assert "LeftAnti" in tree
    # the scalar threshold rides a broadcast nested loop over ONE row,
    # never a shuffle of the customer side
    assert "BroadcastNestedLoopJoin" in tree


def test_decontaminate_broadcasts_benchmark(spark):
    # the benchmark shingle set broadcasts; corpus shingles are a
    # map-side probe (no shuffle of the exploded corpus)
    df = Q.all_queries()["decontaminate"](spark, SF_ORACLE)
    assert P.tree_count(df, "BroadcastHashJoin") == 1


def test_sequence_packing_single_shuffle(spark):
    # one window cumsum on the pack key, then an agg on the same key —
    # at most two real exchanges, no global sort
    df = Q.all_queries()["sequence_packing"](spark, SF_ORACLE)
    assert P.tree_count(df, "Window") == 1
    assert P.tree_count(df, "Exchange") - P.tree_count(df, "BroadcastExchange") <= 2
    tree = P.plan_tree(df)
    assert "rangepartitioning" not in tree.lower()


def test_tfidf_broadcasts_vocab(spark):
    # default plan: doc-frequency and corpus-size side inputs
    # broadcast; the data path shuffles only for the (doc,term) agg
    # and the per-doc window (bounded-vocabulary contract)
    df = Q.all_queries()["tfidf_top_terms"](spark, SF_ORACLE)
    assert P.tree_count(df, "BroadcastExchange") >= 2


def test_tfidf_hybrid_skew_split_plan_and_equivalence(spark):
    # hot_terms=N (the unbounded-vocabulary path): a bounded
    # TakeOrdered head broadcasts onto TF; the cold tail anti-joins
    # that head and gets its df from a term-partitioned count window
    # over the cold rows (largest partition bounded by the head's
    # minimum df). No full-vocabulary broadcast anywhere — and the
    # rows are identical to the default plan's.
    from redshift_etl_spark.operators.text import tfidf_top_terms
    from redshift_etl_spark.queries.tables import load

    docs = load(spark, SF_ORACLE, "documents")
    hyb = tfidf_top_terms(docs, "doc_id", "text", k=3, hot_terms=50)
    plan = P.physical_plan(hyb)
    assert "TakeOrderedAndProject" in plan  # the bounded hot head
    assert "windowspecdefinition(term" in plan  # tail df via window
    default = tfidf_top_terms(docs, "doc_id", "text", k=3)
    assert sorted(map(tuple, hyb.collect())) == sorted(
        map(tuple, default.collect())
    )


def test_zscore_moments_via_hash_agg_not_window(spark):
    # per-key moments come from a partial-aggregating hash agg, never a
    # COUNT/SUM() OVER window (which would shuffle + sort every event
    # row); the join strategy itself is left to size estimation —
    # broadcast at small SF, shuffle join once stats outgrow the
    # threshold at scale (no hint pins it either way)
    df = Q.all_queries()["zscore_anomalies"](spark, SF_ORACLE)
    assert P.tree_count(df, "Window") == 0
    assert P.tree_count(df, "HashAggregate") >= 2  # partial + final


def test_repetition_stats_pure_projection(spark):
    # Gopher-style repetition signals are a per-row projection — nothing
    # in this plan may shuffle, and only (doc_id, text) may be scanned
    df = Q.all_queries()["repetition_stats"](spark, SF_ORACLE)
    assert P.count_shuffles(df) == 0
    scans = P.scanned_columns(df)
    assert scans and all(set(s) <= {"doc_id", "text"} for s in scans)


def test_pii_redact_pure_projection(spark):
    df = Q.all_queries()["pii_redact"](spark, SF_ORACLE)
    assert P.count_shuffles(df) == 0


def test_rollup_cascade_reuses_levels(spark):
    # hypertable contract: coarser levels must read the PINNED previous
    # rollup (InMemoryTableScan), not re-aggregate raw — without the
    # pin, Catalyst plans one full raw scan per resolution (verified:
    # no exchange reuse across the union branches)
    df = Q.all_queries()["rollup_cascade"](spark, SF_ORACLE)
    tree = P.plan_tree(df)
    assert tree.count("InMemoryTableScan") >= 2
    spark.catalog.clearCache()


def test_no_cross_product_in_scale_path_entry_points(spark):
    # every dedup / bucketed-ANN entry point must plan as hash
    # equi-joins — a CartesianProduct or BroadcastNestedLoopJoin here is
    # the O(n²) failure mode that kills the operator at 100 TB. The one
    # deliberate exception is the exact brute-force baseline
    # `ann_cosine_topk`, which is all-pairs BY DEFINITION and exists
    # only as the recall oracle for the LSH/IVF scale paths.
    queries = Q.all_queries()
    scale_path = [
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_jaccard",
        "dedup_simhash",
        "dedup_simhash_pairs",
        "decontaminate",
        "decontaminate_semantic",
        "decontaminate_spans",
        "semdedup",
        "ann_topk_lsh",
        "ann_topk_ivf",
        "dedup_embedding_cosine",
        "lsh_bucketed_cosine",
        "fuzzy_pairs_lev1",
        "span_dedup",
        "dedup_jaccard_prefix",
    ]
    # ann_topk_ivf's coarse quantization joins every vector against the
    # BROADCAST K-row codebook with no key — physically a
    # BroadcastNestedLoopJoin, but the nested side is a constant-size
    # codebook (a bounded fan-out of K scores per vector), not data².
    # It still must never plan a CartesianProduct.
    bnlj_codebook_ok = {"ann_topk_ivf"}
    bad = []
    for name in scale_path:
        assert name in queries, f"unknown catalog query: {name}"
        df = queries[name](spark, SF_ORACLE)
        tree = P.plan_tree(df)
        if "CartesianProduct" in tree:
            bad.append(name)
        elif "BroadcastNestedLoopJoin" in tree and name not in bnlj_codebook_ok:
            bad.append(name)
    assert not bad, f"cross-product join planned in: {bad}"


def test_mixture_sample_data_path_shuffle_free(spark):
    # per-source counts are the only real exchange (tiny agg); the edges
    # come back via BroadcastExchange so the full-data path never
    # shuffles and the keep-filter is a map-side projection
    df = Q.all_queries()["mixture_sample"](spark, SF_ORACLE)
    assert P.tree_count(df, "Exchange") - P.tree_count(df, "BroadcastExchange") <= 1
    assert P.tree_count(df, "BroadcastHashJoin") >= 1
    assert P.tree_count(df, "Window") == 0


def test_winsorize_data_path_shuffle_free(spark):
    # the bounds join carries NO broadcast hint (per-key frames are
    # unbounded in key cardinality); AQE must convert it to broadcast
    # at runtime when the frame is actually small, so in the FINAL
    # adaptive plan the event stream itself never shuffles
    df = Q.all_queries()["winsorize_events"](spark, SF_ORACLE)
    assert P.final_tree_count(df, "BroadcastHashJoin") == 1


def test_linear_trend_single_key_shuffle(spark):
    # one hash exchange on the keys feeds BOTH the window-min (per-key
    # first epoch) and the moment aggregation — no join, no broadcast of
    # a per-key frame (the earlier formulation broadcast the min frame,
    # which OOMs at millions of keys)
    df = Q.all_queries()["linear_trend"](spark, SF_ORACLE)
    assert P.tree_count(df, "Exchange") - P.tree_count(df, "BroadcastExchange") <= 1
    assert P.tree_count(df, "BroadcastExchange") == 0
    assert P.tree_count(df, "Window") == 1
    tree = P.plan_tree(df)
    assert "Join" not in tree


def test_cdc_apply_two_shuffles_max(spark):
    # one window over the (small) feed + the anti-join against the
    # target; the target table is never window-sorted
    df = Q.all_queries()["cdc_apply"](spark, SF_ORACLE)
    assert P.tree_count(df, "Window") == 1
    tree = P.plan_tree(df)
    assert "LeftAnti" in tree


def test_table_fingerprint_single_scan(spark):
    df = Q.all_queries()["table_fingerprint"](spark, SF_ORACLE)
    tree = P.plan_tree(df)
    assert tree.count("Scan parquet") == 1
    assert P.tree_count(df, "Exchange") - P.tree_count(df, "BroadcastExchange") <= 1


def test_lsh_bucketed_cosine_no_full_table_replication(spark):
    """The bucketed embedding-dedup must tile per (band, bucket): a
    constant-fan-out explode pair (bands, then blocks) feeding ONE
    grouped-sweep shuffle plus the pair-dedup — and never a cross
    product or a full-table block-pair replication (which would show as
    a join of the table against itself outside the grouped kernel).
    Blocks are sized from the data, so the bucket sizes come from a
    window count over the bucket: one more exchange before the sweep."""
    df = Q.all_queries()["lsh_bucketed_cosine"](spark, SF_ORACLE)
    tree = P.plan_tree(df)
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert "Join" not in tree  # candidate routing is explode+groupBy
    # r13: band signatures+explode moved into ONE Arrow pass
    # (MapInPandas) — the only remaining Generate is the block
    # fan-out; exchanges are the bucket-size window, the grouped sweep
    # and the pair dedup
    assert P.tree_count(df, "MapInPandas") == 1
    assert P.tree_count(df, "Generate") == 1
    assert P.tree_count(df, "FlatMapGroupsInPandas") == 1
    assert P.tree_count(df, "Window") == 1
    assert P.tree_count(df, "Exchange") == 3


def test_boilerplate_ngrams_bounded_topk(spark):
    # corpus-wide top-k must plan as TakeOrderedAndProject over the
    # aggregated n-gram frame — never a global sort materialization
    df = Q.all_queries()["boilerplate_ngrams"](spark, SF_ORACLE)
    tree = P.plan_tree(df)
    assert "TakeOrderedAndProject" in tree
    assert "rangepartitioning" not in tree.lower()


def test_training_shuffle_single_bucket_shuffle(spark):
    # one hash exchange on the shuffle bucket feeds the per-bucket rank
    # window; no global sort, no join
    df = Q.all_queries()["training_shuffle_order"](spark, SF_ORACLE)
    assert P.tree_count(df, "Exchange") == 1
    assert P.tree_count(df, "Window") == 1
    assert "rangepartitioning" not in P.plan_tree(df).lower()


def test_source_quality_report_expands_only_reduced_frame(spark):
    # the dual COUNT(DISTINCT) Expand must sit ABOVE the grain
    # reduction: plan order is scan → (source,lang,fp) hash agg →
    # Expand → per-source agg. An Expand directly over the scan would
    # triple the full corpus shuffle at scale.
    df = Q.all_queries()["source_quality_report"](spark, SF_ORACLE)
    tree = P.plan_tree(df)
    assert "Expand" in tree
    scan_line = max(
        i for i, ln in enumerate(tree.splitlines()) if "Scan parquet" in ln
    )
    expand_line = max(
        i for i, ln in enumerate(tree.splitlines()) if "Expand" in ln
    )
    agg_lines = [
        i for i, ln in enumerate(tree.splitlines()) if "HashAggregate" in ln
    ]
    # formatted tree prints top-down: at least one HashAggregate lies
    # BETWEEN the Expand and the scan (the grain reduction)
    assert any(expand_line < a < scan_line for a in agg_lines)


def test_pq_adc_no_cartesian_and_broadcasts(spark):
    """ADC search: query lookup table broadcast, never a cross product;
    the corpus side carries codes, not raw vectors."""
    df = Q.all_queries()["pq_adc_topk"](spark, SF_ORACLE)
    assert not P.has_cross_product(df)
    assert P.has_broadcast_join(df)


def test_heavy_hitters_stream_never_shuffles_items(spark):
    """The MG candidate pass is mapInPandas (no Exchange below it); the
    only exchanges serve the tiny candidate recount. The single BNLJ is
    the deliberate 1-row broadcast scalar-total cross join (the
    dormant_customers pattern), not an all-pairs join."""
    df = Q.all_queries()["heavy_hitter_tokens"](spark, SF_ORACLE)
    plan = P.plan_tree(df)
    assert P.tree_count(df, "BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan  # candidate recount is a semi-join
    assert "MapInPandas" in plan
    # the candidate stage reads straight off the scan: no Exchange in
    # the segment between the scan and MapInPandas
    below = plan[plan.index("MapInPandas"):]
    first_scan = below.index("Scan parquet")
    assert "Exchange" not in below[:first_scan]


def test_pagerank_no_cartesian_bounded_exchanges(spark):
    df = Q.all_queries()["trade_pagerank"](spark, SF_ORACLE)
    assert not P.has_cross_product(df)


def test_rolling_quantiles_single_agg_chain(spark):
    """Replication windowing: no range-window over raw rows — the only
    window operates over <= bins rows per (key, day)."""
    df = Q.all_queries()["rolling_value_quantiles"](spark, SF_ORACLE)
    assert not P.has_cross_product(df)
    # raw events reduce to (type, day, bin) BEFORE any window: the
    # first aggregate's grouping happens below the Window node
    plan = P.plan_tree(df)
    assert plan.index("HashAggregate") < plan.index("Window")


def test_substring_dedup_no_token_grain_shuffle(spark):
    # doc spread + gram-hash agg + hot-flag join + per-doc start
    # collect are the ONLY exchanges; the rebuild is an in-row
    # projection. No cross product; the gram explode runs ONCE inside
    # the persisted frame (r13: both consumers read the cache, and the
    # explode sits above the cluster-width spread exchange), so any
    # Generate occurrences in the tree belong to that one cached plan.
    df = Q.all_queries()["substring_dedup"](spark, SF_ORACLE)
    assert not P.has_cross_product(df)
    # tree_count (the cached gram plan prints under BOTH consumers, so
    # its spread exchange shows twice): spread ×2 prints + hot agg +
    # per-doc collect — still no token-grain shuffle anywhere
    # EXACT count (advisor r13: inequalities let accidental extra
    # shuffles creep in unseen; the plan is deterministic at SF_ORACLE)
    assert P.tree_count(df, "Exchange") == 4, P.physical_plan(df)
    tree = P.plan_tree(df)
    assert "InMemoryRelation" in tree  # grams evaluated once, cached


def test_bm25_never_cartesian_and_topk_bounded(spark):
    # never a CartesianProduct: the only nested-loop joins are the
    # deliberate 1-row corpus-stats broadcast cross joins (same shape
    # as dormant_customers' scalar subquery); the final top-k is a
    # bounded TakeOrdered/limit, not a global sort
    df = Q.all_queries()["bm25_search"](spark, SF_ORACLE)
    plan = P.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "TakeOrderedAndProject" in plan or "GlobalLimit" in plan
    assert P.count_broadcasts(df) >= 2  # corpus stats + per-term df


def test_ann_topk_int8_broadcast_brute_force_shape(spark):
    # the compressed-domain search IS the brute-force baseline: query
    # codes broadcast against the corpus scan with a != predicate —
    # that plans as BroadcastNestedLoopJoin by construction (identical
    # to ann_cosine_topk's float shape); corpus side must never shuffle
    # before the per-query top-k window
    df = Q.all_queries()["ann_topk_int8"](spark, SF_ORACLE)
    plan = P.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert P.count_broadcasts(df) >= 1
    assert P.count_shuffles(df) <= 2, plan  # top-k window + encode agg


def test_web_corpus_prep_bounded_shuffles(spark):
    # scan-fused projections; canonical_url rank window + domain-cap
    # rank window + final agg (count-distinct adds its two-phase pair)
    df = Q.all_queries()["web_corpus_prep"](spark, SF_ORACLE)
    assert not P.has_cross_product(df)
    assert P.count_shuffles(df) <= 6, P.physical_plan(df)


def test_basket_pairs_orderkey_local_no_cartesian(spark):
    # pair generation must join on the order key (bounded per order),
    # never as an all-pairs product over the part catalog; the only
    # nested loop allowed is the deliberate 1-row n_orders broadcast
    df = Q.all_queries()["basket_part_pairs"](spark, SF_ORACLE)
    plan = P.physical_plan(df)
    assert "CartesianProduct" not in plan
    # the plan string repeats the operator in AQE's initial+final trees
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "TakeOrderedAndProject" in plan or "GlobalLimit" in plan


def test_time_decayed_revenue_no_libm_pow(spark):
    # the decay must compile to shiftleft, not POWER/EXP
    df = Q.all_queries()["time_decayed_revenue"](spark, SF_ORACLE)
    plan = P.physical_plan(df).lower()
    assert "shiftleft" in plan
    assert "power(" not in plan and "exp(" not in plan


def test_zorder_curve_pure_projection_data_path(spark):
    # z-value is div/mod arithmetic over the scan: after the bounded
    # stats pass (separate job), the data path must not shuffle
    df = Q.all_queries()["zorder_curve"](spark, SF_ORACLE)
    assert P.count_shuffles(df) == 0
    # and the scan reads only the participating columns
    scans = P.scanned_columns(df)
    assert scans and all(
        set(s) <= {"o_orderkey", "o_custkey", "o_totalprice"} for s in scans
    )


def test_pack_sequences_no_single_task_window(spark):
    # the tape offsets must come from ranked_cumsum's partitioned
    # windows, never an unpartitioned global window
    df = Q.all_queries()["pack_sequences"](spark, SF_ORACLE)
    plan = P.physical_plan(df)
    assert "windowspecdefinition(__pid" in plan
    # the range-staged frame is localCheckpointed (lineage truncated),
    # so the exchange itself is not visible here; the __pid-partitioned
    # windowspec above is the contract — a global-order window would
    # show an empty partition spec instead


def test_attribution_join_equi_not_nested_loop(spark):
    # the interval condition rides an equi key: the plan must be a
    # hash/merge join with the range as residual, never BNLJ/Cartesian
    df = Q.all_queries()["attribution_join"](spark, SF_ORACLE)
    plan = P.physical_plan(df)
    assert "BroadcastNestedLoop" not in plan
    assert "Cartesian" not in plan


def test_mv_incremental_fold_is_two_level_agg(spark):
    # delta fold = aggregate + merge aggregate; no joins, no windows
    df = Q.all_queries()["mv_incremental"](spark, SF_ORACLE)
    plan = P.final_plan_tree(df)
    assert "Join" not in plan and "Window" not in plan


def test_hard_negatives_single_exchange_feeds_both_windows(spark):
    # r13 shape: the positive ceiling is a per-anchor AGGREGATE joined
    # back onto the negatives (no unordered max window, no broadcast
    # cross score), so exactly ONE window remains — the rank — and its
    # k-limit compiles to a WindowGroupLimit that prunes before the
    # final presentation sort. Exchanges: negatives-side a_id, ceiling
    # agg, presentation sort. The pair scores come from the blocked
    # Arrow sweep (FlatMapGroupsInPandas), never a nested-loop cross.
    df = Q.all_queries()["hard_negative_mining"](spark, SF_ORACLE)
    # tree_count, not count_shuffles: the formatted detail section
    # repeats node names, which doubles nonzero counts
    # EXACT count (advisor r13: pin the deterministic plan shape)
    assert P.tree_count(df, "Exchange") == 3
    assert P.tree_count(df, "Window") == 1
    assert P.tree_count(df, "WindowGroupLimit") >= 1
    assert P.tree_count(df, "BroadcastNestedLoopJoin") == 0
    # the sweep is pinned by localCheckpoint at construction, so the
    # plan reads its materialized RDD (both union branches, one sweep)
    assert "ExistingRDD" in P.plan_tree(df)


def test_idle_rich_customers_decorrelates(spark):
    # Q22 shape: the scalar average is a broadcast 1-row fold, NOT
    # EXISTS is a left-anti join, and the recency predicate reaches
    # the orders scan
    df = Q.all_queries()["idle_rich_customers"](spark, SF_ORACLE)
    plan = P.physical_plan(df)
    assert "LeftAnti" in plan
    assert "o_orderdate" in " ".join(P.pushed_filters(df))


def test_bucketed_mining_no_full_table_broadcast_or_cross(spark):
    # the 100 TB mining path must carry NO broadcast cross score and
    # no Cartesian anywhere: candidates come from bucket-key joins,
    # labels from id hash joins (AQE may size-broadcast at sf0.01 —
    # that is a runtime choice, not a forced hint; the guard sweep
    # asserts the functions carry no F.broadcast site at all)
    for name in ("hard_negatives_bucketed", "bitext_margin_bucketed"):
        df = Q.all_queries()[name](spark, SF_ORACLE)
        plan = P.physical_plan(df)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "Cartesian" not in plan, name
        # the exact baselines' O(N*M) signature is a BNLJ over a
        # broadcast of the whole other side; the bucketed plan's only
        # quadratic work is inside per-bucket tiles
        assert "FlatMapGroupsInPandas" in plan or "SortMergeJoin" in plan, name
