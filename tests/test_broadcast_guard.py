"""Guard: every hard `F.broadcast(...)` hint in the engine is on a
frame that is bounded BY CONSTRUCTION, never on a data-dependent
aggregate whose size an adversarial distribution controls.

A forced broadcast OOMs the driver/executors when the estimate is
wrong; AQE's runtime-measured broadcast degrades to a shuffled hash
join instead. So the rule (round-5 verdict): hints are reserved for
frames whose row count is bounded by a constant, a config, or a LIMIT
— a 1-row aggregate, a k-row top-k, a codebook, one row per shuffle
partition, a small dim at committed scale with a documented cap. The
`sole_source_parts` at-risk list (parts with <=2 recent suppliers — a
filtered fact aggregate that a skewed catalog can blow up) was exactly
the anti-pattern; it now lets AQE decide (asserted below).

The sweep is a SNAPSHOT allowlist: adding a new `F.broadcast` site
requires adding its (file, function) here WITH a justification string
naming what bounds the broadcast side — the dict value is enforced by
`test_every_broadcast_allowlist_entry_documents_its_bound` (r08; the
r07 mining pair showed how a "contracted baseline" broadcast silently
becomes the only path when nothing records the bound). The historical
boundedness groups:

- 1-row / O(1) aggregates: stats denominators, drift norms, chi-square
  totals, quantile-edge frames (percentile_disc_edges, rfm_segments,
  quality_decile_lift, doc_length_cdf, customer_pareto offsets, ...)
- LIMIT / top-k heads: domain_lorenz top-50, bm25/tfidf vocab,
  heavy-hitter finalists, farthest-point seeds
- codebooks / models: pq & ivf centroids, bpe merge rules, int8
  scales, query vectors (constant per call), the hashed bigram LM
  (≤ ctx_buckets × word_buckets = 4096 cells by construction)
- dims bounded at committed scale AND joined as the build side of a
  star: nation/region/customer-slice/part-slice in the TPC-H shapes
  (these carry docstring caps; the catalog-scaling ones also have
  plan tests)
- one row per shuffle partition (cluster config): ranked_cumsum
  offsets, skew_report partition stats
"""

from __future__ import annotations

import ast
import pathlib

from pyspark.sql import functions as F

from redshift_etl_spark import queries as Q

from .conftest import SF_ORACLE

SRC_ROOT = pathlib.Path(__file__).resolve().parents[1] / "redshift_etl_spark"

ALLOWED = {
    ("operators/bpe.py", "_apply_rule"):
        "1-row frame: the single merge rule applied this round",
    ("operators/bpe.py", "bpe_encode"):
        "merge-rule mapping: <= n_merges rows by construction",
    ("operators/dedup.py", "contamination"):
        "benchmark shingle set — contracted small side (eval suites are constant-sized vs the corpus)",
    ("operators/dedup.py", "contamination_spans"):
        "benchmark window-gram hash set — same eval-suite bound as contamination",
    ("operators/distsort.py", "percentile_disc_edges"):
        "1-row total-count aggregate",
    ("operators/nbayes.py", "nb_fit"):
        "1-row aggregates (|V| count-distinct, n_train count) riding "
        "the plan instead of collected driver scalars (r14)",
    ("operators/distsort.py", "weighted_percentile_disc_edges"):
        "1-row total-weight aggregate",
    ("operators/distsort.py", "pr_curve"):
        "1-row positives/negatives totals",
    ("operators/distsort.py", "ranked_cumsums"):
        "one row per shuffle partition (cluster config)",
    ("operators/distsort.py", "ks_drift"):
        "1-row (n_a, n_b) totals",
    ("operators/dsir.py", "_delta_table"):
        "1-row totals folded into the 2^k-bucket hashed table",
    ("operators/dsir.py", "dsir_scores"):
        "hashed delta model: <= 2^hash-bucket cells by construction",
    ("operators/similarity.py", "hard_negatives"):
        "whole corpus by CONTRACT — exact baseline; fits one executor or use hard_negatives_bucketed",
    ("operators/similarity.py", "margin_mined_pairs"):
        "side B by CONTRACT — exact baseline; use margin_mined_pairs_bucketed at corpus scale",
    ("operators/funnel.py", "retention_cohorts"):
        "cohort-size frame: one row per cohort week (time-bounded)",
    ("operators/funnel.py", "transition_matrix"):
        "per-type totals: one row per event type (enum-bounded)",
    ("operators/graph.py", "_pagerank_loop"):
        "guarded: hint only when node count is under the documented small cap, else AQE decides",
    ("operators/heavy.py", "heavy_hitters"):
        "1-row total + <= d-1 Misra-Gries finalists (MG guarantee)",
    ("operators/ngramlm.py", "perplexity_scores"):
        "hashed bigram LM: <= ctx_buckets x word_buckets = 4096 cells by construction",
    ("operators/pq.py", "_assign"):
        "PQ codebook: m x k centroid rows, constant by construction",
    ("operators/pq.py", "ivf_pq_topk"):
        "codebooks (m x k) + per-query cell-tagged ADC tables — query set is the contracted small side",
    ("operators/pq.py", "pq_adc_topk"):
        "codebook (m x k) and per-query ADC tables — query set is the contracted small side",
    ("operators/quality.py", "_entropy"):
        "1-row grand-total frame",
    ("operators/quality.py", "audit"):
        "1-row orphan-count aggregate",
    ("operators/quality.py", "cramers_v"):
        "1-row totals frame (n, n_rows, n_cols)",
    ("operators/quality.py", "cohens_kappa"):
        "1-row totals and 1-row marginal-product (pe) frames",
    ("operators/quality.py", "mutual_information"):
        "1-row total and 1-row marginal-entropy scalars",
    ("operators/quality.py", "cmh_test"):
        "1-row variant-name frame (n_variants, variant_a, variant_b)",
    ("operators/heavy.py", "join_size_estimate"):
        "1-row true-join-size aggregate attached to the 1-row estimate",
    ("operators/heavy.py", "distinct_count_estimate"):
        "1-row true-NDV aggregate attached to the 1-row estimate",
    ("operators/heavy.py", "selectivity_estimate"):
        "1-row true-joint-count aggregate attached to the 1-row "
        "sample synopsis",
    ("operators/heavy.py", "distinct_set_estimate"):
        "1-row true union/intersection aggregate attached to the "
        "1-row sampled-set counts",
    ("operators/heavy.py", "histogram_selectivity"):
        "1-row true-count aggregate attached to the 1-row histogram "
        "estimate",
    ("operators/quality.py", "rank_sum_test"):
        "1-row (n_variants, min, max variant) frame attached to every "
        "row before the value-cell agg",
    ("operators/quality.py", "srm_check"):
        "1-row total-count frame attached to the bounded variant-key "
        "cells",
    ("operators/quality.py", "post_stratified_ab"):
        "two 1-row frames: (n_variants, min variant) and the "
        "population total, attached to bounded stratum cells",
    ("operators/quality.py", "diff_in_diff"):
        "1-row bounds frame (min/max variant+period) attached to the "
        "variant×period cells",
    ("operators/sampling.py", "bootstrap_mean_ci"):
        "1-row CI-bounds aggregate (two order statistics of B<=512 "
        "replica means) attached to the 1-row overall mean",
    ("streaming/heavyhitters.py", "topk_from_store"):
        "1-row n_batches scalar attached to the monitoring-state items",
    ("operators/funnel.py", "log_rank_test"):
        "1-row O/E/V sums frame attached to the 1-row totals",
    ("queries/llm_data.py", "mcnemar_lang_baseline"):
        "1-row modal-language baseline",
    ("operators/bloom.py", "bloom_prefilter"):
        "sc.broadcast of the packed bitmap: bounded by the max_bits config cap (16 MiB default), data-blind",
    ("operators/quality.py", "krippendorff_alpha"):
        "1-row scaled-disagreement (D_L) aggregate",
    ("operators/quality.py", "woe_iv"):
        "1-row good/bad totals frame",
    ("operators/quality.py", "per_class_prf"):
        "1-row macro-F1 totals over the bounded class frame",
    ("operators/quality.py", "psi_report"):
        "1-row side-totals frame and 1-row picounit psi-total frame",
    ("operators/sampling.py", "purged_time_split"):
        "k-row fold-span frame: bounded by the fold-count config",
    ("operators/distsort.py", "conformal_threshold"):
        "<=1-row picked order-statistic frame joined onto the 1-row totals",
    ("queries/llm_data.py", "conformal_lang_threshold"):
        "1-row conformal threshold frame attached to the test half",
    ("queries/relational.py", "contingency_residuals"):
        "1-row grand-total frame (margins join enum-bounded keys)",
    ("queries/relational.py", "benford_screen"):
        "1-row digit-total and 1-row chi-square-total frames",
    ("streaming/driftmon.py", "psi_from_store"):
        "1-row reference-total frame over the bounded histogram store",
    ("operators/nbayes.py", "nb_classify"):
        "class-constants frame: <=|C| rows by construction (the class count)",
    ("queries/llm_data.py", "nb_source_confusion"):
        "1-row accuracy totals folded onto the <=|C|^2 confusion cells",
    ("queries/llm_data.py", "minhash_recall_report"):
        "two 1-row count frames (candidates / hits) folded onto the 1-row truth count",
    ("operators/sampling.py", "mixture_sample"):
        "per-group quota edges: one row per mixture group (caller's weights)",
    ("operators/sampling.py", "temperature_mixture"):
        "1-row total-weight aggregate",
    ("queries/curation.py", "leakage_safe_split"):
        "1-row leak-count aggregate",
    ("operators/sampling.py", "token_budget_sample"):
        "per-group budget frame: one row per group (caller's budgets)",
    ("operators/sampling.py", "budget_waterfill"):
        "1-row totals and 1-row waterfill-level frames",
    ("operators/sampling.py", "winsorize"):
        "1-row (lo, hi) quantile bounds",
    ("operators/similarity.py", "ann_topk_lsh"):
        "query set — contracted small side of an ANN search",
    ("operators/similarity.py", "cosine_topk"):
        "query set — contracted small side by construction",
    ("operators/similarity.py", "farthest_point_sample"):
        "1-row newest-pick frame per round",
    ("operators/similarity.py", "int8_topk"):
        "query set — contracted small side",
    ("operators/skew.py", "skew_report"):
        "one row per shuffle partition + 1-row total (cluster config)",
    ("operators/text.py", "source_unigram_kl"):
        "1-row corpus-token-total fold",
    ("operators/text.py", "bigram_likelihood"):
        "default: model tables broadcast under the fits-an-executor contract (curated-corpus bigram counts) + a 1-row vocab scalar; broadcast_model=False drops the hints for unbounded web bigram sets (AQE skew-split takes over)",
    ("operators/text.py", "bm25_scores"):
        "1-row corpus stats + doc frequencies for the QUERY's terms only",
    ("operators/text.py", "encode_ids"):
        "token->id vocab: <= vocab_size rows by construction",
    ("operators/text.py", "tfidf_top_terms"):
        "default: vocab broadcast under the bounded-vocabulary contract (1e5-1e7 rows for curated corpora); hot_terms=N switches to the bounded top-N head + windowed tail for unbounded web vocabularies",
    ("operators/web.py", "blocklist_filter"):
        "caller-supplied deny list — small by contract",
    ("operators/web.py", "domain_share"):
        "1-row total aggregate",
    ("queries/agent_metrics.py", "_events_star"):
        "region (5) / nation (25) fixed by TPC-H; customer dim bounded at committed scale (documented cap, plan-tested)",
    ("queries/curation.py", "domain_lorenz"):
        "top-50 LIMIT head + 1-row totals",
    ("queries/curation.py", "fold_source_balance"):
        "1-row dof/total + enum-bounded fold/source marginals",
    ("queries/curation.py", "int8_quantize_stats"):
        "per-dimension stats: dims rows by construction",
    ("queries/curation.py", "length_trim"):
        "1-row (lo, hi) trim bounds",
    ("queries/llm_data.py", "ccnet_buckets"):
        "1-row percentile-edge frame",
    ("queries/llm_data.py", "curriculum_order"):
        "1-row percentile-edge frame",
    ("queries/llm_data.py", "corpus_datacard"):
        "1-row keep-share / top-source / top-lang scalars",
    ("queries/llm_data.py", "doc_length_cdf"):
        "1-row total aggregate",
    ("queries/llm_data.py", "doremi_weights"):
        "hashed bigram LM: 4096 cells by construction (see perplexity_scores)",
    ("queries/llm_data.py", "embedding_drift"):
        "per-period centroid frame: one row per period (time-bounded)",
    ("queries/llm_data.py", "quality_decile_lift"):
        "1-row decile-edge frame",
    ("queries/llm_data.py", "token_pmi_top"):
        "1-row unigram/bigram totals",
    ("queries/relational.py", "basket_part_pairs"):
        "1-row total aggregate",
    ("queries/relational.py", "customer_pareto"):
        "1-row total aggregate",
    ("queries/relational.py", "dormant_customers"):
        "1-row threshold scalar",
    ("queries/relational.py", "event_type_independence"):
        "1-row dof/total + enum-bounded marginals",
    ("queries/relational.py", "gap_fill_daily"):
        "calendar spine: one row per day (time-bounded) + per-(priority, day) daily agg",
    ("queries/relational.py", "large_orders"):
        "customer dim at committed scale (documented cap) + filtered survivor keys (plan-tested)",
    ("queries/relational.py", "rfm_segments"):
        "1-row percentile-edge frame",
    ("queries/relational.py", "shipping_priority"):
        "customer segment slice — dim bounded at committed scale (documented cap)",
    ("queries/relational.py", "small_qty_revenue"):
        "brand+container part slice — selective dim slice (documented cap)",
    ("queries/relational.py", "star_filter_project"):
        "part/supplier dims bounded at committed scale (documented cap)",
    ("queries/tpch_shapes.py", "idle_rich_customers"):
        "1-row segment-average scalar",
    ("queries/tpch_shapes.py", "market_share"):
        "nation (25 rows, fixed) + filtered supplier/part dim slices (documented caps)",
    ("queries/tpch_shapes.py", "min_cost_supplier"):
        "region-filtered supplier + type/size part slice (documented caps)",
    ("queries/tpch_shapes.py", "nation_balance_share"):
        "1-row total + nation dim (25 rows, fixed)",
    ("queries/tpch_shapes.py", "profit_by_nation_year"):
        "nation (25, fixed) + name-filtered part slice + supplier dim (documented caps)",
    ("queries/tpch_shapes.py", "promotion_suppliers"):
        "promo part slice + top-mover LIMIT head (documented caps)",
    ("queries/tpch_shapes.py", "regional_revenue"):
        "region-filtered nation (<= 25) + its supplier slice (documented caps)",
    ("queries/tpch_shapes.py", "returned_top_customers"):
        "nation dim (25 rows, fixed by TPC-H)",
    ("queries/tpch_shapes.py", "supplier_part_variety"):
        "size-filtered part slice + 1-row deficit scalar (documented caps)",
    ("queries/tpch_shapes.py", "top_supplier"):
        "supplier dim at committed scale + 1-row max scalar",
    ("queries/tpch_shapes.py", "volume_shipping"):
        "nation pair frame (25 rows, fixed) + supplier dim (documented cap)",
    ("queries/tpch_shapes.py", "waiting_suppliers"):
        "nation-filtered supplier slice (documented cap)",
    ("queries/llm_data.py", "mixture_drift"):
        "per-source weight frame (enum-bounded) + 1-row total",
    ("streaming/topk.py", "topk_similarity_stream"):
        "query set — contracted small side, constant per stream",
}


def _broadcast_sites(root: pathlib.Path = SRC_ROOT):
    sites = []
    for path in sorted(root.rglob("*.py")):
        rel = str(path.relative_to(root))
        tree = ast.parse(path.read_text())
        spans = [
            (n.lineno, n.end_lineno, n.name)
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "broadcast"
            ):
                best, fn = None, None
                for lo, hi, name in spans:
                    if lo <= node.lineno <= hi and (
                        best is None or (hi - lo) < best
                    ):
                        best, fn = hi - lo, name
                sites.append((rel, fn, node.lineno))
    return sites


def test_broadcast_hints_only_on_allowlisted_sites():
    offenders = [
        s for s in _broadcast_sites() if (s[0], s[1]) not in ALLOWED
    ]
    assert not offenders, (
        f"new F.broadcast hint outside the allowlist: {offenders} — "
        "either the frame is bounded by construction (add it here with "
        "a justification in the module docstring groups) or it is "
        "data-dependent and must let AQE decide."
    )


def test_broadcast_allowlist_has_no_dead_entries():
    live = {(s[0], s[1]) for s in _broadcast_sites()}
    dead = set(ALLOWED) - live
    assert not dead, f"stale allowlist entries: {dead}"


def test_sole_source_parts_has_no_forced_broadcast():
    # the named anti-pattern stays dead
    live = {
        (f, fn) for f, fn, _ in _broadcast_sites()
    }
    assert ("queries/relational.py", "sole_source_parts") not in live


def test_sole_source_parts_aqe_broadcasts_at_committed_sf(spark):
    """Dropping the hint must not cost the broadcast at committed SFs:
    AQE measures the post-filter at-risk list at the shuffle boundary
    and promotes the join to broadcast at runtime."""
    df = Q.all_queries()["sole_source_parts"](spark, SF_ORACLE)
    rows = df.collect()
    assert rows  # non-vacuous (r4 lesson)
    final_plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final_plan, final_plan


# --- bound-documentation sweep (r08) ---------------------------------------
# The mining pair (r07 verdict) showed how a "contracted baseline"
# broadcast silently becomes the only path: nothing forced anyone to
# write down WHAT bounds the broadcast side. The allowlist is now a
# dict whose value is that bound, and this sweep keeps every entry's
# justification non-empty and in recognizable bound vocabulary — an
# entry that cannot name its bound does not belong on the allowlist.

_BOUND_WORDS = (
    "bound",                       # "bounded by construction/…"
    "1-row", "one row", "one-row",  # scalar aggregates
    "row per", "rows by",          # per-key/enum/partition frames
    "top-", "limit", "head",       # LIMIT / top-k heads
    "codebook", "model", "vocab", "cells",  # trained artifacts
    "constant", "cap", "fixed",
    "per shuffle partition",
    "small", "slice", "scalar",
    "contract",                    # "contracted baseline: caller …"
    "query set", "queries",        # query side of an ANN search
    "guarded",                     # conditional hints
)


def test_every_broadcast_allowlist_entry_documents_its_bound():
    offenders = []
    for (rel, fn), why in sorted(ALLOWED.items()):
        low = (why or "").lower()
        if not low or not any(w in low for w in _BOUND_WORDS):
            offenders.append((rel, fn, why))
    assert not offenders, (
        "allowlist entries whose justification does not name what "
        f"bounds the broadcast side: {offenders} — state the bound "
        "(1-row aggregate, top-k head, codebook, contracted small "
        "side, …) in the ALLOWED dict value."
    )
