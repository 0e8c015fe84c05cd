"""Regenerate PLANS.md — formatted physical-plan trees of the flagship
queries, with the scale-posture note each plan is asserted against in
tests/test_plans*.py. Run after intentional plan changes and re-read
the diff:

    python scripts/dump_plans.py
"""

from __future__ import annotations

import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

NOTES = {
    "agent_metrics": (
        "flagship star join: scan -> 3 broadcast dim joins -> ONE "
        "hash-agg shuffle; collect_set avoids an Expand for the dual "
        "distinct"
    ),
    "pricing_summary": (
        "TPC-H Q1 shape: pushed l_shipdate filter, 8-column pruned "
        "scan, single partial+final hash agg"
    ),
    "scd1_merge": (
        "SCD1 merge: one key shuffle feeds row_number dedupe; "
        "anti-join + union, no second exchange"
    ),
    "dedup_minhash_lsh": (
        "shingle explode -> signature agg -> per-band equi-joins "
        "(bucketed, no cross product)"
    ),
    "lsh_bucketed_cosine": (
        "banded LSH (r13): Arrow banding pass (MapInPandas) -> block "
        "Generate -> ONE grouped-sweep exchange -> Arrow kernel -> "
        "pair-dedup agg; no joins"
    ),
    "embedding_dedup_clusters": (
        "same sweep + pinned-edge connected components (fixed-point "
        "rounds over checkpointed edges)"
    ),
    "winsorize_events": (
        "per-key bounds join carries NO broadcast hint; AQE converts "
        "at runtime (see final plan note)"
    ),
    "pack_sequences": (
        "exact concat-and-chunk packing: ranged (localCheckpointed) "
        "tape via ranked_cumsum partitioned windows -> boundary "
        "Generate; no global-order window"
    ),
    "zorder_curve": (
        "Morton layout key: pruned 3-column scan -> pure div/mod "
        "projection; zero shuffles in the data path (stats pass is a "
        "separate bounded job)"
    ),
    "cdc_apply": (
        "CDC collapse: ONE window over the feed + distinct-key "
        "anti-join against the target; target rows never sorted"
    ),
    "mv_incremental": (
        "incremental MV: delta aggregates union-merged into the view "
        "via a second hash agg; no joins, no windows"
    ),
    "attribution_join": (
        "interval attribution: equi key carries the range condition "
        "as join residual - hash join, never BNLJ/Cartesian"
    ),
    "incremental_near_dups": (
        "index probe: increment signatures -> equi-join on "
        "(band_no, band_hash) against the stored index; est_jaccard "
        "from carried signatures, no text join"
    ),
    "chat_sessions": (
        "session-cut conversation assembly: per-user lag+cumsum "
        "windows -> one hash agg with in-row array_sort render; no "
        "global window"
    ),
    "split_leakage_audit": (
        "near-dup split audit: banded-LSH equi-joins (no cross "
        "product) + two split joins; cross-split filter"
    ),
    "mixture_drift": (
        "token-share drift: one hash agg -> 1-row total broadcast -> "
        "10-row weights broadcast; data path scans once"
    ),
    "dsir_select": (
        "64-row model agg (map-side combined) -> broadcast delta join "
        "on the token stream -> one doc-keyed hash agg -> "
        "TakeOrderedAndProject Gumbel-top-k"
    ),
    "preference_pairs": (
        "top-2 rank window and pivot agg share ONE group-key "
        "exchange; no second shuffle"
    ),
    "ks_drift": (
        "distinct-value counts agg -> one range exchange (both "
        "cumsums share it) -> integer cross-diff argmax top-1"
    ),
    "ccnet_perplexity": (
        "zero-shuffle bigram transform -> 4096-row model agg "
        "(map-side combined) -> broadcast model join -> one "
        "doc-keyed hash agg -> TakeOrderedAndProject"
    ),
    "bitext_margin_pairs": (
        "contracted exact baseline: broadcast side B cross scores, "
        "partitioned rank windows, broadcast denominators; LSH-"
        "bucketed candidates at scale"
    ),
    "training_shuffle_order": (
        "one bucket exchange + per-bucket rank window; no global sort"
    ),
    "source_quality_report": (
        "two-level agg: (source,lang,fp) grain reduction BELOW the "
        "dual-distinct Expand"
    ),
    "ann_topk_ivf": (
        "train-once codebook (committed fixture) -> broadcast "
        "assignment -> probe-one-bucket -> per-query top-k"
    ),
    "heavy_hitter_tokens": (
        "MG candidate pass (mapInPandas, no shuffle) -> broadcast "
        "semi-join recount: the token stream itself is never exchanged"
    ),
    "trade_pagerank": (
        "3 iterations of join+integer-agg; rank frame joins edges "
        "(broadcast on the measured-small path), the loop-invariant "
        "edge frame is dst-partitioned once so each round's agg reuses "
        "it (r13), localCheckpoint bounds plan depth"
    ),
    "value_quantile_rollup": (
        "bin projection -> one hash agg to (key,day,bin) -> tiny "
        "merge agg + windowed cumsum over <=bins rows per key"
    ),
    "substring_dedup": (
        "ExactSubstr: gram explode -> hot-hash agg -> broadcast "
        "flag join -> per-doc start arrays -> IN-ROW rebuild; no "
        "token-grain shuffle anywhere"
    ),
    "bm25_search": (
        "BM25: explode filtered to query terms BEFORE the shuffle; "
        "corpus stats + df broadcast; TakeOrderedAndProject top-k"
    ),
    "web_corpus_prep": (
        "full curation pipeline in one plan: scan-fused projections "
        "(URL parse/canon/blocklist/length), two rank-window shuffles "
        "(canonical_url dedup, domain cap), one final agg"
    ),
    "ann_topk_int8": (
        "compressed-domain ANN: map-only symmetric int8 encode, "
        "query codes broadcast, integer-dot scoring, one per-query "
        "top-k window"
    ),
    "pq_adc_topk": (
        "train-once codebook fixture -> encode (one Arrow map pass "
        "over the collected codebook) -> ADC: exploded codes join the broadcast "
        "m*k query table, integer sums, bounded top-k window"
    ),
    "hard_negatives_bucketed": (
        "100 TB mining path: banded-LSH candidate tiles (grouped "
        "sweep, no BNLJ/Cartesian) -> mirrored pairs persist -> two "
        "id hash joins for labels -> ONE a_id exchange shared by the "
        "ceiling and rank windows"
    ),
    "bitext_margin_bucketed": (
        "bipartite banded-LSH: band-bucket shuffle equi-join (AQE "
        "skew-splittable) -> persisted 3-col candidate frame -> "
        "margin stage windows/joins; no full-table broadcast"
    ),
    "token_budget_waterfill": (
        "exact water-filling: source hash agg -> ranked_cumsum range "
        "exchange over PER-SOURCE counts -> 1-row level broadcasts -> "
        "pure projection"
    ),
    "ivf_pq_topk": (
        "IVF-PQ composite: cell-keyed ADC join (s, code, cell) -> "
        "per-query work is cell-sized codes; both index parts are "
        "train-once fixtures"
    ),
    "corpus_quality_trend": (
        "zero-shuffle Gopher projection with epoch carried -> one "
        "epoch hash agg -> lag window over the 8-row frame (bounded "
        "by epoch count)"
    ),
    "semdedup": (
        "adaptive-k SemDeDup, index from committed fixtures: cells "
        "join corpus (no training in the plan) -> cluster-keyed "
        "self-join (tiles ~target-bounded by k = ceil(n/125)) -> "
        "checkpointed connected components -> one group agg; "
        "centroid join carries NO broadcast hint (k ∝ n — AQE "
        "decides)"
    ),
    "decontaminate_semantic": (
        "bipartite banded-LSH: constant-fan-out Generates on both "
        "sides -> ONE bucket equi-join -> corpus-id hash agg; no "
        "broadcast hint, no BNLJ/Cartesian (plan-tested)"
    ),
    "leakage_free_split": (
        "jaccard pairs -> pinned-edge connected components -> one "
        "left key join back to the corpus -> pure-projection "
        "md5-bucket split (cluster = the correlation unit)"
    ),
    "stratified_split_exact": (
        "ONE stratum exchange carrying rank window + stratum count; "
        "split boundaries are bigint div projections"
    ),
    "vocab_coverage_curve": (
        "term hash agg (map-side combined) -> ranked_cumsum range "
        "exchange over the VOCABULARY -> 1-row conditional fold -> "
        "|V|-literal stack unpivot"
    ),
    "phrase_search": (
        "positional adjacency: posexplode filtered to the phrase's "
        "own postings -> one (doc, start) hash join per extra token "
        "-> doc hash agg; no window, no regex on the hot path"
    ),
    "padding_efficiency": (
        "two strategies x (ranked_cumsum range exchange -> bigint-div "
        "batch ids -> batch hash agg -> 1-row fold); union of two "
        "1-row frames"
    ),
    "decontaminate_spans": (
        "benchmark window-gram md5s distinct'd + BROADCAST -> corpus "
        "sliding-gram slide is a map-only probe (no corpus-gram "
        "shuffle) -> doc-grain flagged-start agg -> in-row maximal-"
        "span merge -> doc-grain token rejoin"
    ),
    "ann_index_probe": (
        "search-only over the committed streaming-maintained store: "
        "broadcast adaptive-codebook assignment of the 5-query set, "
        "ONE cluster equi-join against ~125-row cells, bounded "
        "per-query rank window"
    ),
    "ann_index_recall": (
        "cell-pruned probe (bounded cells) LEFT JOIN exact top-k "
        "truth (query-bounded, 5 queries x k rows) -> per-query "
        "hit-count agg; recall numbers hash-match the oracle"
    ),
    "contamination_report": (
        "span probe (map-only broadcast) -> doc-grain leaked sums -> "
        "one left join onto per-doc token counts -> 20-row source agg"
    ),
    "bloom_prefilter_join": (
        "Bloom runtime filter: config-bounded bitmap (built "
        "separately: explode k positions -> map-side-combined bit_or "
        "on pos>>6, driver collects <= m/64 words) -> fact scan -> "
        "map-side ArrowEval bit test (NO exchange of its own) -> "
        "exact join sees only true matches + fpp leakage"
    ),
    "krippendorff_lang": (
        "3 rating projections union -> item-keyed self-join (<= "
        "R(R-1) pair rows per item) -> exact-integer D_L / margin "
        "aggs -> 1-row alpha fold"
    ),
    "woe_iv_quantity": (
        "ONE map-side-combined hash agg to 5 bins -> 1-row totals "
        "broadcast -> ln/share projection"
    ),
    "purged_time_split": (
        "one ranked range exchange (exact-count fold cut) -> k-row "
        "span agg -> k-row broadcast re-join (fan-out k, "
        "config-bounded) -> k-row embargo report"
    ),
    "conformal_lang_threshold": (
        "score projection -> one ranked range exchange -> rank-r "
        "order-statistic pick -> 1-row threshold broadcast onto the "
        "held-out half -> 1-row coverage agg"
    ),
    "psi_value_drift": (
        "ONE hash agg to 10 value bins -> 1-row side totals "
        "broadcast -> ln terms -> picounit integer total broadcast"
    ),
    "lang_marker_map": (
        "ONE source hash exchange feeds the rank window + running "
        "relevant count (one Window op) -> per-source agg; AP terms "
        "micro-rounded BIGINT before the associative sum"
    ),
    "k_anonymity_report": (
        "ONE quasi-combo hash agg (single count-distinct: "
        "Expand-free) -> bounded groups-frame summary agg"
    ),
    "loss_mask_spans": (
        "ONE conversation hash exchange carries row_number + the "
        "running-length sum (one Window op, explicit ROWS frame); "
        "offsets are exact prefix sums of the assembler's own "
        "rendering expression"
    ),
    "fim_transform": (
        "pure projection: md5-bucket cut points + three substr "
        "slices + md5 of the rendered PSM — no shuffle, no UDF"
    ),
    "minhash_recall_report": (
        "truth = exact jaccard kernel (shingle equi-join), candidates "
        "= banded LSH; one pair-keyed semi-join; three 1-row count "
        "folds"
    ),
    "span_corruption_transform": (
        "pure in-row projection: split -> per-block md5 corrupt "
        "flags -> HOF sentinel assembly -> md5 pins; no shuffle, no "
        "UDF (HOF lambdas interpreted — once-per-corpus-write path)"
    ),
    "benford_screen": (
        "one hash agg to 9 first-digit cells -> 1-row total "
        "broadcast -> nano-fixed chi-square terms -> 1-row integer "
        "chi2 fold"
    ),
    "nb_class_f1": (
        "NB confusion cells (bounded <=|C|^2 frame) -> truth/pred "
        "margins -> NULL-guarded P/R/F1 projections -> nano-fixed "
        "integer macro fold"
    ),
    "asof_tolerance_join": (
        "single-shuffle asof union + carry-forward windows; the "
        "match-time carry and staleness gate are projections on the "
        "same exchange"
    ),
    "weighted_exact_k_sample": (
        "deterministic A-ES: md5-uniform + ln score projection -> "
        "TakeOrderedAndProject k -> rank window over the k survivors"
    ),
    "kaplan_meier_purchase": (
        "one user hash agg (entry/event) -> day-grain agg -> suffix "
        "risk sum + prefix micro-ln sum on the calendar-bounded day "
        "frame (<= study-window rows)"
    ),
    "rendezvous_shards": (
        "key x shard-literal fan-out (bounded by the shard-count "
        "config) -> one max_by hash agg per topology -> key join + "
        "per-shard movement agg"
    ),
    "hits_authorities": (
        "2 exact-integer HITS iterations (edge equi-join + hash agg "
        "+ 1-row L-inf max per half-iteration, localCheckpointed) -> "
        "TakeOrdered top-10 -> rank window over the 10 survivors"
    ),
    "orc_roundtrip_agg": (
        "events -> ORC lake write (bloom on user_id) -> ORC "
        "vectorized scan -> one hash agg; the oracle checks the "
        "round-trip preserved every value/timestamp bit-for-bit"
    ),
    "negative_edge_sample": (
        "dst nodes -> ~1-row-per-bucket table (B ~ |D|) -> probe "
        "equi-join on the bucket address (fan-out ~ occupancy, linear "
        "in sources) -> edge anti-join -> probe-bounded per-source "
        "top-k window; never a cross join against the destination set"
    ),
    "quantile_normalize_scores": (
        "one group hash exchange (rank + n_g share the window "
        "partitioning) + one global ranked range exchange for the "
        "value ladder + one equi-join on the integer target rank"
    ),
    "ab_purchase_ztest": (
        "ONE hash agg to the 2-variant frame -> 1-row min_by/max_by "
        "fold -> fixed IEEE z expression"
    ),
    "stream_drift_probe": (
        "store read (batch-partitioned histograms, <=|bins| rows per "
        "batch) -> explicit (batch x bin) grid left-joined to stored "
        "counts -> picounit terms -> one integer sum per batch"
    ),
    "zipf_fit_report": (
        "one token hash agg to the vocab -> vocab-sized ranked range "
        "exchange -> nano-rounded lns -> exact DECIMAL OLS sums -> "
        "1-row slope fold"
    ),
    "nb_source_confusion": (
        "fit: one (tok,class) hash agg joined to |C|-row class stats "
        "(model stays a token-keyed DataFrame, never collected); "
        "score: tok equi-join fan-out <= |C| -> (doc,class) agg -> "
        "|C|-row class-constants broadcast -> per-doc rank window -> "
        "confusion cells + 1-row accuracy fold"
    ),
    # r11:
    "survival_logrank": (
        "one user hash agg -> calendar-bounded day frame (suffix risk "
        "sums per cohort in one window exchange) -> nano-fixed e/v "
        "terms -> 1-row O/E/V fold broadcast onto the 1-row totals"
    ),
    "cmh_purchase_dow": (
        "one user agg -> one (stratum,variant) hash agg -> 7-row "
        "stratum frame folds (nano-fixed terms) -> 1-row chi2/OR"
    ),
    "ab_value_welch": (
        "ONE variant hash agg of exact cents moments (n, sum, sum2) "
        "-> 1-row min_by/max_by pick -> fixed IEEE t/df expressions"
    ),
    "mcnemar_lang_baseline": (
        "marker projection (no shuffle) -> 1-row modal-language "
        "broadcast -> ONE discordant-pair agg"
    ),
    "sql_regional_revenue": (
        "literal SQL text through run_sql: Catalyst compiles the "
        "same broadcast-dim star join + single hash agg the "
        "DataFrame original pins — the SQL door adds no plan cost"
    ),
    "join_size_estimate": (
        "estimate: map-side md5 key-sample predicate -> pruned count "
        "agg -> tiny synopsis join; truth: two full count aggs joined "
        "on key (never the data join); 1-row report cross"
    ),
    "stream_topk_probe": (
        "store-only read: monitoring-state hash agg -> 1-row "
        "batch-count attach -> TakeOrdered k (never re-scans the "
        "stream's history)"
    ),
    "cuped_value_ab": (
        "per-user cents agg (one hash shuffle) -> ONE variant moment "
        "agg -> 1-row pick; theta num/den exact decimal(38,0), all "
        "adjusted means/variances fixed IEEE expressions of the ints"
    ),
    "did_purchase_rate": (
        "user x period hash agg -> 4-cell conditional fold over a "
        "1-row bounds broadcast -> fixed IEEE did/se/z"
    ),
    "bootstrap_value_ci": (
        "map-side 40x replica explode -> staged md5-u32 -> Poisson "
        "weight (staged projections keep ONE md5/row) -> 40-group "
        "map-side-combined agg -> 40-row window; the data itself "
        "never shuffles"
    ),
    "distinct_count_estimate": (
        "estimate: map-side md5 key-sample predicate -> pruned "
        "count-distinct; truth: one full count-distinct; 1-row "
        "report cross — planner primitive, never runs the group-by "
        "it sizes"
    ),
    "sql_agent_metrics": (
        "the flagship view TEXT through run_sql: Catalyst compiles "
        "the same broadcast-dim star + one group agg the DataFrame "
        "agent_metrics pins (regexp JSON extract replaces ->> in the "
        "shared dialect)"
    ),
    "selectivity_conjunctive": (
        "map-side md5 row-sample predicate -> ONE 1-row sample agg "
        "(A, B, A-and-B counts at once) + one truth agg; grades the "
        "optimizer independence assumption it replaces"
    ),
    "ab_value_mde": (
        "ONE variant hash agg of exact cents moments (welch shape) "
        "-> 1-row pick -> fixed IEEE MDE / required-n expressions"
    ),
    "fact_key_overlap": (
        "two map-side md5 key-sample predicates -> distinct union agg "
        "(theta-sketch identity: same hash space + threshold, so the "
        "union of samples IS the sample of the union) + truth pass"
    ),
    "ab_value_trimmed": (
        "hash agg to the (variant, value, count) HISTOGRAM -> "
        "cumulative window over histogram rows (value-domain-bounded, "
        "never a per-row rank that would funnel a variant through one "
        "task) -> exact integer interval-overlap trim -> moment agg"
    ),
    "ab_value_ranksum": (
        "rank-sum A/B: value-cell hash agg (1-row variant frame "
        "attached) -> ONE ranked_cumsum range exchange over DISTINCT "
        "values (auc_exact shape, never a per-row global sort) -> "
        "1-row decimal fold"
    ),
    "ab_value_poststrat": (
        "post-stratified A/B: ONE (stratum) hash agg of exact cents "
        "moments per variant -> nano/pico-fixed integer stratum fold "
        "(1-row population attach); no per-row window"
    ),
    "price_range_selectivity": (
        "64-bin equi-width histogram: ONE map-side-combined bin agg "
        "-> nano-fixed overlap fold; truth pass is a pushed-filter "
        "count attached as a 1-row broadcast"
    ),
    "source_lang_fd": (
        "FD strength: (det,dep) cell hash agg -> synopsis-scale "
        "per-det max/sum agg -> 1-row fold; full table never "
        "re-shuffles"
    ),
}


def main() -> None:
    from redshift_etl_spark import plans as P
    from redshift_etl_spark import queries as Q
    from redshift_etl_spark.session import get_spark

    spark = get_spark(app_name="plans_dump")
    sf = "/root/testdata/sf0.01"
    out = [
        "# PLANS — formatted physical plans of the flagship queries",
        "",
        "Generated by `scripts/dump_plans.py` at sf0.01 (structure is "
        "SF-independent).",
        "Each plan is the shape asserted by `tests/test_plans*.py`; "
        "regenerate after",
        "intentional plan changes and re-read the diff.",
        "",
    ]
    for name, note in NOTES.items():
        df = Q.all_queries()[name](spark, sf)
        out += [
            f"## {name}",
            "",
            f"**Posture:** {note}",
            "",
            "```",
            P.plan_tree(df).rstrip(),
            "```",
            "",
        ]
    repo = pathlib.Path(__file__).resolve().parent.parent
    (repo / "PLANS.md").write_text("\n".join(out))
    print(f"wrote PLANS.md ({len(NOTES)} plans)")


if __name__ == "__main__":
    main()
