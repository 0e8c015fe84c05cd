"""Snapshot diffing and data-quality auditing.

The reference repo's ETL jobs trust their upstreams blindly (every
`SP_*.sql` merges whatever arrived); a production pipeline wants two
guard rails around that:

- ``snapshot_diff`` — what actually changed between two loads (the
  question behind every "why did the dashboard move?"), classified
  added / removed / changed by a null-safe full outer compare.
- ``audit`` — per-load health metrics (row count, null rate on
  required columns, key uniqueness, orphaned foreign keys) computed in
  ONE pass over the table plus one anti-join per FK.

Scale notes: the diff is a single full outer join on the key — both
snapshots shuffle once on that key, the comparison itself is a
projection (``IS DISTINCT FROM`` per column, no row serialization into
a hash). The audit's single-table metrics ride one hash aggregate
(count-distinct via size(collect_set) is deliberately avoided — key
cardinality here is unbounded, so it uses count(distinct) and accepts
the Expand only when >1 distinct is requested; with exactly one
distinct aggregate Spark plans it Expand-free).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare_cols: list[str],
) -> DataFrame:
    """One row per key present in either snapshot whose state differs:
    ``change_type`` ∈ {added, removed, changed}. Unchanged keys are
    dropped. NULL-safe per column: NULL→value and value→NULL count as
    changes, NULL→NULL does not (``IS DISTINCT FROM`` semantics, the
    same trap the reference's `changed_or_new` predicates hand-spell).
    """
    o = old.select(key, *compare_cols)
    n = new.select(key, *compare_cols)
    renamed_o = o.select(
        F.col(key), *[F.col(c).alias(f"__old_{c}") for c in compare_cols]
    ).withColumn("__in_old", F.lit(1))
    renamed_n = n.select(
        F.col(key), *[F.col(c).alias(f"__new_{c}") for c in compare_cols]
    ).withColumn("__in_new", F.lit(1))
    any_diff: Column = F.lit(False)
    for c in compare_cols:
        any_diff = any_diff | ~F.col(f"__old_{c}").eqNullSafe(
            F.col(f"__new_{c}")
        )
    joined = renamed_o.join(renamed_n, key, "full_outer")
    return (
        joined.withColumn(
            "change_type",
            F.when(F.col("__in_old").isNull(), "added")
            .when(F.col("__in_new").isNull(), "removed")
            .when(any_diff, "changed"),
        )
        .filter(F.col("change_type").isNotNull())
        .select(key, "change_type")
    )


def audit(
    df: DataFrame,
    key: str,
    required_cols: list[str],
    fk: tuple[str, DataFrame, str] | None = None,
) -> DataFrame:
    """One-row health report: n_rows, n_dup_keys (rows beyond the first
    per key), per-required-column null counts (``n_null_<col>``), and —
    when ``fk=(local_col, dim_df, dim_col)`` is given — ``n_orphans``
    (rows whose non-null FK misses the dimension; anti-join, so the
    dimension never materializes on the driver)."""
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count_distinct(F.col(key))).alias(
            "n_dup_keys"
        ),
    ]
    for c in required_cols:
        aggs.append(
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"n_null_{c}")
        )
    report = df.agg(*aggs)
    if fk is not None:
        local_col, dim, dim_col = fk
        orphans = (
            df.filter(F.col(local_col).isNotNull())
            .join(
                dim.select(F.col(dim_col).alias(local_col)),
                local_col,
                "left_anti",
            )
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        report = report.crossJoin(F.broadcast(orphans))
    return report


def validate_split(
    df: DataFrame, rules: dict[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """Dead-letter validation: evaluate named rule predicates once per
    row, split into (valid, quarantined). Quarantined rows carry a
    ``violations`` column — the '|'-joined names of every failed rule
    (all of them, not just the first), so the dead-letter sink is
    actionable without re-running validation.

    Pure projection + filter: no shuffle, predicates evaluate once via
    a staged select (the flags become attributes), and both outputs
    share the single scan. A NULL rule result counts as a violation
    (SQL three-valued logic must not let unknowns through). With no
    rules there is nothing to violate: every row is valid."""
    if not rules:
        return df, df.limit(0).withColumn("violations", F.lit(""))
    flags = df.select(
        "*",
        *[
            F.coalesce(pred, F.lit(False)).alias(f"__ok_{name}")
            for name, pred in rules.items()
        ],
    )
    all_ok = None
    for name in rules:
        c = F.col(f"__ok_{name}")
        all_ok = c if all_ok is None else (all_ok & c)
    drop = [f"__ok_{name}" for name in rules]
    valid = flags.filter(all_ok).drop(*drop)
    quarantined = (
        flags.filter(~all_ok)
        .withColumn(
            "violations",
            F.concat_ws(
                "|",
                *[
                    F.when(~F.col(f"__ok_{n}"), F.lit(n))
                    for n in rules
                ],
            ),
        )
        .drop(*drop)
    )
    return valid, quarantined


def table_fingerprint(
    df: DataFrame,
    cols: list[str] | None = None,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Order-independent table checksum — the migration/replication
    validation primitive: run on both sides of a copy and compare one
    row (or one row per ``group_by`` partition to localize a mismatch).

    checksum = BIT_XOR over a 60-bit hash of each row's canonical
    string. XOR is commutative+associative, so the result is identical
    under any partitioning or row order — and any single-row difference
    flips it. Hash collisions (~2⁻⁶⁰ per pair) are the accepted trade
    for a one-scan, shuffle-free-until-the-1-row-agg check.

    Canonical row string: '|'-joined string casts with a NULL sentinel.
    Raw float→string formatting is engine-specific, so Float/Double
    columns are auto-cast to DECIMAL(30,6) before stringifying —
    int/string/date/timestamp/decimal casts are stable across engines
    (verified vs DuckDB). Callers wanting a different comparison
    granularity pre-cast to their own decimal type (the auto-cast only
    fires on columns still floating at the call)."""
    cols = cols or [c for c in df.columns if c not in (group_by or [])]
    float_cols = {
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in ("float", "double")
    }

    def canon(c: str) -> Column:
        col = F.col(c)
        if c in float_cols:
            col = col.cast("decimal(30,6)")
        return F.coalesce(col.cast("string"), F.lit("<NULL>"))

    row = F.concat_ws("|", *[canon(c) for c in cols])
    h = F.conv(F.substring(F.md5(row), 1, 15), 16, 10).cast("long")
    aggs = [
        F.bit_xor(h).alias("checksum"),
        F.count(F.lit(1)).alias("n_rows"),
    ]
    if group_by:
        return df.groupBy(*group_by).agg(*aggs)
    return df.agg(*aggs)


def analyze_stats(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """ANALYZE-style column profile in ONE scan: per column its null
    count, exact distinct count, and min/max (stringified in-type, so
    numeric columns keep numeric ordering), long-form
    (column_name, n_rows, n_nulls, n_distinct, min_value, max_value).

    The single-pass shape: one aggregate computes every column's stats
    side by side, then a `stack` unpivots the one wide row — the table
    is read once however many columns are profiled (the oracle twin
    necessarily re-reads per column; this is the Spark-first win).
    Exact COUNT(DISTINCT) over k columns expands rows k-fold before the
    aggregate (Catalyst's Expand); at 100 TB profile either on a
    `hash_sample`, or swap the distinct counts for the HLL rollup
    (`rollup.sketch_distinct_rollup`) when ±2% is acceptable.

    Stats like these drive partition sizing, join-strategy choices, and
    skew diagnosis — the engine-side ANALYZE the reference leaves to
    Redshift itself."""
    names = list(cols) if cols is not None else list(df.columns)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in names:
        aggs += [
            F.count(F.col(c)).alias(f"__cnt_{c}"),
            F.countDistinct(F.col(c)).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
        ]
    wide = df.agg(*aggs)
    stacked = ", ".join(
        f"'{c}', __n - __cnt_{c}, __nd_{c}, __min_{c}, __max_{c}"
        for c in names
    )
    return wide.selectExpr(
        "__n AS n_rows",
        f"stack({len(names)}, {stacked}) AS "
        "(column_name, n_nulls, n_distinct, min_value, max_value)",
    ).select(
        "column_name",
        F.col("n_rows").cast("long"),
        F.col("n_nulls").cast("long"),
        F.col("n_distinct").cast("long"),
        "min_value",
        "max_value",
    )


def changed_buckets(
    old: DataFrame,
    new: DataFrame,
    key: str,
    n_buckets: int = 256,
    cols: list[str] | None = None,
) -> DataFrame:
    """Merkle-style table sync: which deterministic key-buckets differ
    between two snapshots — (bucket, old_rows, new_rows). Compare cost
    is one fingerprint scan per side and n_buckets comparison rows;
    re-transfer/re-verify cost is then proportional to the CHANGED
    buckets only, not the table (the replication shape for a 100 TB
    copy where almost everything already matches). A single changed row
    flips exactly its bucket's checksum (`table_fingerprint` XOR
    property)."""
    from ..operators.export import content_hash48

    def fp(df: DataFrame) -> DataFrame:
        b = df.withColumn(
            "__bucket",
            F.pmod(content_hash48(key), F.lit(n_buckets)).cast("long"),
        )
        return table_fingerprint(
            b, cols or [c for c in df.columns], ["__bucket"]
        )
    o = fp(old).select(
        F.col("__bucket").alias("bucket"),
        F.col("checksum").alias("__o_ck"),
        F.col("n_rows").alias("old_rows"),
    )
    n = fp(new).select(
        F.col("__bucket").alias("bucket"),
        F.col("checksum").alias("__n_ck"),
        F.col("n_rows").alias("new_rows"),
    )
    z = F.lit(0).cast("long")
    return (
        o.join(n, "bucket", "full_outer")
        .filter(
            ~F.col("__o_ck").eqNullSafe(F.col("__n_ck"))
            | ~F.col("old_rows").eqNullSafe(F.col("new_rows"))
        )
        .select(
            "bucket",
            F.coalesce("old_rows", z).alias("old_rows"),
            F.coalesce("new_rows", z).alias("new_rows"),
        )
    )


def mutual_information(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Mutual information (nats) between two categorical columns, plus
    both marginal entropies and the normalized MI — the
    feature-relevance / drift diagnostic ("does `source` carry
    information about `lang`?").

    Exactness contract (the ngramlm libm policy): every probability is
    an exact integer ratio, the ONLY libm calls are one micro-rounded
    ``ln`` per contingency CELL (≤ |X|·|Y| calls total, never per
    row), each integer-weighted and summed as BIGINT, and the final
    values are IEEE divisions of exact integers. ``nmi =
    mi/sqrt(h_x·h_y)`` is deterministic too: IEEE sqrt is correctly
    rounded, and its inputs are already bit-identical cross-engine.
    NULL categories count as their own level (they carry
    information): both columns are sentinel-encoded before the
    contingency agg, because the margin joins below are equi-joins
    and a raw NULL key would silently drop its cells from the MI sum.
    Returns one row: (n, mi_nats, h_x, h_y, nmi)."""
    SCALE = 1_000_000
    sent = "\x00<null>"
    df = df.select(
        F.coalesce(F.col(x_col).cast("string"), F.lit(sent)).alias(x_col),
        F.coalesce(F.col(y_col).cast("string"), F.lit(sent)).alias(y_col),
    )
    cells = df.groupBy(x_col, y_col).agg(
        F.count(F.lit(1)).cast("long").alias("__nxy")
    )
    mx = cells.groupBy(x_col).agg(F.sum("__nxy").cast("long").alias("__nx"))
    my = cells.groupBy(y_col).agg(F.sum("__nxy").cast("long").alias("__ny"))
    n1 = cells.agg(F.sum("__nxy").cast("long").alias("__n"))

    def _ln_micro(arg):
        return F.round(F.log(arg) * SCALE, 0).cast("long")

    j = cells.join(mx, x_col).join(my, y_col).crossJoin(F.broadcast(n1))
    mi_num = F.sum(
        F.col("__nxy")
        * _ln_micro(
            (F.col("__nxy") * F.col("__n"))
            / (F.col("__nx") * F.col("__ny"))
        )
    ).cast("long")
    mi = j.agg(mi_num.alias("__mi_num"), F.first("__n").alias("__n"))

    def _entropy(margin: DataFrame, n_col: str):
        # H = -(Σ n_i · ln_micro(n_i/N)) / (N · SCALE)
        return (
            margin.crossJoin(F.broadcast(n1))
            .agg(
                F.sum(
                    F.col(n_col) * _ln_micro(F.col(n_col) / F.col("__n"))
                )
                .cast("long")
                .alias("__h_num")
            )
            .select((-F.col("__h_num")).alias("__h_num"))
        )

    hx = _entropy(mx, "__nx").select(F.col("__h_num").alias("__hx_num"))
    hy = _entropy(my, "__ny").select(F.col("__h_num").alias("__hy_num"))
    out = mi.crossJoin(F.broadcast(hx)).crossJoin(F.broadcast(hy))
    denom = F.col("__n").cast("double") * SCALE
    mi_d = F.col("__mi_num") / denom
    hx_d = F.col("__hx_num") / denom
    hy_d = F.col("__hy_num") / denom
    return out.select(
        F.col("__n").alias("n"),
        mi_d.alias("mi_nats"),
        hx_d.alias("h_x"),
        hy_d.alias("h_y"),
        (mi_d / F.sqrt(hx_d * hy_d)).alias("nmi"),
    )


def cohens_kappa(
    df: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """Cohen's kappa between two categorical columns — chance-corrected
    agreement, the scalar eval a labeling pipeline reports next to its
    confusion matrix (rater A = ground truth, rater B = the model, or
    any two annotators).

    Exactness: with n items, ``agree`` the diagonal count and
    ``pe_num = Σ_k row_k·col_k`` the marginal-product sum, kappa
    reduces to ONE IEEE division of exact integers:

        kappa = (n·agree − pe_num) / (n² − pe_num)

    — algebraically identical to (p_o − p_e)/(1 − p_e) but with no
    intermediate float, so the statistic is engine- and partitioning-
    exact. The products n², n·agree and every row·col term are
    computed in DECIMAL(38,0) (exact to 10³⁸ — n up to ~10¹⁹, i.e.
    any corpus), not int64: long·long silently wraps past n ≈ 3·10⁹
    under non-ANSI Spark (the cramers_v obs·N lesson). ``pe_num`` is
    reported as DECIMAL(38,0) for the same reason. Degenerate
    marginals (n² = pe_num, e.g. a single category) report NULL. NULL
    categories on either side are dropped (pairwise agreement has no
    place for them). p_o and p_e are reported as presentation
    doubles.

    Scale shape: one hash agg to the ≤ |A|·|B| cell matrix, marginal
    sums over the CELLS (never the rows again), a category equi-join
    of the two marginal frames for pe_num, and 1-row broadcast folds —
    after the first aggregate nothing data-sized moves. Returns one
    row: (n_items, n_agree, pe_num, po, pe, kappa)."""
    cells = (
        df.filter(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(F.col(a_col).alias("__a"), F.col(b_col).alias("__b"))
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
    )
    row_m = cells.groupBy("__a").agg(
        F.sum("__n").cast("long").alias("__ra")
    )
    col_m = cells.groupBy("__b").agg(
        F.sum("__n").cast("long").alias("__cb")
    )
    dec = "decimal(38,0)"
    pe = row_m.join(col_m, F.col("__a") == F.col("__b")).agg(
        F.coalesce(
            F.sum(F.col("__ra").cast(dec) * F.col("__cb")),
            F.lit(0),
        )
        .cast(dec)
        .alias("pe_num")
    )
    totals = cells.agg(
        F.sum("__n").cast("long").alias("n_items"),
        F.coalesce(
            F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__n"))),
            F.lit(0),
        )
        .cast("long")
        .alias("n_agree"),
    )
    out = totals.crossJoin(F.broadcast(pe))
    n_sq = F.col("n_items").cast(dec) * F.col("n_items")
    denom = n_sq - F.col("pe_num")
    numer = (
        F.col("n_items").cast(dec) * F.col("n_agree") - F.col("pe_num")
    )
    return out.select(
        "n_items",
        "n_agree",
        "pe_num",
        (F.col("n_agree") / F.col("n_items").cast("double")).alias("po"),
        (
            F.col("pe_num").cast("double") / n_sq.cast("double")
        ).alias("pe"),
        F.when(
            denom != F.lit(0),
            numer.cast("double") / denom.cast("double"),
        ).alias("kappa"),
    )


def cramers_v(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Cramér's V — the [0,1]-normalized effect size of an X×Y
    association (chi-square alone grows with n; V is what you compare
    across tables):

        V = √( χ² / (n · (min(r, c) − 1)) )

    Exactness: observed/marginal counts are exact BIGINTs; each cell's
    χ² term ``(obs·N − row·col)² / (N·row·col)`` is deterministic
    double arithmetic over those ints, the cross-cell sum micro-rounds
    to BIGINT before adding (cell order cannot matter), and the final
    sqrt is IEEE-correctly-rounded (engine-safe, unlike ln/pow).
    NULL categories drop. One row: (n, n_rows, n_cols, chi2, v);
    NULL v for degenerate tables (min(r,c) < 2).

    Scale shape: one hash agg to the ≤ r·c cell matrix; everything
    after is marginal math over cells — nothing data-sized moves."""
    # the committed _CHI_CONTRIB discipline (queries/relational.py):
    # factors cast to DOUBLE before multiplying — int64 obs·N products
    # overflow past ~3e9 rows; double products are exact below 2^53
    chi_contrib = (
        "(CAST(obs AS DOUBLE) * CAST(n_tot AS DOUBLE)"
        "  - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE))"
        " * (CAST(obs AS DOUBLE) * CAST(n_tot AS DOUBLE)"
        "  - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE))"
        " / (CAST(n_tot AS DOUBLE) * row_tot * col_tot)"
    )
    cells = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))
        .agg(F.count(F.lit(1)).cast("long").alias("obs"))
    )
    rows_m = cells.groupBy("__x").agg(
        F.sum("obs").cast("long").alias("row_tot")
    )
    cols_m = cells.groupBy("__y").agg(
        F.sum("obs").cast("long").alias("col_tot")
    )
    tot = cells.agg(
        F.sum("obs").cast("long").alias("n_tot"),
        F.count_distinct("__x").cast("long").alias("n_rows"),
        F.count_distinct("__y").cast("long").alias("n_cols"),
    )
    joined = (
        cells.join(rows_m, "__x")
        .join(cols_m, "__y")
        .crossJoin(F.broadcast(tot))
    )
    # structurally-ZERO cells (an (x, y) pair that never co-occurs)
    # are absent from the cells frame but still owe chi² their
    # expected mass row·col/N. Densifying r·c cells is wasteful; the
    # closed form folds them in: Σ_all r·c = (Σr)(Σc) = N², so
    # Σ_missing r·c/N = N − Σ_observed r·c/N — one more micro-rounded
    # sum over the SAME observed-cells frame.
    rc_over_n = (
        F.col("row_tot").cast("double")
        * F.col("col_tot").cast("double")
        / F.col("n_tot").cast("double")
    )
    agg = joined.agg(
        F.first("n_tot").alias("n"),
        F.first("n_rows").alias("n_rows"),
        F.first("n_cols").alias("n_cols"),
        F.sum(
            F.round(F.expr(chi_contrib) * 1e6, 0).cast("long")
        ).cast("long").alias("__chi_obs_micro"),
        F.sum(F.round(rc_over_n * 1e6, 0).cast("long"))
        .cast("long")
        .alias("__rc_micro"),
    )
    chi2 = (
        F.col("__chi_obs_micro")
        + F.col("n") * F.lit(1_000_000)
        - F.col("__rc_micro")
    ).cast("double") / 1e6
    dof_den = F.least(F.col("n_rows"), F.col("n_cols")) - 1
    return agg.select(
        "n",
        "n_rows",
        "n_cols",
        chi2.alias("chi2"),
        F.when(
            dof_den > 0,
            F.sqrt(chi2 / (F.col("n") * dof_den).cast("double")),
        ).alias("v"),
    )


def matthews_corr(
    df: DataFrame, true_col: str, pred_col: str
) -> DataFrame:
    """Matthews correlation coefficient for a binary classifier — the
    single-number eval robust to class imbalance (accuracy and F1 are
    not), completing the binary family next to kappa/AUC/F1:

        MCC = (TP·TN − FP·FN)
              / √((TP+FP)(TP+FN)(TN+FP)(TN+FN))

    Inputs are boolean columns (rows with a NULL on either side are
    dropped — same rule as kappa). Exactness: the four confusion
    counts are exact BIGINTs (reported); the products are computed in
    DOUBLE in a fixed order (long·long wraps past n ≈ 3·10⁹ — the
    kappa/cramers_v lesson) and the sqrt is correctly-rounded IEEE,
    so the statistic is engine- and partitioning-exact. Any zero
    marginal → NULL (MCC undefined).

    Scale shape: ONE map-side-combined aggregate over the corpus —
    four conditional counts — then a 1-row projection."""
    t = F.col(true_col).cast("boolean")
    p = F.col(pred_col).cast("boolean")
    counts = df.filter(t.isNotNull() & p.isNotNull()).agg(
        F.sum((t & p).cast("long")).cast("long").alias("tp"),
        F.sum(((~t) & (~p)).cast("long")).cast("long").alias("tn"),
        F.sum(((~t) & p).cast("long")).cast("long").alias("fp"),
        F.sum((t & (~p)).cast("long")).cast("long").alias("fn"),
    )
    tp, tn = F.col("tp").cast("double"), F.col("tn").cast("double")
    fp, fn = F.col("fp").cast("double"), F.col("fn").cast("double")
    denom_sq = (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    return counts.select(
        "tp",
        "tn",
        "fp",
        "fn",
        F.when(
            denom_sq > 0,
            (tp * tn - fp * fn) / F.sqrt(denom_sq),
        ).alias("mcc"),
    )


def wilson_lower_bounds(
    df: DataFrame,
    group_col: str,
    success_col: str,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Per-group Wilson score lower bound on a success rate — the
    rank-by-confidence statistic (sort sources/variants by the WORST
    rate the data still supports, so small samples can't fake
    quality):

        lb = (p̂ + z²/2n − z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)

    Exactness: n and successes are exact BIGINTs; the bound is a fixed
    single expression of IEEE ops on those ints and the z literal
    (default = the double nearest the 97.5% normal quantile), with a
    correctly-rounded sqrt — identical in any engine that mirrors the
    spelling. Empty groups can't occur (a group exists only with
    rows); n ≥ 1 always. Returns (group, n, successes, p_hat, lb)."""
    y = F.col(success_col).cast("int")
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(y).cast("long").alias("successes"),
    )
    n = F.col("n").cast("double")
    p = F.col("successes") / n
    z2 = F.lit(z * z)
    lb = (
        p
        + z2 / (2 * n)
        - F.lit(z) * F.sqrt(p * (1 - p) / n + z2 / (4 * n * n))
    ) / (1 + z2 / n)
    return agg.select(
        group_col, "n", "successes", p.alias("p_hat"), lb.alias("lb")
    )


def krippendorff_alpha(
    df: DataFrame,
    item_col: str,
    rater_col: str,
    val_col: str,
) -> DataFrame:
    """Krippendorff's alpha (nominal) — inter-annotator reliability that,
    unlike Cohen's kappa, handles ANY number of raters and MISSING
    ratings (an annotator who abstained on an item simply contributes
    no pairs there). The statistic a labeling campaign reports before
    trusting its gold data.

    Definition (Krippendorff 2004, coincidence-matrix form): over items
    with m_u ≥ 2 ratings, alpha = 1 − D_o/D_e with D_o the observed
    disagreement of the coincidence matrix o_ck = Σ_u pairs_u(c,k)/(m_u−1)
    and D_e its expected disagreement from the margins.

    Exactness (the cohens_kappa discipline, extended): the margins n_c
    and n = Σ_u m_u are exact BIGINTs by construction (each rated value
    contributes exactly 1 to its category margin). The only fractional
    object is the off-diagonal mass Σ_{c≠k} o_ck = Σ_u d_u/(m_u−1)
    (d_u = ordered disagreeing pairs in item u); with R distinct raters,
    m_u−1 ∈ {1..R−1}, so scaling by L = lcm(1..R−1) makes
    D_L = Σ_u d_u·L/(m_u−1) an exact integer. Then, using
    Σ_{c≠k} n_c·n_k = n² − Σ_c n_c²:

        alpha = 1 − D_L·(n−1) / (L·(n² − Σ_c n_c²))

    — ONE IEEE division of exact DECIMAL(38,0) products, engine- and
    partitioning-exact. Degenerate margins (single category → D_e = 0)
    report NULL.

    Precondition: at most one rating per (item, rater) — reliability
    data is keyed that way; duplicates would inflate m_u past R.

    Scale shape: one hash agg for m_u, one for the category margins, a
    self-join on item for disagreeing pairs — each item contributes at
    most R(R−1) pair rows, so the join output is O(n·R), linear in the
    data for the bounded rater pool an annotation campaign has. The
    rater count (for L) is one bounded count-distinct; everything after
    the aggregates is 1-row math. Returns one row:
    (n_items, n_values, do_rate, de_rate, alpha)."""
    vals = df.select(
        F.col(item_col).alias("__i"),
        F.col(rater_col).alias("__r"),
        F.col(val_col).alias("__v"),
    ).where(
        F.col(item_col).isNotNull()
        & F.col(rater_col).isNotNull()
        & F.col(val_col).isNotNull()
    )
    n_raters = vals.select("__r").distinct().count()  # bounded: rater pool
    lcm = 1
    for d in range(2, max(2, n_raters)):
        lcm = math.lcm(lcm, d)
        # lcm(1..42) is the last value below 2^63: past it the SQL
        # literal would silently be an invalid/overflowed long. A rater
        # pool that large needs a different scaling (per-item rational
        # folds); refuse loudly rather than emit a wrong literal.
        if lcm > 0x7FFFFFFFFFFFFFFF:
            raise ValueError(
                f"krippendorff_alpha: rater pool {n_raters} needs "
                f"lcm(1..{n_raters - 1}) > int64; not representable"
            )
    m_u = vals.groupBy("__i").agg(F.count(F.lit(1)).cast("long").alias("__m"))
    # persist: multiple consumers (margins, item count, both sides of
    # the pair self-join) otherwise each re-run the vals⋈m_u shuffle
    # join (r13 optimization). Cache OWNER: the consumers live in the
    # returned lazy plan, so the operator cannot unpersist — the
    # session owner clears between queries (perfbench's clear_cache,
    # or the caller; asserted by tests/test_persist_lifecycle.py)
    pairable = vals.join(m_u.where(F.col("__m") >= 2), "__i").persist()

    dec = "decimal(38,0)"
    # margins over pairable values only (standard: unpaired items drop)
    n_c = pairable.groupBy("__v").agg(F.count(F.lit(1)).cast("long").alias("__nc"))
    marg = n_c.agg(
        # COALESCE: with NO pairable item the margins frame is empty and
        # a bare SUM reports NULL — the degenerate report is all-zeros
        # with NULL rates/alpha, not a NULL row
        F.coalesce(F.sum("__nc"), F.lit(0)).cast("long").alias("n_values"),
        F.coalesce(
            F.sum(F.col("__nc").cast(dec) * F.col("__nc")), F.lit(0)
        ).cast(dec).alias("__sum_nc2"),
    )
    items = pairable.select("__i").distinct().count()

    a = pairable.select("__i", "__r", "__v", "__m")
    b = pairable.select(
        F.col("__i").alias("__i2"),
        F.col("__r").alias("__r2"),
        F.col("__v").alias("__v2"),
    )
    d_l = (
        a.join(b, (F.col("__i") == F.col("__i2")) & (F.col("__r") != F.col("__r2")))
        .where(F.col("__v") != F.col("__v2"))
        .agg(
            # DIV: integral division (lcm divides m−1 exactly by
            # construction; `/` on longs would go through double). The
            # SUM must not overflow int64 (the cramers_v lesson): each
            # term is ≤ lcm, so with lcm < 2^22 a long SUM is safe to
            # 2^41 pairs (~2e12 — far beyond any reliability dataset)
            # and stays on the fast codegen path; a larger rater pool
            # (R > 14 → lcm(1..R−1) ≥ 360360·17) pays the DECIMAL(38,0)
            # per-term cast instead. Casting only the SUM result would
            # be too late either way.
            F.coalesce(
                F.sum(F.expr(f"{lcm}L DIV (__m - 1)")).cast(dec)
                if lcm < (1 << 22)
                else F.sum(
                    F.expr(f"CAST({lcm}L DIV (__m - 1) AS {dec})")
                ),
                F.lit(0).cast(dec),
            ).alias("__dl")
        )
    )
    out = marg.crossJoin(F.broadcast(d_l)).select(
        F.lit(items).cast("long").alias("n_items"),
        "n_values",
        "__sum_nc2",
        "__dl",
    )
    n = F.col("n_values").cast(dec)
    de_num = (n * F.col("n_values") - F.col("__sum_nc2")).cast(dec)
    do_rate = F.when(
        F.col("n_values") > 0,
        F.col("__dl").cast("double")
        / (F.lit(lcm).cast("double") * F.col("n_values").cast("double")),
    )
    de_rate = F.when(
        F.col("n_values") > 1,
        de_num.cast("double")
        / (
            F.col("n_values").cast("double")
            * (F.col("n_values") - 1).cast("double")
        ),
    )
    alpha = F.when(
        de_num != 0,
        F.lit(1.0)
        - (F.col("__dl").cast(dec) * (F.col("n_values") - 1)).cast("double")
        / (F.lit(lcm).cast(dec) * de_num).cast("double"),
    )
    return out.select(
        "n_items",
        "n_values",
        do_rate.alias("do_rate"),
        de_rate.alias("de_rate"),
        alpha.alias("alpha"),
    )


def woe_iv(
    df: DataFrame,
    bin_col: str,
    bad_col: str,
) -> DataFrame:
    """Weight-of-Evidence / Information-Value report per feature bin —
    the classical screen for how well a binned feature separates a
    binary label (credit-risk lineage; in a data pipeline: does this
    quality bucket predict bad documents?).

        woe_b = ln( (good_b/good_tot) / (bad_b/bad_tot) )
        iv_b  = (good_b/good_tot − bad_b/bad_tot) · woe_b

    Exactness: all counts are exact BIGINTs from one map-side-combined
    hash agg on the bin; shares, ln and the iv terms are fixed IEEE
    expressions of those ints — engine-exact in any engine mirroring
    the spelling. Bins with zero goods or zero bads report NULL woe/iv
    (the standard "apply smoothing upstream" signal) rather than ±inf.

    Scale shape: ONE aggregate over the data to ≤|bins| rows; the
    good/bad totals attach via a 1-row broadcast cross join (bounded by
    construction). Returns (bin, n, n_bad, n_good, woe, iv) sorted by
    bin."""
    y = F.col(bad_col).cast("boolean")
    bins = df.groupBy(F.col(bin_col).alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum(y.cast("long")), F.lit(0)).cast("long").alias("n_bad"),
    )
    bins = bins.withColumn("n_good", (F.col("n") - F.col("n_bad")).cast("long"))
    tot = bins.agg(
        F.sum("n_bad").cast("long").alias("__tb"),
        F.sum("n_good").cast("long").alias("__tg"),
    )
    j = bins.crossJoin(F.broadcast(tot))
    g_share = F.col("n_good").cast("double") / F.col("__tg").cast("double")
    b_share = F.col("n_bad").cast("double") / F.col("__tb").cast("double")
    ok = (
        (F.col("n_good") > 0)
        & (F.col("n_bad") > 0)
        & (F.col("__tg") > 0)
        & (F.col("__tb") > 0)
    )
    woe = F.when(ok, F.log(g_share / b_share))
    iv = F.when(ok, (g_share - b_share) * F.log(g_share / b_share))
    return j.select(
        "bin", "n", "n_bad", "n_good", woe.alias("woe"), iv.alias("iv")
    ).orderBy("bin")


def psi_report(
    df: DataFrame,
    bin_col: str,
    side_col: str,
) -> DataFrame:
    """Population Stability Index between two populations of one binned
    variable — the industry-standard binned drift screen that sits next
    to the exact-KS test (`distsort.ks_drift`: exact but unbinned and
    two-sided-max; PSI localizes WHICH bins moved and by how much):

        psi_b = (p_A − p_B) · ln(p_A / p_B),   psi = Σ_b psi_b

    ``side_col`` (boolean) marks the B population. Per-bin shares come
    from exact BIGINT counts in ONE map-side-combined hash agg on
    (bin); the totals attach via a 1-row broadcast. Bins empty on
    either side report NULL psi_b (the standard re-bin/smooth-upstream
    signal, not ±inf) and are EXCLUDED from the total — the
    n_onesided_bins column says how many were.

    Determinism of the total: a double Σ over bins is
    partition-order-dependent, so each psi_b fixes to the 1e-12 grid
    in BIGINT picounits first (|psi_b| < 9·10⁶ covered — any real PSI)
    and the total is ONE exact integer sum, divided once. Returns one
    row per bin (bin, n_a, n_b, psi_term) plus the repeated exact
    total columns (psi_total, n_onesided_bins)."""
    b = F.col(side_col).cast("boolean")
    cells = df.groupBy(F.col(bin_col).alias("bin")).agg(
        F.coalesce(F.sum(F.when(~b, 1)), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.sum(F.when(b, 1)), F.lit(0)).cast("long").alias("n_b"),
    )
    tot = cells.agg(
        F.sum("n_a").cast("long").alias("__ta"),
        F.sum("n_b").cast("long").alias("__tb"),
    )
    j = cells.crossJoin(F.broadcast(tot))
    p_a = F.col("n_a").cast("double") / F.col("__ta").cast("double")
    p_b = F.col("n_b").cast("double") / F.col("__tb").cast("double")
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    term = F.when(ok, (p_a - p_b) * F.log(p_a / p_b))
    withterm = j.select(
        "bin",
        "n_a",
        "n_b",
        term.alias("psi_term"),
        F.when(ok, F.round(term * 1e12).cast("long"))
        .alias("__pico"),
    )
    total = withterm.agg(
        F.coalesce(F.sum("__pico"), F.lit(0)).cast("long").alias("__pico_sum"),
        F.coalesce(F.sum(F.when(F.col("__pico").isNull(), 1)), F.lit(0))
        .cast("long")
        .alias("n_onesided_bins"),
    )
    return (
        withterm.crossJoin(F.broadcast(total))
        .select(
            "bin",
            "n_a",
            "n_b",
            "psi_term",
            (F.col("__pico_sum").cast("double") / 1e12).alias("psi_total"),
            "n_onesided_bins",
        )
        .orderBy("bin")
    )


def k_anonymity(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    k: int = 10,
) -> DataFrame:
    """k-anonymity / l-diversity audit of a quasi-identifier combination
    — the privacy screen that belongs next to PII redaction and GDPR
    erasure: a released table is k-anonymous iff every quasi-identifier
    group holds ≥ k rows, and l-diverse iff every group carries ≥ l
    distinct sensitive values (a k-large group with ONE sensitive value
    still discloses the attribute).

    ONE hash agg on the quasi columns (count + one count-distinct —
    Expand-free with a single distinct aggregate), then a second agg
    over the GROUPS frame (≤ Π|quasi domains| rows). All counts exact
    BIGINTs. Returns one row: (n_rows, n_groups, min_group_size,
    n_small_groups, n_rows_at_risk, min_l_diversity,
    n_singleton_sensitive_groups) — at_risk = rows in groups below k,
    the re-identification surface an adversary attacks."""
    groups = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.count_distinct(F.col(sensitive_col)).cast("long").alias("__l"),
    )
    small = F.col("__n") < k
    return groups.agg(
        F.sum("__n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("__n").cast("long").alias("min_group_size"),
        F.coalesce(F.sum(F.when(small, 1)), F.lit(0))
        .cast("long")
        .alias("n_small_groups"),
        F.coalesce(F.sum(F.when(small, F.col("__n"))), F.lit(0))
        .cast("long")
        .alias("n_rows_at_risk"),
        F.min("__l").cast("long").alias("min_l_diversity"),
        F.coalesce(F.sum(F.when(F.col("__l") == 1, 1)), F.lit(0))
        .cast("long")
        .alias("n_singleton_sensitive_groups"),
    )


def ab_test_report(
    df: DataFrame,
    variant_col: str,
    success_col: str,
) -> DataFrame:
    """Two-proportion z-test between exactly two variants — the
    experiment-readout scalar beside the per-group Wilson bounds
    (`wilson_lower_bounds` ranks many variants conservatively; this is
    the classical A/B significance number for a pair):

        z = (p̂_a − p̂_b) / √( p̂(1−p̂)(1/n_a + 1/n_b) ),  p̂ pooled

    Exactness: all counts from ONE hash agg are exact BIGINTs; z is a
    fixed single IEEE expression of those ints (correctly-rounded
    sqrt), engine-identical. Variants order by name ('a' = first by
    name). The contract is exactly two variants: with any other count
    the report still lands (n_variants says what arrived, a/b are the
    name-min/name-max) but z is NULL — a silent third bucket can never
    masquerade as a significant readout. Degenerate pools (p̂ ∈ {0,1}
    or an empty variant) also report NULL z. Returns ONE row:
    (n_variants, variant_a, n_a, x_a, p_a, variant_b, n_b, x_b, p_b,
    z)."""
    y = F.col(success_col).cast("long")
    per = (
        df.groupBy(F.col(variant_col).alias("__v"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.coalesce(F.sum(y), F.lit(0)).cast("long").alias("__x"),
        )
    )
    picked = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_variants"),
        F.min_by(F.col("__v"), F.col("__v")).alias("variant_a"),
        F.min_by(F.col("__n"), F.col("__v")).cast("long").alias("n_a"),
        F.min_by(F.col("__x"), F.col("__v")).cast("long").alias("x_a"),
        F.max_by(F.col("__v"), F.col("__v")).alias("variant_b"),
        F.max_by(F.col("__n"), F.col("__v")).cast("long").alias("n_b"),
        F.max_by(F.col("__x"), F.col("__v")).cast("long").alias("x_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    pa = F.col("x_a") / na
    pb = F.col("x_b") / nb
    pool = (F.col("x_a") + F.col("x_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    se = F.sqrt(pool * (1 - pool) * (1 / na + 1 / nb))
    ok = (
        (F.col("n_variants") == 2)
        & (F.col("n_a") > 0)
        & (F.col("n_b") > 0)
        & (pool > 0)
        & (pool < 1)
    )
    return picked.select(
        "n_variants",
        "variant_a",
        "n_a",
        "x_a",
        pa.alias("p_a"),
        "variant_b",
        "n_b",
        "x_b",
        pb.alias("p_b"),
        F.when(ok, (pa - pb) / se).alias("z"),
    )


def per_class_prf(
    conf: DataFrame,
    truth_col: str,
    pred_col: str,
    n_col: str,
) -> DataFrame:
    """Per-class precision / recall / F1 from a confusion-cell frame —
    the class-level readout a single accuracy number hides (a dominant
    class can carry accuracy while a rare one scores zero). Input is
    the ≤|C|² cell frame a classifier report produces (e.g.
    `nb_source_confusion`); everything here is bounded-frame math.

    Per class c over the TRUTH domain: tp = n(c,c),
    fn = Σ_truth=c − tp, fp = Σ_pred=c − tp; P = tp/(tp+fp),
    R = tp/(tp+fn), F1 = 2PR/(P+R). All divisions NULL-guarded
    (tp+fp = 0 ⇒ precision undefined — reported NULL, never 0-faked;
    ANSI division would otherwise throw). macro_f1 averages the
    DEFINED F1s as an integer sum of nano-fixed values (a double Σ
    over class rows is partition-order-dependent) over n_defined,
    with n_undefined reported beside it. Returns one row per truth
    class: (class, tp, fp, fn, precision, recall, f1, macro_f1,
    n_undefined_f1), ordered."""
    t = F.col(truth_col)
    p = F.col(pred_col)
    n = F.col(n_col)
    truth_m = conf.groupBy(t.alias("class")).agg(
        F.sum(n).cast("long").alias("__row_n"),
        F.coalesce(F.sum(F.when(t == p, n)), F.lit(0))
        .cast("long")
        .alias("tp"),
    )
    pred_m = conf.groupBy(p.alias("class")).agg(
        F.sum(n).cast("long").alias("__col_n")
    )
    j = truth_m.join(pred_m, "class", "left").select(
        "class",
        "tp",
        (F.coalesce(F.col("__col_n"), F.lit(0)) - F.col("tp"))
        .cast("long")
        .alias("fp"),
        (F.col("__row_n") - F.col("tp")).cast("long").alias("fn"),
    )
    prec = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast("double"),
    )
    rec = F.when(
        F.col("tp") + F.col("fn") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fn")).cast("double"),
    )
    scored = j.select(
        "class", "tp", "fp", "fn", prec.alias("precision"), rec.alias("recall")
    )
    f1 = F.when(
        F.col("precision").isNotNull()
        & F.col("recall").isNotNull()
        & (F.col("precision") + F.col("recall") > 0),
        2 * F.col("precision") * F.col("recall")
        / (F.col("precision") + F.col("recall")),
    )
    withf1 = scored.withColumn("f1", f1).withColumn(
        "__f1_nano", F.round(F.col("f1") * 1e9).cast("long")
    )
    macro = withf1.agg(
        F.coalesce(F.sum("__f1_nano"), F.lit(0)).cast("long").alias("__sum"),
        F.coalesce(F.sum(F.when(F.col("f1").isNotNull(), 1)), F.lit(0))
        .cast("long")
        .alias("__n_def"),
        F.coalesce(F.sum(F.when(F.col("f1").isNull(), 1)), F.lit(0))
        .cast("long")
        .alias("n_undefined_f1"),
    )
    return (
        withf1.crossJoin(F.broadcast(macro))
        .select(
            "class",
            "tp",
            "fp",
            "fn",
            "precision",
            "recall",
            "f1",
            F.when(
                F.col("__n_def") > 0,
                F.col("__sum").cast("double")
                / (F.lit(1e9) * F.col("__n_def").cast("double")),
            ).alias("macro_f1"),
            "n_undefined_f1",
        )
        .orderBy("class")
    )


def cmh_test(
    df: DataFrame,
    stratum_col: str,
    variant_col: str,
    success_col: str,
) -> DataFrame:
    """Cochran–Mantel–Haenszel test + Mantel–Haenszel common odds
    ratio across strata — the Simpson's-paradox-proof A/B readout:
    `ab_test_report`'s pooled z can reverse sign when a confounder
    (region, cohort, weekday) is unevenly split across variants; CMH
    conditions on each stratum's margins and pools only the signal.

    Per stratum k with variant-a successes a_k of n1_k, variant-b
    successes c_k of n2_k, N_k = n1_k + n2_k, m_k = a_k + c_k:

        chi2 = ( Σ_k (a_k − n1_k·m_k/N_k) )²
               / Σ_k n1_k·n2_k·m_k·(N_k−m_k) / (N_k²·(N_k−1))
        OR_MH = Σ_k a_k·d_k/N_k  /  Σ_k b_k·c_k/N_k

    (no continuity correction — the SciPy/R ``correct=False`` form,
    stated so the twin is unambiguous).

    Exactness: the 2×2 cells per stratum are exact BIGINTs from ONE
    hash agg; each stratum's expected/variance/OR terms are
    nano-rounded integers (one fixed IEEE expression of exact ints
    each — the log-rank/psi discipline) summed exactly; chi2 and OR
    are one final IEEE expression. Strata with N_k ≤ 1 carry no
    variance; a stratum missing a variant contributes zeros (its
    margins fix the cell). The contract is exactly two variants
    (name-min = a, name-max = b, the ab_test_report rule): any other
    count reports NULL chi2/OR with n_variants saying what arrived.
    Scale shape: one (stratum, variant) hash agg, then everything
    lives on the stratum frame. Returns ONE row: (n_variants,
    n_strata, variant_a, n_a, x_a, variant_b, n_b, x_b, chi2_cmh,
    or_mh)."""
    y = F.col(success_col).cast("long")
    cells = df.groupBy(
        F.col(stratum_col).alias("__s"), F.col(variant_col).alias("__v")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.coalesce(F.sum(y), F.lit(0)).cast("long").alias("__x"),
    )
    nv = cells.select("__v").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_variants"),
        F.min("__v").alias("variant_a"),
        F.max("__v").alias("variant_b"),
    )
    strata = cells.crossJoin(F.broadcast(nv)).groupBy("__s").agg(
        F.first("n_variants").alias("n_variants"),
        F.first("variant_a").alias("variant_a"),
        F.first("variant_b").alias("variant_b"),
        F.coalesce(
            F.sum(F.when(F.col("__v") == F.col("variant_a"), F.col("__n"))),
            F.lit(0),
        ).cast("long").alias("n1"),
        F.coalesce(
            F.sum(F.when(F.col("__v") == F.col("variant_a"), F.col("__x"))),
            F.lit(0),
        ).cast("long").alias("a"),
        F.coalesce(
            F.sum(F.when(F.col("__v") == F.col("variant_b"), F.col("__n"))),
            F.lit(0),
        ).cast("long").alias("n2"),
        F.coalesce(
            F.sum(F.when(F.col("__v") == F.col("variant_b"), F.col("__x"))),
            F.lit(0),
        ).cast("long").alias("c"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    a = F.col("a").cast("double")
    c = F.col("c").cast("double")
    b = n1 - a
    d = n2 - c
    nk = n1 + n2
    mk = a + c
    e_nano = F.when(nk > 0, F.round(n1 * mk / nk * 1e9).cast("long")).otherwise(
        F.lit(0)
    )
    v_nano = F.when(
        nk > 1,
        F.round(n1 * n2 * mk * (nk - mk) / (nk * nk * (nk - 1.0)) * 1e9)
        .cast("long"),
    ).otherwise(F.lit(0))
    or_num_nano = F.when(nk > 0, F.round(a * d / nk * 1e9).cast("long")).otherwise(
        F.lit(0)
    )
    or_den_nano = F.when(nk > 0, F.round(b * c / nk * 1e9).cast("long")).otherwise(
        F.lit(0)
    )
    sums = strata.agg(
        F.first("n_variants").alias("n_variants"),
        F.first("variant_a").alias("variant_a"),
        F.first("variant_b").alias("variant_b"),
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("n1").cast("long").alias("n_a"),
        F.sum("a").cast("long").alias("x_a"),
        F.sum("n2").cast("long").alias("n_b"),
        F.sum("c").cast("long").alias("x_b"),
        F.sum("a").cast("long").alias("__oa"),
        F.sum(e_nano).cast("long").alias("__en"),
        F.sum(v_nano).cast("long").alias("__vn"),
        F.sum(or_num_nano).cast("long").alias("__orn"),
        F.sum(or_den_nano).cast("long").alias("__ord"),
    )
    two = F.col("n_variants") == 2
    ome = (F.col("__oa").cast("double") * 1e9 - F.col("__en")) / 1e9
    chi2 = F.when(
        two & (F.col("__vn") > 0),
        ome * ome / (F.col("__vn").cast("double") / 1e9),
    )
    or_mh = F.when(
        two & (F.col("__ord") > 0),
        F.col("__orn").cast("double") / F.col("__ord").cast("double"),
    )
    return sums.select(
        "n_variants", "n_strata", "variant_a", "n_a", "x_a",
        "variant_b", "n_b", "x_b",
        chi2.alias("chi2_cmh"), or_mh.alias("or_mh"),
    )


def mcnemar_test(
    df: DataFrame,
    correct_a: Column,
    correct_b: Column,
) -> DataFrame:
    """McNemar's test — do two classifiers scored on the SAME items
    differ? The paired test the eval family was missing: comparing two
    accuracies with a two-proportion z ignores that the predictions
    pair on items, wasting the items both get right/wrong and
    overstating variance. Only the DISCORDANT pairs carry signal:

        b = #(A right, B wrong),  c = #(A wrong, B right)
        chi2 = (b − c)² / (b + c)

    (no continuity correction — stated for the twin). ``correct_a`` /
    ``correct_b`` are boolean columns on the item frame. Exactness:
    b and c are exact BIGINTs from ONE hash agg; chi2 is one IEEE
    expression; b + c = 0 (no discordant items) reports NULL rather
    than fake agreement-as-significance. Items where EITHER flag is
    NULL (unscored by one classifier) are EXCLUDED (ADVICE r11): they
    would land in n_items but in no cell, so the four cells would not
    sum to n_items and the pairing claim would be silently wrong.

    The exclusion lives INSIDE the aggregate (count-of-when cells, an
    explicit both-non-null guard on n_items) rather than as a
    ``.where`` before it: a Filter predicate over derived flag columns
    gets alias-substituted below the projection by predicate pushdown,
    so an expensive flag expression (the lang-id regex fold in
    `mcnemar_lang_baseline`) was evaluated TWICE per row — once in the
    Filter, once in the agg. Measured at sf0.1: 1.21 s → 0.77 s from
    this change alone (r12 verdict item 3). Cell semantics are
    unchanged by three-valued logic: ``count(when(ca & cb, 1))``
    counts only TRUE, and any NULL flag makes every cell predicate
    NULL or non-TRUE. Returns ONE row:
    (n_items, n_both_right, n_both_wrong, n_a_only, n_b_only, chi2)."""
    ca = correct_a.cast("boolean")
    cb = correct_b.cast("boolean")
    agg = df.agg(
        F.count(F.when(ca.isNotNull() & cb.isNotNull(), 1))
        .cast("long").alias("n_items"),
        F.count(F.when(ca & cb, 1)).cast("long").alias("n_both_right"),
        F.count(F.when(~ca & ~cb, 1)).cast("long").alias("n_both_wrong"),
        F.count(F.when(ca & ~cb, 1)).cast("long").alias("n_a_only"),
        F.count(F.when(~ca & cb, 1)).cast("long").alias("n_b_only"),
    )
    b = F.col("n_a_only").cast("double")
    c = F.col("n_b_only").cast("double")
    chi2 = F.when(
        (F.col("n_a_only") + F.col("n_b_only")) > 0,
        (b - c) * (b - c) / (b + c),
    )
    return agg.select(
        "n_items", "n_both_right", "n_both_wrong",
        "n_a_only", "n_b_only", chi2.alias("chi2"),
    )


def welch_ttest(
    df: DataFrame,
    variant_col: str,
    value_col: str,
    scale: int = 100,
) -> DataFrame:
    """Welch's unequal-variance t-test on a CONTINUOUS outcome — the
    revenue-per-user counterpart of `ab_test_report`'s conversion z
    (Student's equal-variance form is never safer; Welch is the
    default modern texts recommend):

        t  = (m_a − m_b) / √(s²_a/n_a + s²_b/n_b)
        df = (s²_a/n_a + s²_b/n_b)² /
             ( (s²_a/n_a)²/(n_a−1) + (s²_b/n_b)²/(n_b−1) )

    Exactness (the moments discipline): values are fixed to the
    ``scale`` integer grid (default cents) BEFORE aggregation, so n,
    Σy and Σy² per variant are exact BIGINTs from ONE hash agg —
    partitioning-exact where a double running sum is not; means,
    sample variances (n−1), t and df are fixed IEEE expressions of
    those ints. Overflow bound: Σy² must fit int64 — at cents that is
    ~9e18, i.e. ~10⁹ rows of |value| ≤ 3e4; raise to the DECIMAL
    spelling past that. Exactly-two-variants contract (name-min = a):
    otherwise t/df are NULL with n_variants saying what arrived;
    n < 2 or zero pooled SE also report NULL. NULL outcomes are
    EXCLUDED before the agg (ADVICE r11): a bare COUNT(*) would count
    null-value rows in n while SUM skips them in Σy/Σy², silently
    deflating means and variances — here n, Σy and Σy² all range over
    the same non-null rows. Returns ONE row:
    (n_variants, variant_a, n_a, mean_a, variant_b, n_b, mean_b,
    t, df)."""
    yi = F.round(F.col(value_col).cast("double") * scale).cast("long")
    per = df.where(
        F.col(value_col).isNotNull()
    ).groupBy(F.col(variant_col).alias("__v")).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.coalesce(F.sum(yi), F.lit(0)).cast("long").alias("__s1"),
        F.coalesce(F.sum(yi * yi), F.lit(0)).cast("long").alias("__s2"),
    )
    picked = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_variants"),
        F.min_by(F.col("__v"), F.col("__v")).alias("variant_a"),
        F.min_by(F.col("__n"), F.col("__v")).cast("long").alias("n_a"),
        F.min_by(F.col("__s1"), F.col("__v")).cast("long").alias("__s1a"),
        F.min_by(F.col("__s2"), F.col("__v")).cast("long").alias("__s2a"),
        F.max_by(F.col("__v"), F.col("__v")).alias("variant_b"),
        F.max_by(F.col("__n"), F.col("__v")).cast("long").alias("n_b"),
        F.max_by(F.col("__s1"), F.col("__v")).cast("long").alias("__s1b"),
        F.max_by(F.col("__s2"), F.col("__v")).cast("long").alias("__s2b"),
    )
    sc = float(scale)

    def _stats(s1, s2, n):
        nn = n.cast("double")
        mean = s1.cast("double") / (nn * sc)
        var = F.when(
            n > 1,
            (s2.cast("double") - s1.cast("double") * s1.cast("double") / nn)
            / ((nn - 1) * sc * sc),
        )
        return mean, var

    ma, va = _stats(F.col("__s1a"), F.col("__s2a"), F.col("n_a"))
    mb, vb = _stats(F.col("__s1b"), F.col("__s2b"), F.col("n_b"))
    sea = va / F.col("n_a").cast("double")
    seb = vb / F.col("n_b").cast("double")
    se2 = sea + seb
    ok = (
        (F.col("n_variants") == 2)
        & (F.col("n_a") > 1)
        & (F.col("n_b") > 1)
        & (se2 > 0)
    )
    t = F.when(ok, (ma - mb) / F.sqrt(se2))
    dof = F.when(
        ok,
        se2 * se2
        / (
            sea * sea / (F.col("n_a").cast("double") - 1)
            + seb * seb / (F.col("n_b").cast("double") - 1)
        ),
    )
    return picked.select(
        "n_variants",
        "variant_a", "n_a", ma.alias("mean_a"),
        "variant_b", "n_b", mb.alias("mean_b"),
        t.alias("t"), dof.alias("df"),
    )


def specific_agreement(
    df: DataFrame,
    item_col: str,
    rater_col: str,
    val_col: str,
) -> DataFrame:
    """Per-category SPECIFIC agreement — the category-level readout one
    alpha number hides (reported BESIDE :func:`krippendorff_alpha`,
    deliberately not chance-corrected: "when someone says 'es', how
    often does a second opinion concur?"). From the coincidence matrix
    (symmetric, per-item pairs weighted 1/(m_u−1)):

        SA_c = o_cc / n_c

    — o_cc the weighted agreeing-pair mass in category c, n_c the
    category's margin. The classical 2×2 positive-agreement formula
    2a/(2a+b+c) generalized to many raters + missing data.

    Exactness (the alpha discipline): n_c is an exact BIGINT margin;
    o_cc·L is an exact integer with L = lcm(1..R−1) (same long fast
    path under lcm < 2^22, same R ≥ 44 refusal via
    :func:`krippendorff_alpha`'s bound argument); SA is ONE IEEE
    division of exact ints. Same scale shape as alpha: two hash aggs +
    the per-item pair join (≤ R(R−1) pair rows per item). Returns one
    row per category: (val, n_ratings, agreement), ordered."""
    vals = df.select(
        F.col(item_col).alias("__i"),
        F.col(rater_col).alias("__r"),
        F.col(val_col).alias("__v"),
    ).where(
        F.col(item_col).isNotNull()
        & F.col(rater_col).isNotNull()
        & F.col(val_col).isNotNull()
    )
    n_raters = vals.select("__r").distinct().count()  # bounded: rater pool
    lcm = 1
    for d in range(2, max(2, n_raters)):
        lcm = math.lcm(lcm, d)
        if lcm > 0x7FFFFFFFFFFFFFFF:
            raise ValueError(
                f"specific_agreement: rater pool {n_raters} needs "
                f"lcm(1..{n_raters - 1}) > int64; not representable"
            )
    m_u = vals.groupBy("__i").agg(F.count(F.lit(1)).cast("long").alias("__m"))
    # persist: multiple consumers (margins, item count, both sides of
    # the pair self-join) otherwise each re-run the vals⋈m_u shuffle
    # join (r13 optimization). Cache OWNER: the consumers live in the
    # returned lazy plan, so the operator cannot unpersist — the
    # session owner clears between queries (perfbench's clear_cache,
    # or the caller; asserted by tests/test_persist_lifecycle.py)
    pairable = vals.join(m_u.where(F.col("__m") >= 2), "__i").persist()
    n_c = pairable.groupBy("__v").agg(
        F.count(F.lit(1)).cast("long").alias("n_ratings")
    )
    dec = "decimal(38,0)"
    a = pairable.select("__i", "__r", "__v", "__m")
    b = pairable.select(
        F.col("__i").alias("__i2"),
        F.col("__r").alias("__r2"),
        F.col("__v").alias("__v2"),
    )
    term = (
        F.sum(F.expr(f"{lcm}L DIV (__m - 1)")).cast(dec)
        if lcm < (1 << 22)
        else F.sum(F.expr(f"CAST({lcm}L DIV (__m - 1) AS {dec})"))
    )
    occ = (
        a.join(
            b,
            (F.col("__i") == F.col("__i2")) & (F.col("__r") != F.col("__r2")),
        )
        .where(F.col("__v") == F.col("__v2"))
        .groupBy("__v")
        .agg(F.coalesce(term, F.lit(0).cast(dec)).alias("__occ_l"))
    )
    return (
        n_c.join(occ, "__v", "left")
        .select(
            F.col("__v").alias("val"),
            "n_ratings",
            (
                F.coalesce(F.col("__occ_l"), F.lit(0).cast(dec)).cast("double")
                / (F.lit(float(lcm)) * F.col("n_ratings").cast("double"))
            ).alias("agreement"),
        )
        .orderBy("val")
    )


def cuped_ttest(
    df: DataFrame,
    variant_col: str,
    pre_col: str,
    value_col: str,
    scale: int = 100,
) -> DataFrame:
    """CUPED variance-reduced A/B test (Deng, Xu, Kohavi & Walker,
    WSDM 2013) — the industry-standard upgrade of :func:`welch_ttest`
    when a pre-experiment covariate exists: adjust each unit's outcome
    by its pre-period value,

        y'ᵢ = yᵢ − θ·(xᵢ − x̄),   θ = cov(x, y) / var(x)  (pooled),

    which leaves every mean DIFFERENCE unbiased (θ·x̄ cancels between
    variants under randomization) while shrinking variance by the
    factor (1 − ρ²) — on strongly autocorrelated metrics (revenue,
    engagement) that is routinely a 40-60% sample-size saving. Then
    Welch's t on the adjusted values.

    Exactness (the welch/krippendorff discipline): x and y are fixed
    to the ``scale`` grid, so per-variant n, Σx, Σy, Σx², Σxy, Σy² are
    exact BIGINTs from ONE hash agg; θ's numerator N·Σxy − Σx·Σy and
    denominator N·Σx² − (Σx)² are exact DECIMAL(38,0) integers (their
    int64 bound is crossed around N ~ 10⁴ units of ~10⁴-cent values,
    so the decimal spelling is the default, not the escalation);
    adjusted means/variances/t/df are fixed IEEE expressions of those
    exact integers, identical on any engine and partitioning. NULL
    pre/outcome rows are excluded up front (ADVICE-r11 consistency
    rule: n and the sums must range over the same rows).

    Contracts: exactly two variants (name-min = a); den = 0 (constant
    covariate) reports θ NULL and falls back to nothing — t/df NULL;
    n < 2 per arm or zero pooled SE also NULL. Returns ONE row:
    (n_variants, theta, variant_a, n_a, adj_mean_a, variant_b, n_b,
    adj_mean_b, t, df)."""
    dec = "decimal(38,0)"
    xi = F.round(F.col(pre_col).cast("double") * scale).cast("long")
    yi = F.round(F.col(value_col).cast("double") * scale).cast("long")
    per = df.where(
        F.col(pre_col).isNotNull() & F.col(value_col).isNotNull()
    ).groupBy(F.col(variant_col).alias("__v")).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.coalesce(F.sum(xi), F.lit(0)).cast("long").alias("__sx"),
        F.coalesce(F.sum(yi), F.lit(0)).cast("long").alias("__sy"),
        F.coalesce(F.sum(xi * xi), F.lit(0)).cast("long").alias("__sxx"),
        F.coalesce(F.sum(xi * yi), F.lit(0)).cast("long").alias("__sxy"),
        F.coalesce(F.sum(yi * yi), F.lit(0)).cast("long").alias("__syy"),
    )
    picked = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_variants"),
        # pooled sums (ALL variants) for theta and the grand mean
        F.sum("__n").cast("long").alias("__N"),
        F.sum("__sx").cast(dec).alias("__SX"),
        F.sum("__sy").cast(dec).alias("__SY"),
        F.sum("__sxx").cast(dec).alias("__SXX"),
        F.sum("__sxy").cast(dec).alias("__SXY"),
        F.min_by(F.col("__v"), F.col("__v")).alias("variant_a"),
        F.min_by(F.col("__n"), F.col("__v")).cast("long").alias("n_a"),
        F.min_by(F.col("__sx"), F.col("__v")).cast("long").alias("__sxa"),
        F.min_by(F.col("__sy"), F.col("__v")).cast("long").alias("__sya"),
        F.min_by(F.col("__sxx"), F.col("__v")).cast("long").alias("__sxxa"),
        F.min_by(F.col("__sxy"), F.col("__v")).cast("long").alias("__sxya"),
        F.min_by(F.col("__syy"), F.col("__v")).cast("long").alias("__syya"),
        F.max_by(F.col("__v"), F.col("__v")).alias("variant_b"),
        F.max_by(F.col("__n"), F.col("__v")).cast("long").alias("n_b"),
        F.max_by(F.col("__sx"), F.col("__v")).cast("long").alias("__sxb"),
        F.max_by(F.col("__sy"), F.col("__v")).cast("long").alias("__syb"),
        F.max_by(F.col("__sxx"), F.col("__v")).cast("long").alias("__sxxb"),
        F.max_by(F.col("__sxy"), F.col("__v")).cast("long").alias("__sxyb"),
        F.max_by(F.col("__syy"), F.col("__v")).cast("long").alias("__syyb"),
    )
    sc = float(scale)
    bigN = F.col("__N").cast(dec)
    num = bigN * F.col("__SXY") - F.col("__SX") * F.col("__SY")
    den = bigN * F.col("__SXX") - F.col("__SX") * F.col("__SX")
    theta = F.when(den > 0, num.cast("double") / den.cast("double"))
    xbar = F.col("__SX").cast("double") / (
        F.col("__N").cast("double") * sc
    )

    def _arm(n, sx, sy, sxx, sxy, syy):
        nn = n.cast("double")
        mean_x = sx.cast("double") / (nn * sc)
        mean_y = sy.cast("double") / (nn * sc)
        adj_mean = mean_y - theta * (mean_x - xbar)
        denom = (nn - 1) * sc * sc
        var_y = F.when(
            n > 1,
            (syy.cast("double") - sy.cast("double") * sy.cast("double") / nn)
            / denom,
        )
        var_x = F.when(
            n > 1,
            (sxx.cast("double") - sx.cast("double") * sx.cast("double") / nn)
            / denom,
        )
        cov = F.when(
            n > 1,
            (sxy.cast("double") - sx.cast("double") * sy.cast("double") / nn)
            / denom,
        )
        adj_var = var_y - 2 * theta * cov + theta * theta * var_x
        return adj_mean, adj_var

    ma, va = _arm(
        F.col("n_a"), F.col("__sxa"), F.col("__sya"),
        F.col("__sxxa"), F.col("__sxya"), F.col("__syya"),
    )
    mb, vb = _arm(
        F.col("n_b"), F.col("__sxb"), F.col("__syb"),
        F.col("__sxxb"), F.col("__sxyb"), F.col("__syyb"),
    )
    sea = va / F.col("n_a").cast("double")
    seb = vb / F.col("n_b").cast("double")
    se2 = sea + seb
    ok = (
        (F.col("n_variants") == 2)
        & (F.col("n_a") > 1)
        & (F.col("n_b") > 1)
        & (den > 0)
        & (se2 > 0)
    )
    t = F.when(ok, (ma - mb) / F.sqrt(se2))
    dof = F.when(
        ok,
        se2 * se2
        / (
            sea * sea / (F.col("n_a").cast("double") - 1)
            + seb * seb / (F.col("n_b").cast("double") - 1)
        ),
    )
    return picked.select(
        "n_variants", theta.alias("theta"),
        "variant_a", "n_a", F.when(den > 0, ma).alias("adj_mean_a"),
        "variant_b", "n_b", F.when(den > 0, mb).alias("adj_mean_b"),
        t.alias("t"), dof.alias("df"),
    )


def diff_in_diff(
    df: DataFrame,
    variant_col: str,
    period_col: str,
    success_col: str,
) -> DataFrame:
    """Difference-in-differences on a binary outcome — the quasi-
    experimental counterpart of the A/B z-test for when assignment is
    NOT randomized (a staged rollout, a geo launch): the treatment
    effect is the change in the treated group's rate minus the change
    in the control group's rate, which differences away any time-
    constant group gap and any group-constant time trend:

        DiD = (p_b2 − p_b1) − (p_a2 − p_a1)
        se  = √( Σ_cells p(1−p)/n ),   z = DiD / se

    Input grain: one row per unit × period with a 0/1 ``success_col``.
    Exactness: the four cells' n and successes are exact BIGINTs from
    ONE hash agg; rates and DiD/se/z are fixed IEEE expressions.
    Contracts: exactly 2 variants × 2 periods (min-name = a / period 1)
    — otherwise DiD/se/z are NULL with n_variants/n_periods saying what
    arrived; an empty cell (n=0) or se=0 also reports NULL rather than
    fake significance. NULL variant/period/success rows are excluded
    up front. Returns ONE row: (n_variants, n_periods, variant_a,
    variant_b, period_1, period_2, n_a1, p_a1, n_a2, p_a2, n_b1, p_b1,
    n_b2, p_b2, did, se, z)."""
    cells = df.where(
        F.col(variant_col).isNotNull()
        & F.col(period_col).isNotNull()
        & F.col(success_col).isNotNull()
    ).groupBy(
        F.col(variant_col).alias("__v"), F.col(period_col).alias("__p")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(F.col(success_col).cast("long")).cast("long").alias("__x"),
    )
    picked = cells.agg(
        F.count_distinct(F.col("__v")).cast("long").alias("n_variants"),
        F.count_distinct(F.col("__p")).cast("long").alias("n_periods"),
        F.min("__v").alias("variant_a"),
        F.max("__v").alias("variant_b"),
        F.min("__p").alias("period_1"),
        F.max("__p").alias("period_2"),
    )

    def cell(which_v, which_p, col):
        return F.coalesce(
            F.sum(
                F.when(
                    (F.col("__v") == F.col(which_v))
                    & (F.col("__p") == F.col(which_p)),
                    F.col(col),
                )
            ),
            F.lit(0),
        ).cast("long")

    # the bounds frame is ONE row — the crossJoin is a bounded scalar
    # attach, the same shape heavy_hitters uses for its total. The cell
    # fold is a GLOBAL agg (always one row, zeros on empty input) and
    # the bounds re-attach after: a groupBy over the bounds columns
    # would return ZERO rows on empty/all-NULL input, breaking the
    # documented one-row contract (r12 self-review — verified live).
    folded = cells.crossJoin(F.broadcast(picked)).agg(
        cell("variant_a", "period_1", "__n").alias("n_a1"),
        cell("variant_a", "period_1", "__x").alias("__xa1"),
        cell("variant_a", "period_2", "__n").alias("n_a2"),
        cell("variant_a", "period_2", "__x").alias("__xa2"),
        cell("variant_b", "period_1", "__n").alias("n_b1"),
        cell("variant_b", "period_1", "__x").alias("__xb1"),
        cell("variant_b", "period_2", "__n").alias("n_b2"),
        cell("variant_b", "period_2", "__x").alias("__xb2"),
    )
    wide = picked.crossJoin(F.broadcast(folded))

    def rate(x, n):
        return F.when(
            F.col(n) > 0, F.col(x).cast("double") / F.col(n).cast("double")
        )

    pa1, pa2 = rate("__xa1", "n_a1"), rate("__xa2", "n_a2")
    pb1, pb2 = rate("__xb1", "n_b1"), rate("__xb2", "n_b2")
    ok = (
        (F.col("n_variants") == 2)
        & (F.col("n_periods") == 2)
        & (F.col("n_a1") > 0) & (F.col("n_a2") > 0)
        & (F.col("n_b1") > 0) & (F.col("n_b2") > 0)
    )
    did = F.when(ok, (pb2 - pb1) - (pa2 - pa1))
    se2 = (
        pa1 * (1 - pa1) / F.col("n_a1").cast("double")
        + pa2 * (1 - pa2) / F.col("n_a2").cast("double")
        + pb1 * (1 - pb1) / F.col("n_b1").cast("double")
        + pb2 * (1 - pb2) / F.col("n_b2").cast("double")
    )
    se = F.when(ok, F.sqrt(se2))
    z = F.when(ok & (se2 > 0), did / F.sqrt(se2))
    return wide.select(
        "n_variants", "n_periods",
        "variant_a", "variant_b", "period_1", "period_2",
        "n_a1", pa1.alias("p_a1"), "n_a2", pa2.alias("p_a2"),
        "n_b1", pb1.alias("p_b1"), "n_b2", pb2.alias("p_b2"),
        did.alias("did"), se.alias("se"), z.alias("z"),
    )


# z constants for the MDE report, shared as LITERALS with the SQL twin
# (both engines parse the same decimal text to the same IEEE double):
# two-sided alpha = 0.05 and power = 0.80 — the industry-default pair.
Z_ALPHA_0_05 = 1.959963984540054
Z_POWER_0_80 = 0.8416212335729143


def ab_power_mde(
    df: DataFrame,
    variant_col: str,
    value_col: str,
    scale: int = 100,
) -> DataFrame:
    """Minimum detectable effect and required sample size for the
    running A/B — the DESIGN readout beside :func:`welch_ttest`'s
    verdict: "this far into the experiment, what effect size could we
    even see?" A team reading only t/p on an underpowered test ships
    noise; the MDE says what the test can promise,

        MDE = (z_{α/2} + z_{power}) · √(s²_a/n_a + s²_b/n_b)

    at the default α = 0.05 two-sided / 80% power (constants shared as
    literals with the twin), plus the per-arm n that would power the
    OBSERVED difference: n = (z_{α/2}+z_{power})²·(s²_a+s²_b)/Δ² —
    ceil'd, NULL when Δ = 0 (no observed effect to power).

    Exactness: the welch moment discipline verbatim (cents-grid BIGINT
    n/Σy/Σy² from ONE hash agg, NULL outcomes excluded, fixed IEEE
    expressions). Returns ONE row: (n_variants, variant_a, n_a, mean_a,
    variant_b, n_b, mean_b, mean_diff, se, mde_abs,
    n_per_arm_for_observed)."""
    yi = F.round(F.col(value_col).cast("double") * scale).cast("long")
    per = df.where(
        F.col(value_col).isNotNull()
    ).groupBy(F.col(variant_col).alias("__v")).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.coalesce(F.sum(yi), F.lit(0)).cast("long").alias("__s1"),
        F.coalesce(F.sum(yi * yi), F.lit(0)).cast("long").alias("__s2"),
    )
    picked = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_variants"),
        F.min_by(F.col("__v"), F.col("__v")).alias("variant_a"),
        F.min_by(F.col("__n"), F.col("__v")).cast("long").alias("n_a"),
        F.min_by(F.col("__s1"), F.col("__v")).cast("long").alias("__s1a"),
        F.min_by(F.col("__s2"), F.col("__v")).cast("long").alias("__s2a"),
        F.max_by(F.col("__v"), F.col("__v")).alias("variant_b"),
        F.max_by(F.col("__n"), F.col("__v")).cast("long").alias("n_b"),
        F.max_by(F.col("__s1"), F.col("__v")).cast("long").alias("__s1b"),
        F.max_by(F.col("__s2"), F.col("__v")).cast("long").alias("__s2b"),
    )
    sc = float(scale)

    def _stats(s1, s2, n):
        nn = n.cast("double")
        mean = s1.cast("double") / (nn * sc)
        var = F.when(
            n > 1,
            (s2.cast("double") - s1.cast("double") * s1.cast("double") / nn)
            / ((nn - 1) * sc * sc),
        )
        return mean, var

    ma, va = _stats(F.col("__s1a"), F.col("__s2a"), F.col("n_a"))
    mb, vb = _stats(F.col("__s1b"), F.col("__s2b"), F.col("n_b"))
    se2 = va / F.col("n_a").cast("double") + vb / F.col("n_b").cast("double")
    ok = (
        (F.col("n_variants") == 2)
        & (F.col("n_a") > 1)
        & (F.col("n_b") > 1)
        & (se2 > 0)
    )
    zsum = F.lit(Z_ALPHA_0_05) + F.lit(Z_POWER_0_80)
    diff = ma - mb
    mde = F.when(ok, zsum * F.sqrt(se2))
    n_req = F.when(
        ok & (diff != 0),
        F.ceil(zsum * zsum * (va + vb) / (diff * diff)).cast("long"),
    )
    return picked.select(
        "n_variants",
        "variant_a", "n_a", ma.alias("mean_a"),
        "variant_b", "n_b", mb.alias("mean_b"),
        F.when(ok, diff).alias("mean_diff"),
        F.when(ok, F.sqrt(se2)).alias("se"),
        mde.alias("mde_abs"),
        n_req.alias("n_per_arm_for_observed"),
    )


def trimmed_mean_ttest(
    df: DataFrame,
    variant_col: str,
    value_col: str,
    trim: float = 0.05,
    scale: int = 100,
) -> DataFrame:
    """Trimmed-mean Welch test — the outlier-robust A/B the revenue
    metric actually needs: one whale purchase can flip a plain mean
    test, so trim ⌊trim·n⌋ rows from EACH tail per variant (by value
    rank) and run Welch on what remains (Yuen's test without the
    winsorized-variance correction — the trimmed-sample moments are
    used directly, stated for the twin).

    Determinism: values are fixed to the ``scale`` grid and the trim
    cuts a fixed COUNT per tail by value order — ties at the boundary
    are interchangeable (the kept MULTISET of values is identical
    whichever tied row the cut lands on), so the statistic is
    partitioning- and engine-independent without any tiebreak column.
    ⌊trim·n⌋ is floor of one IEEE product of exact ints — both engines
    make the identical boundary decision. NULL outcomes excluded (the
    welch rule).

    Scale shape — the trim runs on the VALUE HISTOGRAM, never on rows:
    a per-row rank window partitioned by variant would funnel each
    variant's entire row stream through ONE task at 100 TB. Instead:
    one hash agg to (variant, value, count), a cumulative window over
    the histogram (|distinct grid values| rows per variant — bounded
    by the value domain, not the data), and each value's kept
    multiplicity is the overlap of its [cum−cnt, cum) rank interval
    with the kept band [k, n−k): exact integer interval arithmetic,
    boundary ties kept PARTIALLY by count, which is precisely the
    interchangeable-multiset semantics. Moments are then exact BIGINT
    sums of count·y / count·y².

    Contracts: exactly two variants; n_kept < 2 per arm or zero
    pooled SE reports NULL. trim ∈ [0, 0.5). Returns ONE row:
    (n_variants, variant_a, n_a, n_kept_a, tmean_a, variant_b, n_b,
    n_kept_b, tmean_b, t, df)."""
    if not 0.0 <= float(trim) < 0.5:
        raise ValueError(
            f"trimmed_mean_ttest: trim must be in [0, 0.5), got {trim}"
        )
    from pyspark.sql import Window

    yi = F.round(F.col(value_col).cast("double") * scale).cast("long")
    hist = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(variant_col).alias("__v"), yi.alias("__y"))
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    wc = Window.partitionBy("__v").orderBy(F.col("__y").asc())
    cum = hist.select(
        "__v", "__y", "__c",
        F.sum("__c").over(
            wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("long").alias("__cum"),
        F.sum("__c").over(Window.partitionBy("__v")).cast("long").alias(
            "__n"
        ),
    )
    k = F.floor(F.lit(float(trim)) * F.col("__n")).cast("long")
    # kept multiplicity of this value = |[cum−cnt, cum) ∩ [k, n−k)|
    kept_c = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("__cum"), F.col("__n") - k)
        - F.greatest(F.col("__cum") - F.col("__c"), k),
    )
    per = cum.groupBy("__v").agg(
        F.max("__n").cast("long").alias("__ntot"),
        F.coalesce(F.sum(kept_c), F.lit(0)).cast("long").alias("__nk"),
        F.coalesce(F.sum(kept_c * F.col("__y")), F.lit(0))
        .cast("long").alias("__s1"),
        F.coalesce(F.sum(kept_c * F.col("__y") * F.col("__y")), F.lit(0))
        .cast("long").alias("__s2"),
    )
    picked = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_variants"),
        F.min_by(F.col("__v"), F.col("__v")).alias("variant_a"),
        F.min_by(F.col("__ntot"), F.col("__v")).cast("long").alias("n_a"),
        F.min_by(F.col("__nk"), F.col("__v")).cast("long").alias("n_kept_a"),
        F.min_by(F.col("__s1"), F.col("__v")).cast("long").alias("__s1a"),
        F.min_by(F.col("__s2"), F.col("__v")).cast("long").alias("__s2a"),
        F.max_by(F.col("__v"), F.col("__v")).alias("variant_b"),
        F.max_by(F.col("__ntot"), F.col("__v")).cast("long").alias("n_b"),
        F.max_by(F.col("__nk"), F.col("__v")).cast("long").alias("n_kept_b"),
        F.max_by(F.col("__s1"), F.col("__v")).cast("long").alias("__s1b"),
        F.max_by(F.col("__s2"), F.col("__v")).cast("long").alias("__s2b"),
    )
    sc = float(scale)

    def _stats(s1, s2, n):
        nn = n.cast("double")
        mean = s1.cast("double") / (nn * sc)
        var = F.when(
            n > 1,
            (s2.cast("double") - s1.cast("double") * s1.cast("double") / nn)
            / ((nn - 1) * sc * sc),
        )
        return mean, var

    ma, va = _stats(F.col("__s1a"), F.col("__s2a"), F.col("n_kept_a"))
    mb, vb = _stats(F.col("__s1b"), F.col("__s2b"), F.col("n_kept_b"))
    sea = va / F.col("n_kept_a").cast("double")
    seb = vb / F.col("n_kept_b").cast("double")
    se2 = sea + seb
    ok = (
        (F.col("n_variants") == 2)
        & (F.col("n_kept_a") > 1)
        & (F.col("n_kept_b") > 1)
        & (se2 > 0)
    )
    t = F.when(ok, (ma - mb) / F.sqrt(se2))
    dof = F.when(
        ok,
        se2 * se2
        / (
            sea * sea / (F.col("n_kept_a").cast("double") - 1)
            + seb * seb / (F.col("n_kept_b").cast("double") - 1)
        ),
    )
    return picked.select(
        "n_variants",
        "variant_a", "n_a", "n_kept_a", ma.alias("tmean_a"),
        "variant_b", "n_b", "n_kept_b", mb.alias("tmean_b"),
        t.alias("t"), dof.alias("df"),
    )


def rank_sum_test(
    df: DataFrame,
    variant_col: str,
    value_col: str,
    scale: int = 100,
) -> DataFrame:
    """Wilcoxon–Mann–Whitney rank-sum test on a CONTINUOUS outcome —
    the distribution-free counterpart of :func:`welch_ttest`: a
    whale's rank is just "largest", so heavy-tailed revenue can't
    drag the statistic the way it drags a mean (the same motivation
    as the trimmed A/B, but as a TEST with an exact null rather than
    an estimator). Midrank formulation with the normal approximation
    and the standard tie correction:

        U_a = W_a − n_a(n_a+1)/2
        z   = (U_a − n_a·n_b/2) /
              √( n_a·n_b/12 · ((N+1) − Σ(t³−t)/(N(N−1))) )

    with W_a the variant-a midrank sum and t the per-value tie counts.

    Exactness (the auc_exact discipline, `distsort.auc_exact`): values
    fix to the ``scale`` grid (cents); per-distinct-value (count,
    count_a) cells ride ONE ranked_cumsum range exchange; the doubled
    midrank 2·cum − t + 1 keeps everything integer, so 2W_a and
    Σ(t³−t) are exact DECIMAL(38,0) sums (2W_a ~ N², past int64 at
    N ≈ 3e9 rows; t³ past int64 at 2M-row ties) and z is one fixed
    IEEE expression of those integers — bit-identical on any engine
    while they sit under 2^53. Exactly-two-variants contract (name-min
    = a) as welch_ttest; NULL outcomes excluded before the agg.
    Returns ONE row: (n_variants, variant_a, n_a, variant_b, n_b,
    u_a, z)."""
    from .distsort import ranked_cumsum

    yi = F.round(F.col(value_col).cast("double") * int(scale)).cast("long")
    vals = df.where(F.col(value_col).isNotNull()).select(
        F.col(variant_col).alias("__v"), yi.alias("__y")
    )
    nv = vals.agg(
        F.count_distinct(F.col("__v")).cast("long").alias("n_variants"),
        F.min("__v").alias("__va"),
        F.max("__v").alias("__vb"),
    )
    cells = (
        vals.crossJoin(F.broadcast(nv))
        .groupBy("__y")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__t"),
            F.sum((F.col("__v") == F.col("__va")).cast("long"))
            .cast("long")
            .alias("__ta"),
            F.max("n_variants").alias("n_variants"),
            F.max("__va").alias("variant_a"),
            F.max("__vb").alias("variant_b"),
        )
    )
    cum = ranked_cumsum(
        cells, [F.col("__y")], "__t",
        rank_name="__rk", cumsum_name="__cum",
    )
    dec = "decimal(38,0)"
    agg = cum.agg(
        F.max("n_variants").alias("n_variants"),
        F.max("variant_a").alias("variant_a"),
        F.max("variant_b").alias("variant_b"),
        F.coalesce(F.sum("__ta"), F.lit(0)).cast("long").alias("n_a"),
        (F.coalesce(F.sum("__t"), F.lit(0)) - F.coalesce(
            F.sum("__ta"), F.lit(0)
        )).cast("long").alias("n_b"),
        F.coalesce(
            F.sum(
                (F.col("__ta") * (2 * F.col("__cum") - F.col("__t") + 1))
                .cast(dec)
            ),
            F.lit(0).cast(dec),
        ).alias("__two_w"),
        F.coalesce(
            F.sum(
                (F.col("__t").cast(dec) * F.col("__t") * F.col("__t")
                 - F.col("__t"))
            ),
            F.lit(0).cast(dec),
        ).alias("__tie3"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    nn = na + nb
    # 2U_a = 2W_a − n_a(n_a+1); U_a − n_a n_b / 2 = (2U_a − n_a n_b)/2
    two_u = F.col("__two_w").cast("double") - na * (na + 1)
    var_u = (
        na * nb / 12.0
        * ((nn + 1) - F.col("__tie3").cast("double") / (nn * (nn - 1)))
    )
    ok = (
        (F.col("n_variants") == 2)
        & (F.col("n_a") > 0)
        & (F.col("n_b") > 0)
        & (nn > 1)
    )
    z = F.when(
        ok & (var_u > 0), (two_u - na * nb) / (2.0 * F.sqrt(var_u))
    )
    return agg.select(
        "n_variants",
        "variant_a", "n_a",
        "variant_b", "n_b",
        F.when(ok, two_u / 2.0).alias("u_a"),
        z.alias("z"),
    )


def srm_check(
    df: DataFrame,
    variant_col: str,
    expected_shares: dict[str, float],
) -> DataFrame:
    """Sample-ratio-mismatch check — the experiment-platform tripwire
    that runs BEFORE any outcome test: if the realized assignment
    split deviates from the design (a broken bucketing hash, a
    variant-specific crash dropping users, a bot filter firing
    asymmetrically), every downstream p-value is garbage regardless
    of effect size. Chi-square goodness-of-fit of the observed
    variant counts against ``expected_shares`` (e.g. {'A': 0.5,
    'B': 0.5}):

        chi2 = Σ_v (o_v − N·w_v)² / (N·w_v),   dof = k − 1

    Exactness: o_v are exact BIGINTs from ONE hash agg over the
    bounded variant key; each variant's chi2 term is nano-fixed off
    its exact count (integer sum over k rows — partitioning-
    deterministic); the reported chi2 is one final /1e9. Variants
    absent from ``expected_shares`` (an unknown bucket is itself an
    SRM) contribute min(o², 1e9) — loud, not dropped; expected variants
    with ZERO observed rows cannot appear in a group-by, so
    n_variants < len(expected_shares) is itself the signal. Returns
    ONE row: (n_variants, n_total, chi2_srm, dof, worst_variant,
    worst_abs_dev)."""
    per = df.where(F.col(variant_col).isNotNull()).groupBy(
        F.col(variant_col).alias("__v")
    ).agg(F.count(F.lit(1)).cast("long").alias("__o"))
    tot = per.agg(
        F.coalesce(F.sum("__o"), F.lit(0)).cast("long").alias("__n")
    )
    share = F.lit(None).cast("double")
    for v, w in sorted(expected_shares.items()):
        share = F.when(F.col("__v") == v, F.lit(float(w))).otherwise(share)
    joined = per.crossJoin(F.broadcast(tot)).select(
        "__v", "__o", "__n", share.alias("__w")
    )
    exp = F.col("__n").cast("double") * F.col("__w")
    dev = F.col("__o").cast("double") - exp
    term = F.when(F.col("__w").isNotNull() & (exp > 0), dev * dev / exp
                  ).otherwise(
        # unknown bucket: its whole mass is mismatch (w→0 limit).
        # Capped at min(o², 1e9): any chi2 ≥ 1e9 is maximally loud,
        # and the cap keeps the nano-fixed term inside int64 (an
        # uncapped o²·1e9 wraps past o ≈ 96k rows)
        F.least(
            F.col("__o").cast("double") * F.col("__o").cast("double"),
            F.lit(1e9),
        )
    )
    term_nano = F.round(term * 1e9).cast("long")
    out = joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_variants"),
        F.max("__n").cast("long").alias("n_total"),
        F.coalesce(F.sum(term_nano), F.lit(0)).cast("long").alias("__chi"),
        # tie-break by variant name: a TWO-variant SRM always ties
        # (dev_a = -dev_b exactly), so a bare max_by would be
        # partitioning-nondeterministic on the common case
        F.max_by(
            F.col("__v"),
            F.struct(F.abs(dev).alias("d"), F.col("__v").alias("v")),
        ).alias("worst_variant"),
        F.max(F.abs(dev)).alias("worst_abs_dev"),
    )
    return out.select(
        "n_variants",
        "n_total",
        (F.col("__chi").cast("double") / 1e9).alias("chi2_srm"),
        (F.col("n_variants") - 1).cast("long").alias("dof"),
        "worst_variant",
        "worst_abs_dev",
    )


def post_stratified_ab(
    df: DataFrame,
    stratum_col: str,
    variant_col: str,
    value_col: str,
    scale: int = 100,
) -> DataFrame:
    """Post-stratification estimator for a continuous-outcome A/B —
    the variance-reduction sibling of :func:`cuped_ab` that needs no
    pre-period, only a categorical covariate known for every unit
    (entry weekday, country, platform): reweight each stratum's
    within-stratum difference by the stratum's POPULATION share,

        Δ_ps = Σ_s (N_s/N)·(m_as − m_bs)
        Var  = Σ_s (N_s/N)²·(s²_as/n_as + s²_bs/n_bs)

    which removes the variance component due to variants landing
    unevenly across strata (and the bias if the imbalance is real —
    the estimator CMH applies to conversion, here for means).

    Exactness (the cmh_test discipline): per-(stratum, variant) n, Σy,
    Σy² are exact BIGINTs on the ``scale`` grid from ONE hash agg;
    each stratum's Δ and Var contributions are nano-fixed integers off
    those exact moments (the stratum fold is an integer sum —
    partitioning-deterministic); Δ_ps, se and z are one final IEEE
    expression each. Strata missing either variant contribute nothing
    but are COUNTED (n_strata_skipped) — silently dropping them biases
    the estimate toward covered strata. Exactly-two-variants contract
    (name-min = a); NULL outcomes and NULL strata excluded. Returns
    ONE row: (n_variants, n_strata, n_strata_skipped, n_a, n_b,
    diff_naive, diff_ps, se_ps, z_ps)."""
    sc = float(scale)
    yi = F.round(F.col(value_col).cast("double") * int(scale)).cast("long")
    base = df.where(
        F.col(value_col).isNotNull() & F.col(stratum_col).isNotNull()
    ).select(
        F.col(stratum_col).alias("__s"),
        F.col(variant_col).alias("__v"),
        yi.alias("__y"),
    )
    nv = base.agg(
        F.count_distinct(F.col("__v")).cast("long").alias("n_variants"),
        F.min("__v").alias("__va"),
    )
    cells = (
        base.crossJoin(F.broadcast(nv))
        .groupBy("__s")
        .agg(
            F.max("n_variants").alias("n_variants"),
            F.sum((F.col("__v") == F.col("__va")).cast("long"))
            .cast("long").alias("na"),
            F.coalesce(
                F.sum(F.when(F.col("__v") == F.col("__va"), F.col("__y"))),
                F.lit(0),
            ).cast("long").alias("s1a"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("__v") == F.col("__va"),
                        F.col("__y") * F.col("__y"),
                    )
                ),
                F.lit(0),
            ).cast("long").alias("s2a"),
            F.sum((F.col("__v") != F.col("__va")).cast("long"))
            .cast("long").alias("nb"),
            F.coalesce(
                F.sum(F.when(F.col("__v") != F.col("__va"), F.col("__y"))),
                F.lit(0),
            ).cast("long").alias("s1b"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("__v") != F.col("__va"),
                        F.col("__y") * F.col("__y"),
                    )
                ),
                F.lit(0),
            ).cast("long").alias("s2b"),
        )
    )
    n_s = (F.col("na") + F.col("nb")).cast("double")
    tot = cells.agg(
        F.coalesce(F.sum(F.col("na") + F.col("nb")), F.lit(0))
        .cast("long").alias("__n_pop")
    )
    w = cells.crossJoin(F.broadcast(tot))
    usable = (F.col("na") > 1) & (F.col("nb") > 1)
    npop = F.col("__n_pop").cast("double")
    ma = F.col("s1a").cast("double") / (F.col("na").cast("double") * sc)
    mb = F.col("s1b").cast("double") / (F.col("nb").cast("double") * sc)

    def _var(s1, s2, n):
        nn = n.cast("double")
        return (
            s2.cast("double") - s1.cast("double") * s1.cast("double") / nn
        ) / ((nn - 1) * sc * sc)

    va = _var(F.col("s1a"), F.col("s2a"), F.col("na"))
    vb = _var(F.col("s1b"), F.col("s2b"), F.col("nb"))
    share = n_s / npop
    d_nano = F.when(
        usable, F.round(share * (ma - mb) * 1e9).cast("long")
    ).otherwise(F.lit(0))
    v_pico = F.when(
        usable,
        F.round(
            share * share
            * (va / F.col("na").cast("double")
               + vb / F.col("nb").cast("double"))
            * 1e12
        ).cast("long"),
    ).otherwise(F.lit(0))
    folded = w.agg(
        F.max("n_variants").alias("n_variants"),
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.coalesce(F.sum((~usable).cast("long")), F.lit(0))
        .cast("long").alias("n_strata_skipped"),
        F.coalesce(F.sum("na"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.sum("nb"), F.lit(0)).cast("long").alias("n_b"),
        F.coalesce(F.sum("s1a"), F.lit(0)).cast("long").alias("__t1a"),
        F.coalesce(F.sum("s1b"), F.lit(0)).cast("long").alias("__t1b"),
        F.coalesce(F.sum(d_nano), F.lit(0)).cast("long").alias("__d"),
        F.coalesce(F.sum(v_pico), F.lit(0)).cast("long").alias("__v"),
    )
    ok = (F.col("n_variants") == 2) & (F.col("__v") > 0)
    diff_naive = (
        F.col("__t1a").cast("double") / (F.col("n_a").cast("double") * sc)
        - F.col("__t1b").cast("double") / (F.col("n_b").cast("double") * sc)
    )
    diff_ps = F.col("__d").cast("double") / 1e9
    se_ps = F.sqrt(F.col("__v").cast("double") / 1e12)
    return folded.select(
        "n_variants",
        "n_strata",
        "n_strata_skipped",
        "n_a",
        "n_b",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0), diff_naive
        ).alias("diff_naive"),
        F.when(ok, diff_ps).alias("diff_ps"),
        F.when(ok, se_ps).alias("se_ps"),
        F.when(ok, diff_ps / se_ps).alias("z_ps"),
    )


def msprt_ab(
    df: DataFrame,
    variant_col: str,
    value_col: str,
    scale: int = 100,
    tau: float = 1.0,
    alpha: float = 0.05,
) -> DataFrame:
    """Mixture sequential probability ratio test (mSPRT) — the
    ALWAYS-VALID A/B readout (Johari, Koomen, Pekelis & Walsh,
    "Peeking at A/B Tests", KDD'17): every fixed-horizon test in this
    family (welch, ranksum, CUPED...) is only valid when read ONCE at
    a pre-committed n, but a live experiment dashboard is read every
    day — continuous peeking at a fixed-n z inflates false positives
    severalfold. The mSPRT's mixture likelihood ratio against a
    N(0, τ²) prior on the effect,

        log Λ_n = ½·ln(V/(V+τ²)) + θ̂²·τ²/(2·V·(V+τ²))

    (θ̂ the observed mean difference, V its Welch-style variance
    s²_a/n_a + s²_b/n_b), is a test martingale: rejecting when
    log Λ ≥ ln(1/α) holds the α level at ANY data-dependent stopping
    time, so the dashboard can be watched continuously.

    Exactness (the welch moments + Kaplan–Meier ln discipline):
    per-variant n/Σy/Σy² are exact BIGINTs on the ``scale`` grid from
    ONE hash agg; θ̂ and V are fixed IEEE expressions of those ints;
    log Λ is ONE libm ln per report (not per row), micro-rounded to an
    exact BIGINT (``log_lambda_micro``) so a 1-ulp cross-libm ln
    difference cannot flip the report; the rejection compares that
    integer against the pre-computed integer threshold
    round(ln(1/α)·1e6) — exp() never runs. Exactly-two-variants and
    n>1 contracts as welch_ttest; NULL outcomes excluded. Returns ONE
    row: (n_variants, variant_a, n_a, mean_a, variant_b, n_b, mean_b,
    theta, v_n, log_lambda_micro, reject_null)."""
    tau2 = float(tau) * float(tau)
    thresh_micro = int(round(math.log(1.0 / float(alpha)) * 1e6))
    yi = F.round(F.col(value_col).cast("double") * int(scale)).cast("long")
    per = df.where(
        F.col(value_col).isNotNull()
    ).groupBy(F.col(variant_col).alias("__v")).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.coalesce(F.sum(yi), F.lit(0)).cast("long").alias("__s1"),
        F.coalesce(F.sum(yi * yi), F.lit(0)).cast("long").alias("__s2"),
    )
    picked = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_variants"),
        F.min_by(F.col("__v"), F.col("__v")).alias("variant_a"),
        F.min_by(F.col("__n"), F.col("__v")).cast("long").alias("n_a"),
        F.min_by(F.col("__s1"), F.col("__v")).cast("long").alias("__s1a"),
        F.min_by(F.col("__s2"), F.col("__v")).cast("long").alias("__s2a"),
        F.max_by(F.col("__v"), F.col("__v")).alias("variant_b"),
        F.max_by(F.col("__n"), F.col("__v")).cast("long").alias("n_b"),
        F.max_by(F.col("__s1"), F.col("__v")).cast("long").alias("__s1b"),
        F.max_by(F.col("__s2"), F.col("__v")).cast("long").alias("__s2b"),
    )
    sc = float(scale)

    def _stats(s1, s2, n):
        nn = n.cast("double")
        mean = s1.cast("double") / (nn * sc)
        var = F.when(
            n > 1,
            (s2.cast("double") - s1.cast("double") * s1.cast("double") / nn)
            / ((nn - 1) * sc * sc),
        )
        return mean, var

    ma, va = _stats(F.col("__s1a"), F.col("__s2a"), F.col("n_a"))
    mb, vb = _stats(F.col("__s1b"), F.col("__s2b"), F.col("n_b"))
    theta = ma - mb
    v_n = va / F.col("n_a").cast("double") + vb / F.col("n_b").cast("double")
    ok = (
        (F.col("n_variants") == 2)
        & (F.col("n_a") > 1)
        & (F.col("n_b") > 1)
        & (v_n > 0)
    )
    log_lambda = (
        F.lit(0.5) * F.log(v_n / (v_n + F.lit(tau2)))
        + theta * theta * F.lit(tau2)
        / (F.lit(2.0) * v_n * (v_n + F.lit(tau2)))
    )
    llm = F.round(log_lambda * 1e6).cast("long")
    return picked.select(
        "n_variants",
        "variant_a", "n_a", ma.alias("mean_a"),
        "variant_b", "n_b", mb.alias("mean_b"),
        F.when(ok, theta).alias("theta"),
        F.when(ok, v_n).alias("v_n"),
        F.when(ok, llm).alias("log_lambda_micro"),
        F.when(ok, llm >= F.lit(thresh_micro)).alias("reject_null"),
    )
