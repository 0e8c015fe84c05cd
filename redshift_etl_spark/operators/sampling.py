"""Deterministic sampling and dataset splits.

A training pipeline needs STABLE sampling: the same document must land
in the same split on every run, on any engine, regardless of
partitioning — `df.sample()`/`RAND()` give none of that. The standard
trick: hash a key column and bucket the hash. md5 is used (not
Spark-internal murmur3/xxhash) so the assignment is reproducible
everywhere, including the DuckDB oracle — same policy as the dedup
signatures (operators/dedup.py).

The bucket is the first two hex nibbles of md5(key) → uniform 0..255.
Everything is a per-row projection: no shuffle, no state, trivially
parallel at any scale, and a split filter pushes down to the scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_HEX = "0123456789abcdef"


def spread(df: DataFrame, *keys: str, factor: int = 1) -> DataFrame:
    """Hash-spread a frame to cluster width before a stage whose
    per-row cost dwarfs its bytes (hash chains, explodes, pair
    kernels): one narrow exchange buys full-parallel execution of the
    expensive stage. This is the guide §2.5 remedy for unsplittable /
    skewed inputs — the driver testdata is single-row-group parquet
    (ONE scan task however many cores exist), and at 100 TB the same
    spelling protects against a skewed or gzip'd source while costing
    one |input|-sized narrow shuffle ahead of work that is 10-100×
    larger. Width = sparkContext.defaultParallelism × factor — derived
    from the cluster, never a local constant. Keyed spread (hash) skips
    round-robin's sort-before-repartition pass; results never depend on
    partitioning (the repo-wide determinism contract)."""
    par = df.sparkSession.sparkContext.defaultParallelism * factor
    return df.repartition(par, *keys) if keys else df.repartition(par)


def _hex_prefix_long(h: Column, n_nibbles: int) -> Column:
    """First ``n_nibbles`` hex chars of ``h`` as a long — numerically
    identical to the per-nibble instr/substr fold (base-16 positional
    value of the prefix) but one intrinsic instead of ``n`` string
    scans per row (r13 optimization, guide §1.2 "per-task work":
    measured 1.66 s → 0.89 s for the 8-nibble u32 over 4M rows; the
    md5 itself is 0.48 s of that). The SQL-twin helpers below keep the
    instr/substr spelling — the ORACLE text is pinned; only the Spark
    evaluation strategy changed, and the driver hash-check proves the
    integers still agree."""
    return F.conv(F.substring(h, 1, n_nibbles), 16, 10).cast("long")


def hash_bucket(key: Column | str) -> Column:
    """Uniform bucket 0..255 from md5(key) — first two hex nibbles as
    a base-16 integer (`_hex_prefix_long`); the DuckDB twin keeps the
    engine-portable instr/substr spelling (`oracle_bucket_sql`)."""
    c = F.col(key) if isinstance(key, str) else key
    h = F.md5(c.cast("string"))
    return _hex_prefix_long(h, 2)


def hash_sample(df: DataFrame, key: str, fraction: float) -> DataFrame:
    """Deterministic ~fraction sample: keep rows whose bucket falls
    below fraction·256 (resolution 1/256)."""
    return df.filter(hash_bucket(key) < int(round(fraction * 256)))


def deterministic_split(
    df: DataFrame,
    key: str,
    train: float = 0.8,
    val: float = 0.1,
    split_col: str = "split",
) -> DataFrame:
    """Adds `split` ∈ {train, val, test} with ~train/val/rest weights,
    stable in the key: re-runs, engine changes, and new data never move
    an existing row between splits (no leakage of val/test into train)."""
    b = hash_bucket(key)
    t_edge = int(round(train * 256))
    v_edge = t_edge + int(round(val * 256))
    return df.withColumn(
        split_col,
        F.when(b < t_edge, "train").when(b < v_edge, "val").otherwise("test"),
    )


def training_shuffle(
    df: DataFrame,
    key: str,
    salt: str = "shuffle",
) -> DataFrame:
    """Deterministic corpus shuffle for training order: every row gets
    a reproducible position (``shuffle_bucket``, ``bucket_pos``) whose
    lexicographic order is a uniform pseudo-random permutation of the
    corpus — the global shuffle a training run performs before writing
    shards, without RAND() (re-runs and engines agree bit-for-bit) and
    without a single-partition global sort.

    Order key = md5(salt ‖ ':' ‖ key); bucket = its first byte (so the
    bucket boundary agrees with the sort key's own order — bucket-major
    traversal IS md5 order), position = rank within the bucket. One
    hash shuffle on the bucket + per-bucket sorts; at 100 TB each
    bucket is |data|/256 and buckets are written as independent shards.
    Different ``salt`` values give independent permutations (epoch
    reshuffles) while the key's split/sample assignment stays untouched
    (those hash the bare key; this hashes the salted key).
    """
    h = F.md5(
        F.concat(F.lit(salt), F.lit(":"), F.col(key).cast("string"))
    )
    bucket = _hex_prefix_long(h, 2)
    from pyspark.sql import Window

    w = Window.partitionBy("shuffle_bucket").orderBy("__h", key)
    return (
        df.withColumn("__h", h)
        .withColumn("shuffle_bucket", bucket)
        .withColumn("bucket_pos", F.row_number().over(w).cast("long"))
        .drop("__h")
    )


def oracle_bucket_sql(key_sql: str) -> str:
    """The DuckDB-side twin of `hash_bucket` for oracle queries."""
    h = f"md5(CAST({key_sql} AS VARCHAR))"
    nib = lambda p: f"(instr('{_HEX}', substr({h}, {p}, 1)) - 1)"  # noqa: E731
    return f"({nib(1)} * 16 + {nib(2)})"


def stratified_cap_sample(
    df: DataFrame, key: str, group: str, cap: float
) -> DataFrame:
    """Deterministic per-group downsampling to ~``cap`` rows per group
    (source balancing for training mixes). Two passes, scale-shaped:
    (1) per-group counts via hash aggregate — map-side partials, tiny
    result; (2) counts joined back onto the data (never a window
    COUNT() OVER the full table, which would shuffle every row just to
    learn its group size). The join carries no broadcast hint — group
    cardinality is caller-controlled, so AQE decides (it broadcasts
    whenever the count frame is actually small; a forced hint would OOM
    at millions of groups). The keep decision is then the same per-row
    md5-bucket filter as `hash_sample`, with the group's edge
    floor(min(1, cap/n)·256) — floor, not round, so both engines make
    the identical IEEE-double decision at the boundary."""
    sizes = df.groupBy(group).agg(F.count(F.lit(1)).alias("__n"))
    edge = F.floor(
        F.least(F.lit(1.0), F.lit(float(cap)) / F.col("__n")) * 256
    ).cast("long")
    return (
        df.join(sizes, group)
        .filter(hash_bucket(key) < edge)
        .drop("__n")
    )


def exact_cap_sample(
    df: DataFrame, key: str, group: str, cap: int, prefilter: bool = False
) -> DataFrame:
    """Exact per-group quota sampling: keep exactly min(cap, |group|)
    rows per group, chosen deterministically — rank rows within each
    group by (md5(key), key) and keep the first ``cap``. Unlike
    `stratified_cap_sample` (bucket-filter, ±1/256 resolution, no
    shuffle) this guarantees the quota exactly, at the cost of one
    hash shuffle on the group for the rank window. The md5 order makes
    the selection a uniform draw that is stable across runs, engines,
    and partitionings — and adding NEW rows to a group can displace
    only the md5-largest survivors, never reshuffle the whole draw.

    The committed use (per-domain caps — millions of SMALL groups) is
    skew-safe as-is; when the groups are instead few and giant, pass
    ``prefilter=True`` to route through the `_quota_draw` md5-bucket
    prefix prefilter (identical draw, window input bounded by ~cap·1.5
    per group instead of the group size, at the cost of one extra
    counting pass over the data)."""
    if prefilter:
        sizes = df.groupBy(group).agg(F.count(F.lit(1)).alias("__n"))
        quotas = sizes.select(
            group,
            F.least(F.col("__n"), F.lit(int(cap))).alias("__quota"),
            "__n",
        )
        return _quota_draw(df, key, group, quotas)
    from pyspark.sql import Window

    h = F.md5(F.col(key).cast("string"))
    w = Window.partitionBy(group).orderBy(h, key)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= cap)
        .drop("__rk")
    )


def mixture_sample(
    df: DataFrame,
    key: str,
    group: str,
    weights: dict[str, float],
    total: float,
) -> DataFrame:
    """Deterministic data-mixture resampling: downsample each ``group``
    (source/domain) toward a target mixture — ``weights[g] · total``
    rows from group ``g``, capped at what the group has.

    The standard pretraining-mix op (web 30% / code 20% / …), shaped for
    100 TB: (1) per-group counts via hash aggregate (tiny result);
    (2) counts ⋈ weights → per-group keep-edge, BROADCAST back onto the
    data (bounded by construction: the edge frame is inner-joined to
    the driver-side ``weights`` dict, so its size is |weights|, never
    the data's group cardinality); (3) the keep decision is the same
    per-row md5-bucket filter as
    `hash_sample` — so the data path is shuffle-free, and the sample is
    stable under re-runs, engine changes, and repartitioning. Groups
    absent from ``weights`` are dropped (weight 0). Edges use
    floor(min(1, total·w/n)·256) — floor, not round, so both engines
    make the identical IEEE-double boundary decision.
    """
    spark = df.sparkSession
    w = spark.createDataFrame(
        sorted((g, float(wt)) for g, wt in weights.items()),
        f"{group} string, __wt double",
    )
    sizes = df.groupBy(group).agg(F.count(F.lit(1)).alias("__n"))
    edges = sizes.join(w, group).select(
        group,
        F.floor(
            F.least(
                F.lit(1.0), F.lit(float(total)) * F.col("__wt") / F.col("__n")
            )
            * 256
        )
        .cast("long")
        .alias("__edge"),
    )
    return (
        df.join(F.broadcast(edges), group)
        .filter(hash_bucket(key) < F.col("__edge"))
        .drop("__edge")
    )


def sequence_packs(
    df: DataFrame,
    key: str,
    order: str,
    token_count: Column,
    cap: int,
    group_col: str = "pack_group",
    pack_col: str = "pack_id",
) -> DataFrame:
    """Concat-then-chunk sequence packing: assign each document to a
    fixed-token-budget training pack.

    Pretraining pipelines concatenate documents in a deterministic
    order and slice the stream every ``cap`` tokens; a document belongs
    to the pack where its first token lands. That is exactly
    ``floor(exclusive_running_total / cap)`` — a single window cumsum,
    so the whole operator is ONE shuffle on ``key`` (the stream is
    packed independently per key: per source/shard, which is also how a
    1000-executor run avoids a global total order — a global
    ORDER BY would serialize on one reducer). Deterministic: same data
    + same order column ⇒ same packs on every run and engine.

    Returns one row per (group, pack) with doc/token accounting; packs
    may exceed ``cap`` by at most one document's spill, matching the
    chunk-boundary semantics of real packers.

    Companion: :func:`pack_sequences` is the EXACT-capacity form —
    global md5 tape order via `ranked_cumsum` and documents SPLIT at
    shard boundaries with per-slice offsets (every shard but the last
    exactly full); this one is the lighter whole-document assignment
    per source stream.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(key)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum(token_count).over(w), F.lit(0))
    pack = F.floor(start / F.lit(int(cap)))
    return (
        df.select(
            F.col(key).alias(group_col),
            pack.alias(pack_col),
            token_count.alias("__tok"),
        )
        .groupBy(group_col, pack_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__tok").alias("total_tokens"),
        )
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str] = (),
    lower: float = 0.01,
    upper: float = 0.99,
    out_col: str | None = None,
) -> DataFrame:
    """Winsorization — clip ``value_col`` to its per-key [lower, upper]
    exact percentile band (continuous interpolation, the same formula
    DuckDB's quantile_cont uses, so the bounds are oracle-exact).
    Standard outlier treatment before z-scores / model features.

    Two passes, both cheap: a per-key percentile aggregate (one row per
    key) joined back onto the data path. The keyed join carries NO
    broadcast hint — per-key frames are unbounded in key cardinality,
    and a forced broadcast OOMs the driver at millions of keys; AQE
    picks broadcast on its own whenever the frame is actually small.
    With no keys the bounds are a single global row, which IS safely
    broadcast (bounded by construction)."""
    keys = list(keys)
    out_col = out_col or f"{value_col}_clipped"
    bounds = (df.groupBy(*keys) if keys else df.groupBy()).agg(
        F.percentile(value_col, lower).alias("__lo"),
        F.percentile(value_col, upper).alias("__hi"),
    )
    joined = (
        df.join(bounds, keys)
        if keys
        else df.crossJoin(F.broadcast(bounds))
    )
    return joined.withColumn(
        out_col,
        F.least(F.greatest(F.col(value_col), F.col("__lo")), F.col("__hi")),
    ).drop("__lo", "__hi")


def mixture_concentration(
    df: DataFrame,
    group_col: str,
    category_col: str,
) -> DataFrame:
    """Concentration accounting for a training-data mixture: per
    ``group_col``, how dominated is it by its ``category_col`` shares?

    - ``hhi``: Herfindahl–Hirschman index Σ share² (1 = one category);
    - ``gini_impurity``: 1 − HHI (0 = one category);
    - ``top_share``: the largest single category share;
    - ``n_categories``.

    Σn² accumulates in DECIMAL: int64 n² throws under Spark ANSI mode
    once a cell passes ~3e9 rows, and a DOUBLE accumulator (the r5
    formulation) silently loses exactness once the running sum passes
    2^53 — a single 1e8-row cell already contributes n² = 1e16, making
    the sum order-dependent exactly at the scales the cast was meant to
    protect. DECIMAL(18,0) factors give an exact DECIMAL(37,0) product
    and an exact (38,0) sum for any cell below 1e18 rows (beyond long
    counts anyway); ONE rounding happens at the final cast-to-double,
    so the IEEE division is bit-identical on any engine with exact
    integer sums (DuckDB mirrors via HUGEINT) and order-independent at
    every scale. No libm entropy is needed to rank skewed groups (HHI
    orders identically for the filter-threshold use case). Two tiny
    aggregates: (group, category) counts, then per-group reduction."""
    counts = df.groupBy(group_col, category_col).agg(
        F.count(F.lit(1)).alias("__n")
    )
    ndec = F.col("__n").cast("decimal(18,0)")
    sum_sq = F.sum(ndec * ndec).cast("double")
    tot_dec = F.sum("__n").cast("decimal(18,0)")
    tot_sq = (tot_dec * tot_dec).cast("double")
    return counts.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_categories"),
        (sum_sq / tot_sq).alias("hhi"),
        (1 - sum_sq / tot_sq).alias("gini_impurity"),
        (
            F.max("__n").cast("double") / F.sum("__n").cast("double")
        ).alias("top_share"),
    )


def token_budget_sample(
    df: DataFrame,
    group: str,
    key: str,
    token_count: Column | str,
    budgets: dict[str, int],
) -> DataFrame:
    """Token-budgeted mixture: per ``group`` keep documents (in the
    deterministic md5-of-key order — reruns, engines, partitionings all
    agree) until the group's cumulative token count reaches its budget.
    Real pretraining mixes are specified in TOKENS, not documents;
    row-quota sampling (`mixture_sample`, `exact_cap_sample`) over- or
    under-shoots when document lengths differ across sources.

    The budget boundary document is INCLUDED (first doc whose prefix
    sum crosses the line), so every group with data and a positive
    budget contributes ≥ 1 document and the overshoot is < one
    document. One window cumsum per group partition; groups absent
    from ``budgets`` drop."""
    b = df.sparkSession.createDataFrame(
        sorted((g, int(n)) for g, n in budgets.items()),
        f"{group} string, __budget long",
    )
    return token_budget_sample_df(
        df, group, key, token_count, F.broadcast(b)
    )


def token_budget_sample_df(
    df: DataFrame,
    group: str,
    key: str,
    token_count: Column | str,
    budgets: DataFrame,
) -> DataFrame:
    """`token_budget_sample` with the budgets as a DATAFRAME
    (columns: group, __budget) — the composition point for
    data-derived allocations (`budget_waterfill` output) where a
    driver-side dict would mean collecting unbounded group counts.
    No broadcast hint here: the budget frame is one row per group,
    caller-bounded; dict callers pre-broadcast their config frame."""
    tc = F.col(token_count) if isinstance(token_count, str) else token_count
    w = (
        Window.partitionBy(group)
        .orderBy(F.md5(F.col(key).cast("string")), F.col(key))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.join(budgets, group)
        .withColumn("__cum", F.sum(tc).over(w))
        .filter(F.col("__cum") - tc < F.col("__budget"))
        .drop("__cum", "__budget")
    )


def hash_bucket16(key: Column | str, salt: str = "") -> Column:
    """Uniform bucket 0..65535 from md5(salt:key) — the first four hex
    nibbles as one base-16 integer (`_hex_prefix_long`; the oracle
    twins keep the per-nibble instr/substr spelling, same integers)."""
    c = F.col(key) if isinstance(key, str) else key
    h = F.md5(F.concat(F.lit(salt), F.lit(":"), c.cast("string")))
    return _hex_prefix_long(h, 4)


def kfold_assign(
    df: DataFrame, key: str, k: int, salt: str = "", fold_col: str = "fold"
) -> DataFrame:
    """Adds `fold` ∈ 0..k−1 for k-fold cross-validation: fold =
    md5-bucket(key) mod k. Stable in the key (rows never migrate when
    data grows — no eval-set leakage across reruns), shuffle-free (a
    projection), and near-uniform (bucket resolution 1/65536, so the
    worst-case fold-size bias from the modulus is ≤ k/65536). A `salt`
    yields independent fold systems for repeated CV."""
    return df.withColumn(
        fold_col, hash_bucket16(key, salt) % F.lit(k)
    )


def weighted_sample(
    df: DataFrame, key: str, weight: Column, salt: str = ""
) -> DataFrame:
    """Per-row weighted Bernoulli sampling, deterministic in the key:
    keep a row iff md5-bucket16(key) < floor(weight·65536), i.e. with
    probability ≈ weight (clamped to [0, 1], resolution 1/65536). The
    quality-weighted downsampling primitive (keep high-quality docs
    with certainty, low-quality ones proportionally) — rows never flip
    in or out across reruns/engines, and the weight can be any
    deterministic expression of the row. Shuffle-free projection."""
    w = F.least(F.lit(1.0), F.greatest(F.lit(0.0), weight))
    return df.filter(
        hash_bucket16(key, salt) < F.floor(w * 65536).cast("long")
    )


def quota_bucket_edge(quota: int, n: int, margin_pct: int = 50) -> int:
    """Python twin of the per-group md5-bucket edge used by the
    quota-draw prefilter (exported so tests can bound the window input
    with the SAME bigint arithmetic as the Column expression):
    min(256, (256·quota·(100+margin)) div (100·n) + 1), and 0 when the
    quota is 0 (nothing to draw — drop the group outright)."""
    if quota <= 0:
        return 0
    if n <= 0:
        return 256
    return min(256, (256 * quota * (100 + margin_pct)) // (100 * n) + 1)


def _quota_draw(
    df: DataFrame,
    key: str,
    group: str,
    quotas: DataFrame,
    margin_pct: int = 50,
) -> DataFrame:
    """Deterministic per-group quota draw, bounded-window shape.

    ``quotas`` carries (group, __quota, __n). The selection order is
    (md5(key), key); `hash_bucket` is the FIRST BYTE of that same md5
    hex string, and hex digits sort in ASCII order — so the row set
    {bucket < B} is a PREFIX of each group's selection order. The draw
    therefore prefilters to buckets below a per-group edge sized for
    ~(1+margin)·quota expected survivors, count-verifies that each
    group kept ≥ quota rows, and ranks ONLY the survivors — for a
    verified group the top-quota of the prefix IS the top-quota of the
    whole group, bit-identical, while the rank window's input is
    ~quota·(1+margin) rows instead of the full group (the difference
    between sorting ~quota rows and sorting a 10 TB source at 100 TB).
    Any group whose survivor count falls short (possible only when the
    md5 buckets of its keys are pathologically skewed high) falls back
    to ranking its full membership — exactness never depends on the
    margin, only the window-input bound does.

    Passes over the data: survivor counting + the final draw, each a
    scan joined against the tiny quota frame (AQE decides broadcast —
    group cardinality is data-dependent, no forced hint). The quota
    frame is localCheckpointed so its own aggregation scan runs once,
    not once per consumer (tiny frame — |groups| rows; on a real
    cluster the blocks are executor-local and non-replicated, an
    acceptable trade for metadata this small)."""
    b = hash_bucket(key)
    edge = F.when(F.col("__quota") <= 0, F.lit(0)).otherwise(
        F.expr(
            f"least(256, (256 * __quota * {100 + int(margin_pct)})"
            f" div (100 * __n) + 1)"
        )
    )
    qn = quotas.select(
        group, "__quota", edge.cast("long").alias("__edge")
    ).localCheckpoint(eager=False)
    surv = (
        df.join(qn, group)
        .filter(b < F.col("__edge"))
        .groupBy(group)
        .agg(F.count(F.lit(1)).alias("__surv"))
    )
    fb = qn.join(surv, group, "left").select(
        group,
        "__quota",
        "__edge",
        (F.coalesce(F.col("__surv"), F.lit(0)) < F.col("__quota")).alias(
            "__fb"
        ),
    )
    h = F.md5(F.col(key).cast("string"))
    rk = F.row_number().over(Window.partitionBy(group).orderBy(h, key))
    return (
        df.join(fb, group)
        .filter(F.col("__fb") | (b < F.col("__edge")))
        .withColumn("__rk", rk)
        .filter(F.col("__rk") <= F.col("__quota"))
        .drop("__rk", "__quota", "__edge", "__fb")
    )


def temperature_mixture(
    df: DataFrame,
    key: str,
    group: str,
    total: int,
    sqrt_steps: int = 1,
    margin_pct: int = 50,
) -> DataFrame:
    """Temperature-flattened mixture sampling — per-group quotas
    proportional to n^(1/2^sqrt_steps) instead of n, the standard
    recipe for keeping high-resource sources from drowning the mix
    (multilingual pretraining's "temperature sampling"; sqrt_steps=1 is
    the common alpha=0.5). Unlike `mixture_sample` (caller-supplied
    weights) the weights come from the DATA's own group sizes, so the
    mix rebalances itself as the corpus grows.

    Exactness across engines: alpha is restricted to 1/2^k because
    IEEE-754 `sqrt` is CORRECTLY ROUNDED — the one libm-adjacent
    function with a bit-exact contract — so k composed sqrts produce
    the identical double on any engine (a general `pow` does not).
    The weight is then frozen to an integer, round(sqrt^k(n)·1e6),
    and quotas come from pure bigint arithmetic:
    quota_g = min(n_g, total·w_g div Σw), identical everywhere.

    Scale shape: (1) per-group counts (map-side-combined agg, |groups|
    rows); (2) the `_quota_draw` prefix-prefiltered selection — the
    headline use case is FEW, GIANT sources (multilingual temperature
    sampling), where a naive per-group rank window funnels each whole
    source through one task; the md5-bucket prefilter bounds the
    window input to ~quota·(1+margin_pct/100) rows per group instead,
    with a count-verified full-rank fallback so the draw stays
    bit-identical to the unfiltered rank in every case. Σ quotas ≤
    total by construction (floor division); the remainder (< |groups|
    rows) is deliberately NOT redistributed — redistribution orders
    groups by fractional remainder, a second global sort for ≤|groups|
    rows of benefit."""
    sizes = df.groupBy(group).agg(F.count(F.lit(1)).alias("__n"))
    w = F.col("__n").cast("double")
    for _ in range(sqrt_steps):
        w = F.sqrt(w)
    weighted = sizes.select(
        group,
        "__n",
        F.round(w * 1e6, 0).cast("long").alias("__w"),
    )
    tot_w = weighted.agg(F.sum("__w").alias("__S"))
    quotas = weighted.crossJoin(F.broadcast(tot_w)).select(
        group,
        F.least(
            F.col("__n"),
            F.expr(f"({int(total)} * __w) div __S"),
        ).alias("__quota"),
        "__n",
    )
    return _quota_draw(df, key, group, quotas, margin_pct)


def grouped_split_edges(val_pct: int = 10, test_pct: int = 10) -> tuple:
    """The integer bucket thresholds behind `grouped_split` — exported
    so oracle SQL is generated from the SAME constants."""
    lo = ((100 - val_pct - test_pct) * 256) // 100
    hi = ((100 - test_pct) * 256) // 100
    return lo, hi


def grouped_split(
    df: DataFrame,
    group: str,
    val_pct: int = 10,
    test_pct: int = 10,
    out_col: str = "split",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: the hash bucket is taken
    over the GROUP (domain, site, author…), not the document, so every
    member of a group lands in the same split. Row-level splits leak —
    near-duplicate pages from one domain straddle train and eval and
    inflate held-out scores; grouping by the unit of correlation is the
    standard fix (GroupKFold / domain-held-out evaluation).

    Same md5-bucket machinery as `hash_sample` (engine-portable,
    deterministic, no shuffle — a pure projection on the group column):
    bucket < (100-val-test)% of 256 → train, next val% → val, rest →
    test. Percent edges are integer bucket thresholds (floor of
    pct·256/100, shared with oracles via `grouped_split_edges`), so
    both engines make the identical decision."""
    lo, hi = grouped_split_edges(val_pct, test_pct)
    b = hash_bucket(group)
    return df.withColumn(
        out_col,
        F.when(b < lo, F.lit("train"))
        .when(b < hi, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def stratified_exact_split(
    df: DataFrame,
    stratum_col: str,
    key: str,
    weights: tuple[tuple[str, int], ...] = (
        ("train", 8), ("val", 1), ("test", 1),
    ),
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Train/val/test assignment with EXACT per-stratum counts — the
    complement of the hash splits: `deterministic_split` is stable
    under growth but only ~proportional (a 256-bucket binomial), and
    for a small or skewed stratum the realized ratio can be far off.
    Here every stratum g gets exactly ⌊n_g·w₁/W⌋ rows of the first
    split, ⌊n_g·(w₁+w₂)/W⌋−⌊n_g·w₁/W⌋ of the second, …, remainder to
    the last — integer boundaries, no float edge.

    Rows rank within their stratum by (md5(salt‖':'‖key), key) — the
    `training_shuffle` order: deterministic, engine-portable,
    uncorrelated with any data column. The trade documented against
    the hash splits: adding rows RESHUFFLES assignments inside a
    stratum (exactness and growth-stability are mutually exclusive);
    use this for frozen snapshots (eval-set construction), the hash
    splits for growing corpora.

    Scale shape: ONE exchange on the stratum key; row_number and the
    stratum count ride the same window frame. A stratum's rows sort
    within its partitions — fine for the many-moderate-strata shape
    (sources, languages); a single giant stratum degenerates to a
    one-partition sort, exactly like any per-group window."""
    from pyspark.sql import Window

    total = sum(w for _, w in weights)
    h = F.md5(
        F.concat(F.lit(salt), F.lit(":"), F.col(key).cast("string"))
    )
    wrk = Window.partitionBy(stratum_col).orderBy(h, F.col(key))
    wct = Window.partitionBy(stratum_col)
    ranked = df.withColumn("__rk", F.row_number().over(wrk)).withColumn(
        "__n", F.count(F.lit(1)).over(wct)
    )
    expr = None
    cum = 0
    for name, w in weights[:-1]:
        cum += w
        # bigint `div`, never `/`: Spark's `/` on longs is DOUBLE
        # division — a float boundary can move a row between splits
        cond = F.col("__rk") <= F.expr(f"(__n * {cum}) div {total}")
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    expr = expr.otherwise(F.lit(weights[-1][0]))
    return ranked.withColumn(out_col, expr).drop("__rk", "__n")


def batch_padding_report(
    df: DataFrame,
    id_col: str,
    length: Column,
    batch_size: int,
) -> DataFrame:
    """Padding-waste report for fixed-size inference batching — the
    serving-cost twin of `pack_sequences` (training packs a tape;
    inference pads every sequence in a batch to the batch max). Two
    strategies over the same corpus:

    - ``arrival``: batch in id order (what a naive server does);
    - ``length_sorted``: batch in (length, id) order (the standard
      bucketing fix — near-equal lengths share a batch, so the pad to
      the batch max is small).

    One row per strategy: (strategy, n_batches, total_tokens,
    padded_slots, pad_ratio), where a batch's slots are
    ``max_len · n_rows`` (partial tail batches pad to their own
    occupancy) and padded_slots = slots − Σ len. Counts are exact
    BIGINTs; pad_ratio is one IEEE division.

    Scale shape: per strategy, ONE `ranked_cumsum` range exchange
    builds the global order (never a single-task window), batch_id is
    a bigint-div projection, and one batch hash agg + one 1-row fold
    finish. Everything engine-exact, so the A/B is trustworthy at any
    scale."""
    from .distsort import ranked_cumsum

    base = df.select(
        F.col(id_col).alias("__id"), length.cast("long").alias("__len")
    )

    def one(strategy: str, order: list[Column]) -> DataFrame:
        ranked = ranked_cumsum(
            base, order, "__len", rank_name="__r", cumsum_name="__c"
        )
        batches = (
            ranked.withColumn(
                "__b", F.expr(f"(__r - 1) div {int(batch_size)}")
            )
            .groupBy("__b")
            .agg(
                F.count(F.lit(1)).cast("long").alias("__n"),
                F.max("__len").alias("__mx"),
                F.sum("__len").cast("long").alias("__sum"),
            )
        )
        return batches.agg(
            F.lit(strategy).alias("strategy"),
            F.count(F.lit(1)).cast("long").alias("n_batches"),
            F.sum("__sum").cast("long").alias("total_tokens"),
            F.sum(F.col("__mx") * F.col("__n") - F.col("__sum"))
            .cast("long")
            .alias("padded_slots"),
            (
                F.sum(F.col("__mx") * F.col("__n") - F.col("__sum"))
                .cast("double")
                / F.sum(F.col("__mx") * F.col("__n")).cast("double")
            ).alias("pad_ratio"),
        )

    arrival = one("arrival", [F.col("__id").asc()])
    by_len = one(
        "length_sorted", [F.col("__len").asc(), F.col("__id").asc()]
    )
    return arrival.unionByName(by_len)


def pack_sequences(
    df: DataFrame,
    key: str,
    token_count: Column,
    capacity: int,
    salt: str = "pack",
) -> DataFrame:
    """Concat-and-chunk sequence packing — the final assembly step of a
    pretraining pipeline: lay every document head-to-tail on one long
    token tape in a deterministic pseudo-random order, then cut the
    tape into fixed-``capacity`` training sequences ("shards" here).
    Documents straddling a cut are split across the adjacent shards,
    exactly like the standard concatenate-then-chunk packing (no
    padding waste, every shard except the last is full by
    construction).

    Companion: :func:`sequence_packs` is the lighter whole-document
    form (per-source streams, a doc never splits, packs overflow by
    one doc's spill); this one cuts EXACTLY at the capacity, the shape
    a trainer's fixed-length batcher consumes.

    Output: one row per (document, shard) overlap —
      shard_id        tape_position div capacity (0-based),
      ``key``         the document,
      seq             the document's position in the tape order,
      tok_start/tok_end   the half-open token slice of THIS document
                          that lands in this shard,
      shard_offset    where that slice begins inside the shard.
    Zero-token documents occupy no tape and are dropped.

    Determinism and scale: the tape order is (md5(salt‖':'‖key), key) —
    the `training_shuffle` permutation, reproducible on any engine and
    independent of partitioning — and the global token offsets come
    from :func:`operators.distsort.ranked_cumsum` (range exchange +
    per-partition windows + broadcast offsets), NEVER a global
    single-task window. The boundary explode emits
    ceil(doc_tokens/capacity)+1 rows per document at most —
    Σ ≈ N + total_tokens/capacity rows, the output's own size. At
    100 TB this is the same shape as writing the shards themselves:
    embarrassingly parallel after one range shuffle."""
    from .distsort import ranked_cumsum

    h = F.md5(
        F.concat(F.lit(salt), F.lit(":"), F.col(key).cast("string"))
    )
    base = df.select(
        F.col(key),
        F.col(key).alias("__k2"),
        h.alias("__h"),
        token_count.cast("long").alias("__tok"),
    ).filter(F.col("__tok") > 0)
    cum = ranked_cumsum(
        base,
        [F.asc("__h"), F.asc("__k2")],
        "__tok",
        rank_name="seq",
        cumsum_name="__cum_end",
    )
    start = (F.col("__cum_end") - F.col("__tok")).alias("__start")
    cap = F.lit(int(capacity)).cast("long")
    staged = cum.select(
        key, "seq", "__tok", "__cum_end", start
    ).select(
        "*",
        F.expr(f"__start div {int(capacity)}").alias("__fs"),
        F.expr(f"(__cum_end - 1) div {int(capacity)}").alias("__ls"),
    )
    exploded = staged.select(
        "*",
        F.explode(F.sequence(F.col("__fs"), F.col("__ls"))).alias(
            "shard_id"
        ),
    )
    shard_start = F.col("shard_id") * cap
    return exploded.select(
        F.col("shard_id").cast("long"),
        F.col(key),
        F.col("seq").cast("long"),
        F.greatest(F.lit(0).cast("long"), shard_start - F.col("__start"))
        .alias("tok_start"),
        F.least(
            F.col("__tok"), shard_start + cap - F.col("__start")
        ).alias("tok_end"),
        F.greatest(
            F.lit(0).cast("long"), F.col("__start") - shard_start
        ).alias("shard_offset"),
    )


def budget_waterfill(
    counts: DataFrame,
    group_col: str,
    n_col: str,
    budget: int | None = None,
    budget_frac: tuple[int, int] | None = None,
) -> DataFrame:
    """Exact integer water-filling of a token budget across groups —
    the allocation step every mixture pipeline runs after weighting:
    give every group min(n_g, λ) tokens where the level λ exhausts the
    budget, i.e. small groups keep everything and large groups are
    capped at a common level (max-min fairness; the same solution as
    capped proportional-fairness for uniform weights).

    ``budget`` is an absolute token count, or ``budget_frac=(num,
    den)`` spends ``total·num div den`` (data-derived, so the call is
    scale-free). Exact-integer semantics, deterministic everywhere:
    groups sort by (n asc, group asc); the fully-funded set is the
    maximal affordable prefix (its cost ``S_{i−1} + n_i·(m−i+1)`` is
    nondecreasing, so prefix-maximality is well-defined); the capped
    groups get ``λ = (B − S_j) div (m−j)`` each and the FIRST
    ``(B − S_j) mod (m−j)`` of them IN THE SAME SORT ORDER get one
    extra token — no float level, no largest-remainder re-sort, the
    one global rank the cumsum already assigned decides everything.
    Σ alloc = min(B, Σn) exactly.

    Scale shape: one :func:`~.distsort.ranked_cumsum` range exchange
    over the per-group counts (NOT the corpus — callers aggregate
    first), a 1-row level frame folded back by broadcast cross join,
    and a pure projection for the allocation. No global window, no
    driver loop. Returns (group, n, alloc, capped)."""
    from .distsort import ranked_cumsum

    if (budget is None) == (budget_frac is None):
        raise ValueError("pass exactly one of budget / budget_frac")
    # persist the ranked per-group frame: totals, the level aggregate
    # and the final projection all read it, and without the persist
    # each consumer would re-run the CALLER's corpus aggregation that
    # produced `counts` (three full corpus scans for a tiny frame).
    # Cache lifecycle: the consumers live in the RETURNED lazy plan, so
    # unpersisting here would defeat the pin — the session owner drops
    # it (clearCache between queries, as perfbench's clear_cache does) or
    # GC does
    ranked = ranked_cumsum(
        counts.select(F.col(group_col), F.col(n_col).cast("long")),
        [F.col(n_col).asc(), F.col(group_col).asc()],
        n_col,
        rank_name="__i",
        cumsum_name="__s",
    ).persist()
    b_expr = (
        F.lit(int(budget)).cast("long")
        if budget is not None
        else F.expr(
            f"CAST(SUM({n_col}) * {int(budget_frac[0])} "
            f"div {int(budget_frac[1])} AS BIGINT)"
        )
    )
    totals = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("__m"),
        b_expr.alias("__b"),
    )
    # affordable-prefix head: cost(i) = S_{i-1} + n_i*(m-i+1) <= B,
    # nondecreasing in i -> j = max affordable i (0 when none)
    with_tot = ranked.crossJoin(F.broadcast(totals))
    afford = (F.col("__s") - F.col(n_col)) + F.col(n_col) * (
        F.col("__m") - F.col("__i") + 1
    ) <= F.col("__b")
    level = with_tot.agg(
        F.coalesce(F.max(F.when(afford, F.col("__i"))), F.lit(0))
        .cast("long")
        .alias("__j"),
        F.coalesce(F.max(F.when(afford, F.col("__s"))), F.lit(0))
        .cast("long")
        .alias("__sj"),
        F.first("__m").alias("__m2"),
        F.first("__b").alias("__b2"),
    ).select(
        "__j",
        F.when(
            F.col("__m2") > F.col("__j"),
            F.expr("(__b2 - __sj) div (__m2 - __j)"),
        ).cast("long").alias("__lvl"),
        F.when(
            F.col("__m2") > F.col("__j"),
            (F.col("__b2") - F.col("__sj"))
            % (F.col("__m2") - F.col("__j")),
        ).cast("long").alias("__rem"),
    )
    out = ranked.crossJoin(F.broadcast(level))
    alloc = F.when(F.col("__i") <= F.col("__j"), F.col(n_col)).otherwise(
        F.col("__lvl")
        + F.when(
            F.col("__i") <= F.col("__j") + F.col("__rem"), F.lit(1)
        ).otherwise(F.lit(0))
    )
    return out.select(
        group_col,
        F.col(n_col),
        alloc.cast("long").alias("alloc"),
        (F.col("__i") > F.col("__j")).alias("capped"),
    )


def purged_time_split(
    df: DataFrame,
    ts_col: str,
    tiebreak_col: str,
    k: int = 5,
    embargo: str = "INTERVAL 1 DAY",
) -> DataFrame:
    """Purged k-fold split for TEMPORAL data with an embargo gap
    (de Prado's purged CV, the time-series answer to leakage-free
    splitting): folds are k equal-count contiguous TIME slices, and for
    each evaluation fold the training set additionally drops every row
    within ``embargo`` of the fold's span — the rows whose serial
    correlation with the eval window would leak future information
    into training. The content/domain-grain leakage splits
    (`leakage_free_split`, `grouped_split`) can't express this: their
    leakage unit is identity, not time adjacency.

    Fold assignment is an exact-count rank cut: global rank over
    (ts, tiebreak) via `distsort.global_row_number` (two-pass range
    exchange, no single-task window), fold = (rank−1)·k DIV n — exact
    BIGINT boundaries, no float quantiles, deterministic under ties.

    Scale shape: one range exchange for the rank, one k-row hash agg
    for the fold spans, then ONE broadcast join of the k-row span
    frame back onto the rows (fan-out k — bounded by the fold-count
    config) and a k-row report agg. Returns one row per fold:
    (fold, n_test, n_train, n_purged, test_start, test_end) with
    n_test + n_train + n_purged = n for every fold."""
    from .distsort import global_row_number

    base = df.select(
        F.col(ts_col).alias("__ts"), F.col(tiebreak_col).alias("__tb")
    )
    n = base.count()
    ranked = global_row_number(
        base, [F.col("__ts"), F.col("__tb")], rank_name="__rank"
    )
    assigned = ranked.withColumn(
        "__fold",
        F.expr(f"CAST((__rank - 1) * {int(k)} AS BIGINT) DIV {int(n)}"),
    )
    spans = assigned.groupBy("__fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.min("__ts").alias("test_start"),
        F.max("__ts").alias("test_end"),
    )
    # k rows by construction: the fold-count config bounds the frame
    tagged = assigned.join(
        F.broadcast(
            spans.select(
                F.col("__fold").alias("__f"),
                "n_test",
                "test_start",
                "test_end",
            )
        ),
        F.col("__fold") != F.col("__f"),
    )
    lo = F.expr(f"test_start - {embargo}")
    hi = F.expr(f"test_end + {embargo}")
    report = tagged.groupBy(F.col("__f").alias("fold")).agg(
        F.sum(
            F.when((F.col("__ts") < lo) | (F.col("__ts") > hi), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_train"),
        F.sum(
            F.when((F.col("__ts") >= lo) & (F.col("__ts") <= hi), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_purged"),
    )
    return (
        report.join(
            F.broadcast(spans.withColumnRenamed("__fold", "fold")), "fold"
        )
        .select("fold", "n_test", "n_train", "n_purged", "test_start", "test_end")
        .orderBy("fold")
    )


def weighted_topk_sample(
    df: DataFrame,
    key: str,
    weight: Column,
    k: int,
    salt: str = "es",
) -> DataFrame:
    """EXACT-k weighted sampling without replacement — the
    Efraimidis–Spirakis A-ES scheme made deterministic: draw
    u_i ~ Uniform(0,1] from the key's md5 (not an RNG), keep the k
    rows with the largest u_i^(1/w_i), i.e. the k largest
    ln(u_i)/w_i. Complements `weighted_sample` (Bernoulli — keeps a
    RANDOM number of rows) when the budget is a hard k, and
    `exact_cap_sample` (uniform within groups) when rows carry
    weights.

    u_i composes two md5 nibbles into a 32-bit uniform,
    (b32 + 0.5)/2³², never exactly 0; the score is ONE fixed IEEE
    expression of that rational and the weight, identical cross-
    engine, with the key as tiebreak (md5 ties are ~2⁻³²; the
    tiebreak makes even that case deterministic). Selection is
    TakeOrdered-shaped: per-partition top-k heaps, never a global
    sort. Non-positive weights are excluded (their inclusion
    probability is 0 in A-ES).

    PRECONDITION — ``key`` must be unique in ``df``: the uniform is a
    pure function of the key, so duplicate-key rows draw IDENTICAL
    (score, tiebreak) pairs and WHICH duplicates survive the limit(k)
    cut at the boundary is partition-dependent — the determinism claim
    holds only for unique keys (same contract as DuckDB's
    ``reservoir`` with a key-derived seed). Dedup first, or sample a
    ``df.select(key, weight).distinct()`` projection and semi-join
    back. All in-repo callers pass a unique key.

    Returns the k sampled rows of ``df`` plus ``__es_score``."""
    c = F.col(key)
    b32 = (
        hash_bucket16(c, salt) * 65536 + hash_bucket16(c, salt + "2")
    ).cast("double")
    u = (b32 + 0.5) / F.lit(float(1 << 32))
    w = weight.cast("double")
    score = F.log(u) / w
    return (
        df.where(w > 0)
        .withColumn("__es_score", score)
        .orderBy(F.col("__es_score").desc(), c.asc())
        .limit(int(k))
    )


# Cumulative Poisson(λ=1) pmf as exact u32 integer thresholds
# (floor(CDF(k) · 2³²), k = 0..8): the bootstrap weight of a row is the
# smallest k whose threshold exceeds the row's 32-bit md5 uniform, a
# PURE INTEGER comparison — no float literal ever parses, so the Spark
# spelling and the SQL twin cannot diverge by a ulp. P(k > 8) < 1.2e-6
# is folded into the last bucket (w = 9); with λ = 1 that truncation
# changes E[w] by < 1e-8 — documented, deterministic, engine-portable.
POISSON1_CUM_U32 = (
    1580030168, 3160060337, 3950075421, 4213413783, 4279248373,
    4292415291, 4294609777, 4294923276, 4294962463,
)


def md5_u32(key: Column | str, salt: str = "") -> Column:
    """Uniform 32-bit integer 0..2³²−1 from md5(salt:key) — the first
    eight hex nibbles as one base-16 integer (`_hex_prefix_long`: a
    long, so the full 2³²−1 range never overflows; the oracle twin in
    queries/relational keeps the per-nibble fold spelling)."""
    c = F.col(key) if isinstance(key, str) else key
    h = F.md5(F.concat(F.lit(salt), F.lit(":"), c.cast("string")))
    return _hex_prefix_long(h, 8)


def poisson1_weight(u32: Column) -> Column:
    """Deterministic Poisson(1) draw from a 32-bit uniform by inverse
    CDF over the integer thresholds above."""
    w = F.lit(len(POISSON1_CUM_U32))
    for k in range(len(POISSON1_CUM_U32) - 1, -1, -1):
        w = F.when(u32 < F.lit(POISSON1_CUM_U32[k]), F.lit(k)).otherwise(w)
    return w.cast("long")


def bootstrap_mean_ci(
    df: DataFrame,
    id_col: str,
    value_col: str,
    b: int = 40,
    scale: int = 100,
    alpha: float = 0.05,
    salt: str = "pb",
) -> DataFrame:
    """Poisson-bootstrap confidence interval for a mean — the bootstrap
    that actually runs at 100 TB (Chamandy et al., "Estimating
    Uncertainty for Massive Data Streams", Google 2012): classical
    resampling needs n draws per replica coordinated across the
    cluster, but for large n the multinomial resample count of each
    row converges to independent Poisson(1), so every replica becomes
    a MAP-SIDE weight column — no resample shuffle exists at all.

    Determinism (the DSIR/hash-sample discipline): replica r's weight
    for a row is Poisson⁻¹(md5-u32(salt:r:id)) via exact integer
    thresholds — same weights every run, on any engine, so the DuckDB
    twin hash-matches. Replica means are exact-integer ratios on the
    ``scale`` grid (Σwy BIGINT / Σw BIGINT); the CI bounds are ORDER
    STATISTICS of the B replica means (rank ⌈α/2·(B−1)⌋ from each end,
    ties broken by replica id) — no interpolation, so the bounds are
    two of the exactly-computed means themselves.

    Scale shape: one explode to B× rows (map-side, B bounded), one
    map-side-combined hash agg to B rows, one B-row window. The full
    data shuffles NOTHING — the agg moves B partial rows per task.
    NULL ids/values are excluded up front (they carry no outcome and
    their md5 would be engine-ambiguous). Returns ONE row:
    (n, mean, b, ci_lo, ci_hi)."""
    if not 2 <= int(b) <= 512:
        raise ValueError(f"bootstrap_mean_ci: b must be in [2, 512], got {b}")
    b = int(b)
    k_lo = round(alpha / 2.0 * (b - 1))
    yi = F.round(F.col(value_col).cast("double") * scale).cast("long")
    base = df.where(
        F.col(id_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(F.col(id_col).cast("string").alias("__id"), yi.alias("__y"))
    overall = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.coalesce(F.sum("__y"), F.lit(0)).cast("double")
            / (F.count(F.lit(1)).cast("double") * float(scale))
        ).alias("mean"),
    )
    # hash-spread the NARROW base (16-byte rows) before the B× explode:
    # the replica expansion multiplies per-row work 40×, and the input
    # is otherwise as parallel as its file splits (exactly ONE task on
    # the single-row-group testdata — measured 3.85 s single-threaded
    # vs 1.21 s spread at sf0.1; guide §2.5 input-skew remedy)
    reps = spread(base, "__id").select(
        "__id", "__y",
        F.explode(F.array([F.lit(j) for j in range(b)])).alias("__r"),
    )
    # u32 and w are STAGED projections, not inlined: the weight's CASE
    # chain references u32 once per threshold, and an inlined spelling
    # makes Catalyst evaluate the md5 ~10× per row (measured 25 s →
    # 5.8 s at sf0.1×40 replicas when staged — CollapseProject keeps a
    # non-cheap expression single-evaluated across projections)
    with_u = reps.select(
        "__r", "__y",
        md5_u32(
            F.concat(F.col("__r").cast("string"), F.lit(":"), F.col("__id")),
            salt,
        ).alias("__u"),
    )
    with_w = with_u.select(
        "__r", "__y", poisson1_weight(F.col("__u")).alias("__w")
    )
    means = (
        with_w.select(
            "__r",
            (F.col("__w") * F.col("__y")).alias("__wy"),
            F.col("__w").alias("__w"),
        )
        .groupBy("__r")
        .agg(
            F.sum("__wy").cast("long").alias("__swy"),
            F.sum("__w").cast("long").alias("__sw"),
        )
        .where(F.col("__sw") > 0)
        .select(
            "__r",
            (
                F.col("__swy").cast("double")
                / (F.col("__sw").cast("double") * float(scale))
            ).alias("__m"),
        )
    )
    from pyspark.sql import Window

    ranked = means.select(
        "__m",
        F.row_number()
        .over(Window.orderBy(F.col("__m").asc(), F.col("__r").asc()))
        .alias("__rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("__b_eff"),
    )
    ci = ranked.agg(
        F.min(F.when(F.col("__rk") == k_lo + 1, F.col("__m"))).alias("ci_lo"),
        F.min(
            F.when(F.col("__rk") == F.col("__b_eff") - k_lo, F.col("__m"))
        ).alias("ci_hi"),
    )
    return overall.crossJoin(F.broadcast(ci)).select(
        "n", "mean", F.lit(b).cast("long").alias("b"), "ci_lo", "ci_hi"
    )
