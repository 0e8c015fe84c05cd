"""Similarity search over embedding columns (`array<float>`).

Brute-force cosine top-k is the exact baseline; the LSH-bucketed variant
(random-hyperplane signatures) is the 100 TB scale path: it prunes the
candidate set per query to one bucket's worth of vectors before the
exact rescoring, turning O(|Q|·|C|) into O(|Q|·bucket).

Arithmetic policy: embeddings are float32 on disk; all math is done in
double (exact float→double widening) with a left-fold accumulation
(`F.aggregate`), and cosine is rounded to 6 decimals so results are
comparable across engines.

The "random" hyperplanes are derived deterministically from md5 — no RNG
state, reproducible across runs and engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import quote


# Default rows per block for the skew-adaptive blocked sweep: a bucket up
# to this size is one tile (one grouped-map call), a hotter one splits
# into ceil(size / TILE_ROWS) blocks, so a tile never exceeds
# (2·TILE_ROWS)² float64 cells (32 MB per score buffer).
TILE_ROWS = 1024


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def _sql_dot(a: str, b: str, dims: int) -> str:
    """Unrolled Σ a_i·b_i as ONE SQL string (left-assoc Add chain, so
    parsing reproduces strict left-to-right accumulation).

    Why text and not Column algebra: building 64 `F.get(...)* ...` terms
    costs ~200 py4j round-trips PER dot — measured at 1.5-3 s of pure
    driver time per ANN query build (execution itself was 0.6 s). One
    `F.expr` string is a single round-trip for the same plan.
    Per-element scalar casts, NOT a whole-array cast: Catalyst inlines
    projected expressions, so `cast(array<double>)` would re-cast the
    full array once per element access (O(dims²))."""
    return " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE))"
        for i in range(dims)
    )


def dot(
    a: Column | str, b: Column | str, dims: int | None = None
) -> Column:
    """Σ a_i·b_i in double, accumulated strictly left-to-right (so the
    result is bit-identical to any sequential-fold implementation).

    With ``dims`` known AND string column names, the sum is unrolled
    into a static left-assoc Add chain via one `F.expr` — whole-stage
    codegen compiles it, and the build is one py4j call (see _sql_dot).
    The lambda-fold fallback is interpreted per element (~10× slower in
    the hot path) but works for unknown dims.
    """
    if dims is not None and isinstance(a, str) and isinstance(b, str):
        return F.expr(_sql_dot(a, b, dims))
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    if dims is not None:
        terms = [
            F.get(ca, i).cast("double") * F.get(cb, i).cast("double")
            for i in range(dims)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out
    return F.aggregate(
        F.zip_with(_as_double(ca), _as_double(cb), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str, dims: int | None = None) -> Column:
    if dims is not None and isinstance(a, str):
        return F.expr(f"sqrt({_sql_dot(a, a, dims)})")
    return F.sqrt(dot(a, a, dims))


def cosine(
    a: Column | str, b: Column | str, dims: int | None = None
) -> Column:
    if dims is not None and isinstance(a, str) and isinstance(b, str):
        return F.expr(
            f"({_sql_dot(a, b, dims)}) / "
            f"(sqrt({_sql_dot(a, a, dims)}) * sqrt({_sql_dot(b, b, dims)}))"
        )
    return dot(a, b, dims) / (l2_norm(a, dims) * l2_norm(b, dims))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    dims: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine, excluding self-matches.

    The query side is broadcast (the small side by construction); the
    corpus is scanned once with no shuffle until the final per-query
    top-k (a single hash partition on query_id). Norms are computed once
    per vector (not per pair). The default fold-based dot has stable
    cost; pass ``dims`` to unroll it into a static expression — faster
    per row at very large pair counts, but it pays a multi-second
    whole-stage-codegen compile per stage (janino on a ~64-term tree),
    so it only wins when pairs ≫ 10⁶. Ranking uses the rounded cosine
    with id tiebreak → fully deterministic either way (identical
    left-to-right accumulation).
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        l2_norm(vec_col, dims).alias("__qnorm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        l2_norm(vec_col, dims).alias("__cnorm"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot("__qvec", "__cvec", dims)
                / (F.col("__qnorm") * F.col("__cnorm")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("long"))
    )


# --- LSH-bucketed ANN (scale path) ----------------------------------------

def _plane_component(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    derived from md5(f"{plane}:{dim}") — stable across engines/runs."""
    import hashlib

    h = hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()
    return (int(h[:8], 16) / float(0xFFFFFFFF)) * 2.0 - 1.0


def hyperplane_signature(
    vec: Column | str, dims: int, planes: int = 8, plane_offset: int = 0
) -> Column:
    """Random-hyperplane LSH signature: bit p = sign(v · plane_p).
    Packed into a long. Planes are literal constants folded by Catalyst —
    zero per-row Python. ``plane_offset`` shifts into a disjoint slice
    of the deterministic plane family — banded LSH derives band b's
    signature from planes [b·r, (b+1)·r).

    Two shape decisions, both measured on the bench:
    - ONE nested higher-order expression (transform over an
      array-of-arrays plane matrix, then a bit-packing fold) instead of
      `planes` chained per-plane folds. The chained form builds a tree
      Catalyst re-walks per rule — and when the signature feeds a join
      key it gets inlined into several operators, multiplying that cost
      (2–3× slower to plan AND execute, same results).
    - With a string column name, the whole thing (512 plane literals
      included) is ONE `F.expr` string — one py4j round-trip instead of
      ~1000 `F.lit`/`F.array` driver calls (which cost more wall-clock
      than executing the query at sf0.1).
    """
    if isinstance(vec, str):
        plane_rows = ", ".join(
            "array("
            + ", ".join(
                f"{_plane_component(plane_offset + p, d)!r}D"
                for d in range(dims)
            )
            + ")"
            for p in range(planes)
        )
        weights = ", ".join(f"{2 ** p}L" for p in range(planes))
        return F.expr(
            f"aggregate(zip_with(transform(array({plane_rows}), "
            f"plane -> aggregate(zip_with(CAST({vec} AS ARRAY<DOUBLE>), plane, "
            f"(x, y) -> x * y), 0.0D, (acc, x) -> acc + x)), "
            f"array({weights}), "
            f"(pr, w) -> CASE WHEN pr > 0.0D THEN w ELSE 0L END), "
            f"0L, (acc, x) -> acc + x)"
        )
    v = _as_double(vec)
    planes_lit = F.array(*[
        F.array(*[
            F.lit(_plane_component(plane_offset + p, d))
            for d in range(dims)
        ])
        for p in range(planes)
    ])
    weights = F.array(*[F.lit(2 ** p).cast("long") for p in range(planes)])
    projs = F.transform(
        planes_lit,
        lambda plane: F.aggregate(
            F.zip_with(v, plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return F.aggregate(
        F.zip_with(
            projs,
            weights,
            lambda pr, w: F.when(pr > 0, w).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    planes: int = 8,
    k: int = 3,
) -> DataFrame:
    """Approximate top-k: candidates share the hyperplane bucket, then
    exact cosine rescoring within the bucket. At scale: corpus bucketed/
    persisted by signature once, queries hash-join on signature — no
    cross product anywhere."""
    from pyspark.sql import Window

    sig = lambda df, a, b: df.select(  # noqa: E731
        F.col(id_col).alias(a),
        F.col(vec_col).alias(b),
        hyperplane_signature(vec_col, dims, planes).alias("__bucket"),
    )
    c = sig(corpus, "neighbor_id", "__cvec")
    q = sig(queries, "query_id", "__qvec")
    scored = (
        c.join(F.broadcast(q), ["__bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine("__qvec", "__cvec", dims), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("long"))
    )


# --- IVF (inverted-file) ANN ----------------------------------------------

def assign_clusters(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int | None = None,
) -> DataFrame:
    """Coarse quantization: each vector joins its argmax-cosine centroid
    (rounded cosine + centroid-id tiebreak → deterministic). Centroids
    are broadcast; the fan-out is |vectors|·K rows of SCALAR scores.

    The argmax is a ``max_by`` hash aggregate over (cosine, −centroid)
    struct ordering, NOT a row_number window: same deterministic winner,
    but a hash agg partially aggregates map-side behind the broadcast
    join and never sorts — a window would range-sort all |vectors|·K
    scored rows per assignment round."""
    cent = centroids.select(
        F.col(id_col).alias("__cent_id"), F.col(vec_col).alias("__cent_vec")
    )
    scored = vectors.join(F.broadcast(cent)).select(
        *vectors.columns,
        "__cent_id",
        F.round(
            cosine(vec_col, "__cent_vec", dims), 6
        ).alias("__cent_cos"),
    )
    other = [c for c in vectors.columns if c != id_col]
    return scored.groupBy(id_col).agg(
        *[F.first(c).alias(c) for c in other],
        F.max_by(
            F.col("__cent_id"),
            F.struct(F.col("__cent_cos"), (-F.col("__cent_id")).alias("n")),
        ).alias("cluster"),
    )


def _cosine_kernels():
    """(fold_dots, fold_norms, spark_round6): the numpy cosine pieces of
    the Arrow kernels. Built by a factory so they are closures: a
    grouped-map worker receives them by value and never has to import
    this package.

    - ``fold_dots(A, B)``: Σ_d A[:, d]·B[:, d] for every (row of A, row
      of B), accumulated dimension by dimension with element-wise adds —
      the same left-to-right float64 sequence as the unrolled SQL dot
      (`_sql_dot`) and the lambda fold, never np.dot/@ (pairwise/SIMD
      order differs).
    - ``fold_norms(M)``: sqrt(Σ_d M[:, d]²) per row in the same order; a
      zero norm raises ValueError (Spark's ANSI division raises on it
      too).
    - ``spark_round6(x)``: Spark's ``round(x, 6)`` on a double — HALF_UP
      on the shortest decimal representation, not numpy's half-even on
      the binary value.
    """
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    def fold_dots(A, B):
        acc = A[:, 0][:, None] * B[:, 0][None, :]
        tmp = np.empty_like(acc)
        for d in range(1, A.shape[1]):
            np.multiply(A[:, d][:, None], B[:, d][None, :], out=tmp)
            np.add(acc, tmp, out=acc)
        return acc

    def fold_norms(M):
        nrm = M[:, 0] * M[:, 0]
        for d in range(1, M.shape[1]):
            nrm += M[:, d] * M[:, d]
        if (nrm == 0.0).any():
            raise ValueError("cosine of a zero-norm vector is undefined")
        return np.sqrt(nrm)

    def spark_round6(x):
        return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    return fold_dots, fold_norms, spark_round6


def assign_clusters_arrow(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """`assign_clusters` as a vectorized numpy kernel under
    ``mapInPandas`` instead of a broadcast join + |vectors|·K
    scalar-expression rows. The codebook (small by definition) is
    collected once into a dense matrix and ships to
    executors inside the closure — the per-row work is K dot products
    over an Arrow batch, not K joined rows. Returns the vectors' columns
    plus ``cluster long``.

    Same winner as `assign_clusters` BY CONSTRUCTION: the raw cosines
    are bit-identical (`_cosine_kernels`), and the argmax over rounded
    cosines with the lowest-id tiebreak only needs Spark's rounding
    when two centroids' raw cosines lie within 1e-6 of each other —
    rounding is monotone, so a centroid further than that below the
    best cannot tie it. Those rows round with Spark's HALF_UP rule;
    every other row takes the raw argmax.
    `test_assign_clusters_arrow_matches_exact` asserts equality.
    """
    return _assign_cells(
        vectors, _collect_codebook(centroids, id_col, vec_col), vec_col
    )


def _collect_codebook(centroids: DataFrame, id_col: str, vec_col: str):
    """(centroid ids ascending, float64 matrix) — one small collect."""
    import numpy as np

    rows = sorted(
        (r[0], r[1]) for r in centroids.select(id_col, vec_col).collect()
    )
    ids = np.array([cid for cid, _ in rows], dtype=np.int64)
    return ids, np.array([v for _, v in rows], dtype=np.float64)


def _assign_cells(vectors: DataFrame, codebook, vec_col: str) -> DataFrame:
    """The `assign_clusters_arrow` kernel over a collected codebook."""
    import numpy as np

    cent_ids, C = codebook
    fold_dots, fold_norms, spark_round6 = _cosine_kernels()
    cnorm = fold_norms(C)
    out_fields = vectors.schema.fieldNames()
    schema_str = ", ".join(
        f"{quote(f.name)} {f.dataType.simpleString()}"
        for f in vectors.schema.fields
    ) + ", cluster long"

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            out = pdf[out_fields].copy()
            if len(pdf) == 0:
                out["cluster"] = pd.Series([], dtype="int64")
                yield out
                continue
            M = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cos = fold_dots(M, C) / (fold_norms(M)[:, None] * cnorm[None, :])
            # raw argmax; ids are sorted, so argmax's first hit is the
            # lowest id among exact ties
            best = np.argmax(cos, axis=1)
            near = cos >= cos[np.arange(len(pdf)), best][:, None] - 1e-6
            for row in np.nonzero(near.sum(axis=1) > 1)[0]:
                cand = np.nonzero(near[row])[0]
                rounded = [spark_round6(float(cos[row, c])) for c in cand]
                best[row] = cand[int(np.argmax(rounded))]
            out["cluster"] = cent_ids[best]
            yield out

    return vectors.mapInPandas(assign, schema=schema_str)


def kmeans_codebook(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    dims: int | None = None,
    scale: int = 10**6,
    seed_order: list | None = None,
) -> DataFrame:
    """Deterministic Lloyd's k-means codebook for IVF coarse
    quantization. Returns (id_col, vec_col) — k (or fewer, see below)
    centroids usable anywhere a centroid DataFrame is expected.
    ``seed_order`` overrides the seed ordering (default lowest-id):
    pass e.g. ``[md5(cast(id)), id]`` to decorrelate seed choice from
    id locality — still RNG-free and replicable in SQL.

    Every step is reproducible bit-for-bit across engines AND across
    Spark partitionings — the property that lets an external SQL oracle
    replicate the training:

    - seeds: the k lowest-id corpus vectors (no RNG state);
    - assignment: argmax cosine rounded to 6 dp, centroid-id tiebreak
      (`assign_clusters`) — per-row deterministic;
    - update: element-wise mean via SCALED-INTEGER sums —
      ``SUM(CAST(ROUND(v_i·10⁶) AS LONG)) / (10⁶ · COUNT)``. Long sums
      are associative-exact, so the mean does not depend on row order
      or partition boundaries; a double SUM would differ run-to-run at
      scale and between engines. The 10⁻⁶ quantization is far below
      any clustering-relevant signal. Overflow headroom: components
      bounded by |v|≤10 keep the per-(cluster,pos) sum under 10⁷·n —
      safe to n ≈ 10¹¹ rows per cluster; beyond that, raise the sum to
      DECIMAL(38,0) (same exactness, wider headroom).

    Empty clusters drop out of the codebook (both engines compute
    identical assignments, so they drop identically). One shuffle per
    iteration (the (cluster, pos) aggregate over a dims-wide explode);
    the codebook itself stays tiny and broadcasts everywhere it's used.
    """
    seed_order = seed_order or [F.col(id_col).asc()]
    cent = corpus.orderBy(*seed_order).limit(k).select(id_col, vec_col)
    for _ in range(iters):
        assigned = assign_clusters(corpus, cent, id_col, vec_col, dims)
        comp = (
            assigned.select(
                "cluster",
                F.posexplode(_as_double(F.col(vec_col))).alias("pos", "val"),
            )
            .groupBy("cluster", "pos")
            .agg(
                (
                    F.sum(F.round(F.col("val") * scale, 0).cast("long"))
                    .cast("double")
                    / (F.lit(float(scale)) * F.count(F.lit(1)))
                ).alias("cval")
            )
        )
        cent = (
            comp.groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                    lambda s: s.getField("cval"),
                ).alias(vec_col)
            )
            .select(F.col("cluster").alias(id_col), vec_col)
        )
    return cent


def adaptive_kmeans_codebook(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cluster_rows: int = 125,
    iters: int = 2,
    dims: int | None = None,
    scale: int = 10**6,
) -> DataFrame:
    """`kmeans_codebook` with k derived from the corpus size —
    ``k = ceil(n / target_cluster_rows)`` — the SemDeDup posture
    (Abbas et al. 2023): cluster POPULATIONS stay bounded as the
    corpus grows, so every within-cluster quadratic tile stays
    ~target² and total pair work stays linear in n. A fixed k is the
    opposite: 10× data ⇒ 10× rows per cluster ⇒ 100× tiles (the r08
    rehearsal's 19.75× semdedup slope).

    Seeds are the k lowest-``md5(cast(id as string))`` vectors (id
    tiebreak): deterministic and oracle-replicable like lowest-id
    seeding, but decorrelated from id locality, so the extra centroids
    a larger corpus earns spread over the data instead of packing the
    low-id region. n comes from one COUNT aggregate (a scalar, not a
    data-sized collect).

    Scale note: training cost is one O(n·k) assignment per iteration —
    with k ∝ n this is a BUILD-time cost (train once, persist the
    codebook as an artifact; consumers load it), and past ~10⁷ rows
    you'd train on a deterministic hash-sample (`hash_sample`) or go
    hierarchical (`assign_clusters_multi`) rather than sharpen the
    full-corpus argmax."""
    import math

    n = corpus.count()
    k = max(1, math.ceil(n / target_cluster_rows))
    return kmeans_codebook(
        corpus, id_col, vec_col, k=k, iters=iters, dims=dims, scale=scale,
        seed_order=[F.md5(F.col(id_col).cast("string")), F.col(id_col)],
    )


def assign_clusters_multi(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    probes: int,
    dims: int | None = None,
) -> DataFrame:
    """Top-``probes`` nearest centroids per vector (rounded cosine,
    centroid-id tiebreak — same determinism as `assign_clusters`, which
    is the probes=1 special case). The multi-probe side of IVF: probing
    P buckets instead of 1 recovers the neighbors that fell just across
    a Voronoi boundary, trading a P× probe fan-out (still bucket-local)
    for recall."""
    cent = centroids.select(
        F.col(id_col).alias("__cent_id"), F.col(vec_col).alias("__cent_vec")
    )
    from pyspark.sql import Window

    scored = vectors.join(F.broadcast(cent)).select(
        *vectors.columns,
        "__cent_id",
        F.round(cosine(vec_col, "__cent_vec", dims), 6).alias("__cos"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("__cos").desc(), F.col("__cent_id").asc()
    )
    return (
        scored.withColumn("__pr", F.row_number().over(w))
        .filter(F.col("__pr") <= probes)
        .select(*vectors.columns, F.col("__cent_id").alias("cluster"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    k: int = 3,
    dims: int | None = None,
    train_iters: int = 0,
    centroids: DataFrame | None = None,
    probes: int = 1,
) -> DataFrame:
    """IVF ANN: corpus bucketed by nearest centroid; each query probes
    only its own centroid's cell, then exact cosine rescoring + top-k.

    ``centroids`` (columns (id_col, vec_col)) supplies a pre-trained
    codebook — the production posture: train once offline with
    `kmeans_codebook`, persist the tiny frame, and every query is then
    map-only assignment + cell-local top-k with zero training shuffles.
    Otherwise ``train_iters=0`` uses the first ``n_centroids`` corpus
    vectors by id as the codebook — deterministic but degenerate on real
    data (clusters of the n smallest ids) — and ``train_iters>0`` runs
    that many deterministic Lloyd's iterations (`kmeans_codebook`)
    in-query from those seeds — still engine-replicable, real clusters.
    ``dims`` goes to in-query training and the multi-probe assignment;
    the probe itself does not need it.

    Shape (the partition-local index of REPOSE, ICDE 2021): both sides
    are assigned to cells by the Arrow kernel of `assign_clusters_arrow`
    (the codebook collected once per call), then ONE
    ``cogroup(...).applyInPandas`` per cell scores the cell's queries
    against its corpus vectors as a numpy tile (`_cosine_kernels`: raw
    cosines bit-identical to the SQL spelling) and emits, per query,
    only the candidates within 1e-6 of its k-th best raw cosine.
    Spark then rounds HALF_UP to 6 dp and ranks (cosine desc, id asc)
    in a window, exactly as before; the margin keeps every neighbour
    whose rounded cosine can tie the k-th (rounding is monotone). With
    ``probes > 1`` a query joins several cells; the corpus side stays
    argmax-1, so each (query, neighbour) pair is scored at most once and
    the window picks the top-k over the union of the cells' candidates.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    if centroids is not None:
        centroids = centroids.select(id_col, vec_col)
    elif train_iters > 0:
        centroids = kmeans_codebook(
            corpus, id_col, vec_col, k=n_centroids, iters=train_iters,
            dims=dims,
        )
    else:
        centroids = (
            corpus.orderBy(F.col(id_col).asc()).limit(n_centroids)
        )
    corpus = corpus.select(id_col, vec_col)
    queries = queries.select(id_col, vec_col)
    codebook = _collect_codebook(centroids, id_col, vec_col)
    q_assigned = (
        assign_clusters_multi(
            queries, centroids, id_col, vec_col, probes, dims
        )
        if probes > 1
        else _assign_cells(queries, codebook, vec_col)
    )
    c = _assign_cells(corpus, codebook, vec_col).selectExpr(
        f"{quote(id_col)} AS __id", f"{quote(vec_col)} AS __v", "cluster"
    )
    # the multi-probe side keeps the centroid id type: cogroup keys must
    # hash alike on both sides
    q = q_assigned.selectExpr(
        f"{quote(id_col)} AS __id", f"{quote(vec_col)} AS __v",
        "CAST(cluster AS BIGINT) AS cluster",
    )
    fold_dots, fold_norms, _ = _cosine_kernels()
    schema = (
        f"query_id {dict(queries.dtypes)[id_col]}, "
        f"neighbor_id {dict(corpus.dtypes)[id_col]}, __cos double"
    )

    def probe(cpdf, qpdf):
        if len(cpdf) == 0 or len(qpdf) == 0:  # a side may lack columns
            return pd.DataFrame(
                {c: pd.Series([], dtype=object)
                 for c in ("query_id", "neighbor_id", "__cos")}
            )
        C = np.array(cpdf["__v"].tolist(), dtype=np.float64)
        Q = np.array(qpdf["__v"].tolist(), dtype=np.float64)
        cos = fold_dots(Q, C) / (fold_norms(Q)[:, None] * fold_norms(C)[None, :])
        cids, qids = cpdf["__id"].to_numpy(), qpdf["__id"].to_numpy()
        cos[qids[:, None] == cids[None, :]] = -np.inf  # no self-matches
        if cos.shape[1] > k:
            kth = -np.partition(-cos, k - 1, axis=1)[:, k - 1]
            keep = cos >= kth[:, None] - 1e-6
        else:
            keep = np.ones_like(cos, dtype=bool)
        qi, ci = np.nonzero(keep & np.isfinite(cos))
        return pd.DataFrame(
            {"query_id": qids[qi], "neighbor_id": cids[ci], "__cos": cos[qi, ci]}
        )

    cand = c.groupBy("cluster").cogroup(q.groupBy("cluster")).applyInPandas(
        probe, schema=schema
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.selectExpr("query_id", "neighbor_id", "round(__cos, 6) AS cosine")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("long"))
    )


def label_centroids(
    vectors: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 10**6,
) -> DataFrame:
    """Per-label mean vector via the same scaled-integer sums as
    `kmeans_codebook` (BIGINT sums are associative-exact, so the
    centroid is identical under any partitioning/engine; same 10¹¹-
    rows-per-label overflow headroom — see kmeans_codebook). One
    (label, pos) aggregate over a dims-wide explode; the result is one
    row per label."""
    comp = (
        vectors.select(
            label_col,
            F.posexplode(_as_double(F.col(vec_col))).alias("pos", "val"),
        )
        .groupBy(label_col, "pos")
        .agg(
            (
                F.sum(F.round(F.col("val") * scale, 0).cast("long"))
                .cast("double")
                / (F.lit(float(scale)) * F.count(F.lit(1)))
            ).alias("cval")
        )
    )
    return comp.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cval"))),
            lambda s: s.getField("cval"),
        ).alias("centroid")
    )


def label_centroid_quality(
    vectors: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 10**6,
) -> DataFrame:
    """Label-noise screening for a labeled embedding set: per label,
    how tight is the cluster around its own centroid? Reports n_vecs,
    the mean and minimum cosine of members to their label centroid —
    a low min flags probable mislabels, a low mean a non-cohesive
    label. The per-label centroid join carries no broadcast hint
    (labels are caller-cardinality; AQE broadcasts when actually
    small); the mean is a scaled-integer sum of rounded cosines, so
    every reported number is engine- and partitioning-exact."""
    cent = label_centroids(vectors, label_col, vec_col, scale)
    scored = vectors.join(cent, label_col).select(
        label_col,
        F.round(cosine(F.col(vec_col), F.col("centroid")), 6).alias("__cos"),
    )
    return scored.groupBy(label_col).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (
            F.sum(F.round(F.col("__cos") * scale, 0).cast("long"))
            .cast("double")
            / (F.lit(float(scale)) * F.count(F.lit(1)))
        ).alias("mean_cos"),
        F.min("__cos").alias("min_cos"),
    )


# --- Blocked numpy all-pairs kernel (Arrow batch path) ---------------------

def cosine_pairs_blocked(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    out_a: str = "vec_a",
    out_b: str = "vec_b",
    n_blocks: int = 4,
    bucket_col: str | None = None,
    target_block_rows: int | None = None,
) -> DataFrame:
    """All-pairs cosine ≥ threshold — exact, but fully distributed: a
    block-partitioned numpy sweep under ``applyInPandas``. Nothing ever
    rides through the driver.

    With ``bucket_col`` set, the sweep is scoped WITHIN each bucket:
    only pairs sharing a bucket value are scored, block replication
    happens per bucket (never across the full table), and groups key on
    (bucket, block_i, block_j). This is the composition point for the
    100 TB path — `lsh_bucketed_cosine_pairs` feeds banded LSH buckets
    through here, so the quadratic sweep only ever runs over
    bucket-sized tiles. Without it, the sweep is the exact-all-pairs
    baseline: O(n²) compute by contract, oracle-checkable, and the
    thing the bucketed path is measured against.

    ``target_block_rows`` (bucketed mode only) makes the blocking
    SKEW-ADAPTIVE: each bucket gets B = ceil(size/target) blocks, so a
    hot LSH bucket splits until its tiles fit an executor while small
    buckets replicate nothing — the grouped-kernel analog of an AQE
    skew-join split, which AQE itself cannot do for an applyInPandas
    group. A static ``n_blocks`` applies to every bucket otherwise.

    Shape: each vector is hashed into one of ``n_blocks`` blocks, then
    replicated to every unordered block pair (i ≤ j) it belongs to —
    `n_blocks` copies per row. Each (i, j) group holds just blocks i
    and j, and a numpy kernel scores its pairs locally on an executor.
    Every unordered vector pair lands in EXACTLY one owning group
    (cross-block pairs in (blk_a, blk_b) sorted; same-block pairs in
    (b, b) — the kernel masks same-block pairs out of mixed groups), so
    the union over groups is the exact all-pairs result, and the sweep
    is embarrassingly parallel over n_blocks·(n_blocks+1)/2 groups.

    Scale math: per-group memory is (2n/B)² score cells, so B grows
    with √n and total replicated shuffle volume is B·|data| — e.g. 1B
    vectors at B=1000 → 2M-row groups, each a 4M-cell float64 tile.
    Choose B so a group's tile fits an executor; the B·|data| shuffle
    is the honest cost of EXACT all-pairs (the approximate alternative
    is `ann_topk_lsh`/`ivf_topk` bucketing, which this kernel rescopes
    to when used within LSH buckets).

    Why not pure column expressions: per-pair dot products evaluate one
    scalar expression tree per pair; a 64-dim unrolled tree over 2M
    pairs measured 15+ s at sf0.1 (the generated method is too large
    for JIT), the lambda-fold 9 s. This kernel does the same arithmetic
    as 64 vectorized numpy ops over row-blocks — sub-second, and Arrow
    ships each row B times total, never once per pair.

    Bit-exactness contract (the oracle hash-matches): accumulation is a
    loop over dimensions with element-wise `+=`, which performs the
    IDENTICAL left-to-right float64 add sequence per pair as the
    sequential fold in DuckDB's list_dot_product / F.aggregate — never
    `np.dot`/`@` (pairwise/SIMD accumulation order differs). Block
    assignment only routes pairs to groups; it cannot affect any score.
    Rounding happens Spark-side (HALF_UP, matching the oracle's ROUND)
    — the kernel only pre-filters with a 1e-6 safety margin.
    """
    import numpy as np
    import pandas as pd

    margin = threshold - 1e-6

    bucket = [F.col(bucket_col).alias("__bkt")] if bucket_col else []
    bucket_keys = ["__bkt"] if bucket_col else []
    src = df.select(
        F.col(id_col).cast("long").alias("__id"),
        _as_double(F.col(vec_col)).alias("__v"),
        F.crc32(F.col(id_col).cast("string")).alias("__h"),
        *bucket,
    )
    if target_block_rows is not None and bucket_col:
        # SKEW-ADAPTIVE blocking: per-bucket B = ceil(size/target), so a
        # hot bucket splits into more blocks (its tile stays bounded)
        # while the long tail of small buckets pays no replication at
        # all (B=1). The size is a window count over the bucket: the
        # input is scanned once (a groupBy + join of the sizes ran the
        # upstream Arrow kernel twice and added a broadcast job).
        # Determinism: B depends only on bucket sizes, never on
        # partitioning, and the block-count invariance contract means
        # B cannot affect the emitted pairs.
        src = src.withColumn("__nb", F.expr(
            f"CAST(ceil(count(1) OVER (PARTITION BY __bkt) / "
            f"{int(target_block_rows)}) AS INT)"
        ))
    else:
        src = src.withColumn("__nb", F.lit(n_blocks))
    src = src.withColumn(
        "__blk", F.pmod(F.col("__h"), F.col("__nb")).cast("int")
    )
    # replicate: block b participates in groups {(min(b,x), max(b,x))}
    # for every x — one copy per partner block, no duplicates; with a
    # bucket the fan-out stays inside the bucket.
    rep = src.select(
        "__id",
        "__v",
        "__blk",
        *bucket_keys,
        F.explode(F.sequence(F.lit(0), F.col("__nb") - 1)).alias("__other"),
    ).select(
        "__id",
        "__v",
        "__blk",
        *bucket_keys,
        F.least("__blk", "__other").alias("__gi"),
        F.greatest("__blk", "__other").alias("__gj"),
    )

    def sweep(key, part):
        gi, gj = key[-2], key[-1]
        ids = part["__id"].to_numpy()
        blks = part["__blk"].to_numpy()
        M = np.array(part["__v"].tolist(), dtype=np.float64)
        dims = M.shape[1]
        n = len(ids)
        nrm = np.zeros(n)
        acc = np.zeros((n, n))
        # one preallocated product buffer: `acc += a*b` would allocate
        # (and page through) a fresh n×n temp per dim — 64 × 8·n² bytes
        # of allocator traffic per tile (r13 optimization). np.multiply
        # into `tmp` then np.add into `acc` performs the IDENTICAL
        # element-wise multiply-then-add float64 sequence per pair, so
        # the fold-order bit-exactness contract is untouched.
        tmp = np.empty((n, n))
        for i in range(dims):
            col = M[:, i]
            np.multiply(col[:, None], col[None, :], out=tmp)
            np.add(acc, tmp, out=acc)
            nrm += col * col
        nrm = np.sqrt(nrm)
        cos = acc / (nrm[:, None] * nrm[None, :])
        # ownership: this group emits a pair iff its sorted block pair
        # IS (gi, gj) — same-block pairs belong to the diagonal group.
        own = (np.minimum(blks[:, None], blks[None, :]) == gi) & (
            np.maximum(blks[:, None], blks[None, :]) == gj
        )
        ai, bi = np.nonzero(
            (cos >= margin) & (ids[:, None] < ids[None, :]) & own
        )
        return pd.DataFrame(
            {out_a: ids[ai], out_b: ids[bi], "cosine_raw": cos[ai, bi]}
        )

    if target_block_rows is not None and bucket_col:
        # the window left the rows hash-partitioned by bucket alone,
        # which already satisfies the groupBy; re-shuffle on the tile
        # key so a hot bucket's tiles spread over tasks instead of
        # running one after another in its partition
        rep = rep.repartition(*bucket_keys, "__gi", "__gj")
    return rep.groupBy(*bucket_keys, "__gi", "__gj").applyInPandas(
        sweep, schema=f"{out_a} long, {out_b} long, cosine_raw double"
    )


def banded_signature_rows(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int,
    bands: int,
    planes_per_band: int,
    id_alias: str | None = None,
    vec_alias: str | None = None,
    norm_alias: str | None = None,
    bucket_alias: str = "__band_bucket",
) -> DataFrame:
    """One (id, vec[, norm], band_bucket) row per vector per band,
    computed in ONE Arrow pass (r13 optimization): the Catalyst
    spelling (`hyperplane_signature` × bands inside an explode) builds
    a ~1,600-node literal tree that every downstream DataFrame layer
    re-analyzes (~0.3 s PER LAYER at 24 planes × 64 dims — measured
    1.2 s of pure driver-side construction per bucketed query) and
    evaluates interpreted per row. Here the plan node is one
    MapInPandas; plane dots run as ``dims`` vectorized numpy steps.

    Bit-exactness contract (same as `cosine_pairs_blocked`): each
    plane dot and each norm accumulates with element-wise ``+=`` over
    dims — the IDENTICAL left-to-right float64 add sequence as the
    aggregate/zip_with fold and DuckDB's list_dot_product, so bucket
    ids (sign of the dot) and norms are bit-identical and the oracle
    twins keep matching. band_bucket = band · 2^r + Σ 2^j·[dot_j > 0],
    the exact packing of the expression spelling. The id column keeps
    its own type (string ids are a supported contract here — r09
    ADVICE made `semantic_contamination`'s tiebreak string-safe, and
    its bipartite candidates flow through this helper)."""
    import numpy as np
    import pandas as pd

    r = planes_per_band
    id_out = id_alias or id_col
    vec_out = vec_alias or vec_col
    id_type = dict(df.dtypes)[id_col]
    planes = np.array(
        [
            [_plane_component(j, d) for d in range(dims)]
            for j in range(bands * r)
        ],
        dtype=np.float64,
    )
    weights = np.array([2 ** j for j in range(r)], dtype=np.int64)
    src = df.select(
        F.col(id_col).alias("__sid"),
        _as_double(F.col(vec_col)).alias("__sv"),
    )

    def gen(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            M = np.array(pdf["__sv"].tolist(), dtype=np.float64)
            dots = np.zeros((n, bands * r))
            nrm = np.zeros(n)
            tmp = np.empty((n, bands * r))
            for d in range(dims):
                col = M[:, d]
                np.multiply(col[:, None], planes[:, d][None, :], out=tmp)
                np.add(dots, tmp, out=dots)
                nrm += col * col
            bits = (dots > 0.0).reshape(n, bands, r)
            buckets = (bits * weights[None, None, :]).sum(axis=2)
            band_ids = np.arange(bands, dtype=np.int64) * (2 ** r)
            bb = (buckets + band_ids[None, :]).astype(np.int64)
            ids = np.repeat(pdf["__sid"].to_numpy(), bands)
            vecs = pdf["__sv"].iloc[np.repeat(np.arange(n), bands)]
            out = {
                id_out: ids,
                vec_out: vecs.to_numpy(),
                bucket_alias: bb.reshape(-1),
            }
            if norm_alias is not None:
                out[norm_alias] = np.repeat(np.sqrt(nrm), bands)
            yield pd.DataFrame(out)

    schema = f"{id_out} {id_type}, {vec_out} array<double>"
    if norm_alias is not None:
        schema += f", {norm_alias} double"
    schema += f", {bucket_alias} long"
    return src.mapInPandas(gen, schema=schema)


def pair_cos_micro_arrow(
    cand: DataFrame,
    va: str,
    na: str,
    vb: str,
    nb: str,
    keep: list[str],
    out: str = "cos_micro",
) -> DataFrame:
    """Per-candidate exact micro-rounded cosine in one Arrow pass —
    replaces the interpreted per-pair lambda-fold dot (r13
    optimization, guide §4.2). Accumulation: element-wise ``+=`` over
    dims = the fold's left-to-right adds; the division happens in
    float64 exactly as the Column spelling. The kernel emits the RAW
    cosine and the ×1e6 + HALF_UP round runs Spark-side (F.round) —
    the same kernel-scores/Spark-rounds split as
    `cosine_pairs_blocked`, so cos_micro is bit-identical."""
    import numpy as np
    import pandas as pd

    cols = keep + [va, na, vb, nb]
    src = cand.select(*cols)

    def gen(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            A = np.array(pdf[va].tolist(), dtype=np.float64)
            B = np.array(pdf[vb].tolist(), dtype=np.float64)
            dims = A.shape[1]
            acc = np.zeros(n)
            for d in range(dims):
                acc += A[:, d] * B[:, d]
            cos = acc / (pdf[na].to_numpy() * pdf[nb].to_numpy())
            data = {k: pdf[k] for k in keep}
            data["__cos_raw"] = cos
            yield pd.DataFrame(data)

    keep_schema = ", ".join(
        f"{c} {t}"
        for c, t in zip(
            keep,
            [dict(cand.dtypes)[c] for c in keep],
        )
    )
    raw = src.mapInPandas(gen, schema=f"{keep_schema}, __cos_raw double")
    return raw.withColumn(
        out, F.round(F.col("__cos_raw") * 1e6, 0).cast("long")
    ).drop("__cos_raw")


def lsh_bucketed_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    bands: int = 8,
    planes_per_band: int = 3,
    threshold: float = 0.45,
    n_blocks: int | None = None,
    out_a: str = "vec_a",
    out_b: str = "vec_b",
    target_block_rows: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs at scale: banded hyperplane-LSH
    candidate generation → EXACT blocked-numpy cosine rescoring within
    each bucket. This is the default 100 TB embedding-dedup recipe; the
    all-pairs `cosine_pairs_blocked` (no bucket) is the exact baseline
    it trades against.

    Semantics (deterministic, oracle-replicable): a pair is emitted iff
    the two vectors share at least one of ``bands`` bucket signatures
    (band b = sign bits against planes [b·r, (b+1)·r) of the md5-derived
    family) AND their exact cosine ≥ ``threshold``. Every emitted score
    is exact — LSH only gates WHICH pairs get scored. Banding is the
    recall dial: P(candidate) = 1 − (1 − p^r)^bands for per-plane
    agreement p = 1 − θ/π, so more/narrower bands raise recall, wider
    bands cut candidates. Nothing is random: planes are md5-derived
    constants, so recall is reproducible bit-for-bit across runs and
    engines (the DuckDB oracle replicates the buckets literally).

    Scale shape: one projection computes all band signatures (Catalyst
    folds the plane literals), a ``bands``-way explode routes each
    vector to its buckets, and the quadratic kernel runs per
    (band, bucket[, block-pair]) tile — the shuffle is bands·B·|data|
    and NO tile ever spans the full table (vs B·|data| shuffle but
    full-table n² compute for the exact baseline). Blocking is
    skew-adaptive by default: per-bucket B = ceil(size/target) with
    target ``target_block_rows`` or `TILE_ROWS`, so an ordinary bucket
    is ONE grouped-map call and only a hot bucket splits (see
    `cosine_pairs_blocked`). A static ``n_blocks`` splits every bucket
    into that many blocks instead: the old default of 2 made 3 tiles
    per bucket, 192 Python calls for 8 bands × 8 buckets, where the
    adaptive default makes 64 (measured 2.2 s → 1.5 s on 1,000 vectors,
    4 cores, identical pairs).
    Cross-band duplicate candidates collapse with a pair-key
    dropDuplicates (scores are identical in every band by the kernel's
    fold-order contract, so which copy survives is immaterial).
    """
    # Arrow-side banded signatures (r13): the Catalyst spelling (8 ×
    # hyperplane_signature literals inside an explode) cost ~1.2 s of
    # per-run driver-side analysis alone at sf0.1 and evaluated the
    # plane dots interpreted per row; same buckets bit-for-bit (see
    # banded_signature_rows' fold-order contract).
    banded = banded_signature_rows(
        df, id_col, vec_col, dims, bands, planes_per_band,
    )
    if n_blocks is None and target_block_rows is None:
        target_block_rows = TILE_ROWS
    pairs = cosine_pairs_blocked(
        banded,
        id_col,
        vec_col,
        threshold=threshold,
        out_a=out_a,
        out_b=out_b,
        n_blocks=n_blocks or 1,
        bucket_col="__band_bucket",
        target_block_rows=target_block_rows,
    )
    return pairs.dropDuplicates([out_a, out_b])


def farthest_point_sample(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dims: int | None = None,
) -> DataFrame:
    """Greedy farthest-point (k-center) selection: start from the
    lowest-id vector, then repeatedly add the vector farthest (minimum
    cosine to ANY selected) from the current set — the classic diverse-
    subset recipe for eval/few-shot/coreset picks, where random
    sampling over-represents dense clusters.

    Incremental scoring: a persisted (id, closest) frame carries each
    candidate's max cosine to the selected set, and every round scores
    the corpus against ONLY the newest pick (one broadcast row,
    map-side `greatest`, one argmin) — O(n·k) cosine work total, not
    the O(n·k²) of rescoring the whole selected set per round. The
    corpus shuffles nothing and the driver holds only the k chosen
    ids. Deterministic: rounded cosine + lowest-id tiebreak, so the
    selected set is engine- and partitioning-exact. k driver-side
    rounds by construction (each pick depends on the last)."""
    if k <= 0:
        return corpus.select(
            id_col, vec_col, F.lit(0).cast("long").alias("pick_order")
        ).limit(0)
    first = corpus.orderBy(F.col(id_col).asc()).select(id_col).first()
    if first is None:
        return corpus.select(
            id_col, vec_col, F.lit(0).cast("long").alias("pick_order")
        ).limit(0)
    sel_ids = [first[0]]
    closest = None  # (id, vec, closest-cosine-to-selected)
    for _ in range(k - 1):
        newest = corpus.filter(F.col(id_col) == sel_ids[-1]).select(
            F.col(vec_col).alias("__svec")
        )
        base = closest if closest is not None else corpus.select(
            id_col, vec_col, F.lit(-2.0).alias("__closest")
        )
        closest = (
            base.filter(~F.col(id_col).isin(sel_ids))
            .join(F.broadcast(newest))
            .select(
                id_col,
                vec_col,
                F.greatest(
                    F.col("__closest"),
                    F.round(cosine(vec_col, "__svec", dims), 6),
                ).alias("__closest"),
            )
            .localCheckpoint(eager=False)
        )
        pick = closest.orderBy(F.asc("__closest"), F.asc(id_col)).first()
        if pick is None:
            break
        sel_ids.append(pick[0])
    order = {v: i for i, v in enumerate(sel_ids)}
    picked = corpus.filter(F.col(id_col).isin(sel_ids)).select(
        id_col, vec_col
    )
    m = F.create_map(
        *[x for v, i in order.items() for x in (F.lit(v), F.lit(i))]
    )
    return picked.withColumn("pick_order", m[F.col(id_col)].cast("long"))


# --- int8 scalar quantization (compressed vector store) ---------------------

def dim_minmax(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension (dim, lo, hi) over the corpus — the scalar
    quantizer's training statistics. One posexplode + hash agg on the
    dimension index (at most `dims` groups, so the shuffle is tiny
    regardless of corpus size)."""
    return (
        df.select(F.posexplode(vec_col).alias("dim", "v"))
        .groupBy("dim")
        .agg(
            F.min(F.col("v").cast("double")).alias("lo"),
            F.max(F.col("v").cast("double")).alias("hi"),
        )
    )


def scalar_quantize(
    df: DataFrame,
    params: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 255,
) -> DataFrame:
    """int8 codes from per-dimension min-max quantization: code_i =
    round((v_i − lo_i)·(levels−1)/(hi_i − lo_i)) ∈ 0..levels−1 (degenerate
    dims where hi = lo code to 0). 4-byte float → 1-byte code per dim —
    the FAISS SQ8 layout; `params` is the `dim_minmax` frame, broadcast
    as a dims-length array literal into a zip_with projection, so the
    encode is map-only at any corpus size.

    The arithmetic is (v − lo) · 254 / span — two exact double ops and
    one division, then HALF_UP round: bit-identical on every engine
    (the oracle replays it verbatim)."""
    rows = sorted(params.collect(), key=lambda r: r["dim"])
    lo = F.array(*[F.lit(float(r["lo"])) for r in rows])
    span = F.array(
        *[F.lit(float(r["hi"]) - float(r["lo"])) for r in rows]
    )
    codes = F.zip_with(
        F.zip_with(
            F.col(vec_col), lo, lambda v, l: v.cast("double") - l
        ),
        span,
        lambda d, s: F.when(
            s > 0.0, F.round(d * (levels - 1) / s, 0).cast("int")
        ).otherwise(F.lit(0)),
    )
    return df.select(F.col(id_col), codes.alias("codes"))


def global_max_abs(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """1-row (max_abs) over every component — the symmetric int8
    quantizer's single training statistic."""
    return df.select(
        F.posexplode(vec_col).alias("dim", "v")
    ).agg(F.max(F.abs(F.col("v").cast("double"))).alias("max_abs"))


def symmetric_quantize(
    df: DataFrame,
    max_abs: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """int8 codes for SEARCH: code_i = round(v_i·127/max_abs) ∈
    −127..127 with one GLOBAL scale. Unlike the per-dimension
    `scalar_quantize` (the storage quantizer, whose per-dim offsets
    distort inner products), a single symmetric scale makes the integer
    dot a consistently scaled estimate of the true dot —
    dot(codes) ≈ dot(v)·(127/max_abs)² — so ranking survives
    quantization. This is the standard int8-GEMM embedding-search
    layout. Map-only projection; the scale is one broadcast scalar."""
    codes = F.transform(
        F.col(vec_col),
        lambda v: F.round(
            v.cast("double") * 127 / max_abs, 0
        ).cast("int"),
    )
    return df.select(F.col(id_col), codes.alias("codes"))


def int8_topk(
    corpus_codes: DataFrame,
    query_codes: DataFrame,
    id_col: str = "vec_id",
    k: int = 3,
) -> DataFrame:
    """Exact top-k by integer dot product over quantized codes — the
    compressed-domain search companion to `scalar_quantize`. Scores are
    Σ q_i·c_i of small ints (≤ 254²·dims ≈ 4·10⁶ per pair): EXACT in
    64-bit, so ranking needs no rounding policy at all — the strongest
    cross-engine determinism class in the module. Query side broadcast,
    corpus scanned once, per-query top-k via one window (same plan
    shape as `cosine_topk`); raw float vectors are never read at search
    time (codes are ~4× smaller, the scan is proportionally faster)."""
    from pyspark.sql import Window

    q = query_codes.select(
        F.col(id_col).alias("query_id"), F.col("codes").alias("__qc")
    )
    c = corpus_codes.select(
        F.col(id_col).alias("neighbor_id"), F.col("codes").alias("__cc")
    )
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.aggregate(
            F.zip_with(
                "__qc", "__cc", lambda a, b: a.cast("long") * b
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("qdot"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "qdot", F.col("rank").cast("long")
        )
    )


def embedding_gram(
    df: DataFrame, emb_col: str, dims: int, scale: int = 1_000_000
) -> DataFrame:
    """Second-moment (gram) matrix Σ x xᵀ over an embedding column —
    the one-pass statistic behind whitening / PCA / OPQ rotation
    training. Returns (i, j, gram_e6) rows, i/j ∈ [0, dims): each
    per-row product x_i·x_j is widened float→double (exact), rounded
    once at 1/``scale`` granularity and summed as BIGINT — the repo's
    standard exact-sum policy, so any engine reproduces the integers
    bit-for-bit.

    Scale shape: the d² per-row terms are exploded BEFORE a hash
    aggregate on (i, j) — map-side partial aggregation collapses each
    task's terms to ≤ d² rows, so the shuffle carries d²·partitions
    rows (a config-bounded constant), never N·d². CPU is the
    irreducible O(N·d²) of any gramian; state per task is d² longs.
    Only the upper triangle j ≥ i is aggregated (the matrix is
    symmetric by construction — mirror on read)."""
    pairs = F.expr(
        f"""
        flatten(transform(sequence(0, {dims - 1}), i ->
          transform(sequence(i, {dims - 1}), j ->
            struct(i AS i, j AS j,
              CAST(ROUND(CAST({emb_col}[i] AS DOUBLE)
                         * CAST({emb_col}[j] AS DOUBLE)
                         * {scale}, 0) AS BIGINT) AS t))))
        """
    )
    return (
        df.select(F.explode(pairs).alias("p"))
        .select("p.i", "p.j", "p.t")
        .groupBy("i", "j")
        .agg(F.sum("t").cast("long").alias("gram_e6"))
    )


def whiten_embeddings(
    df: DataFrame,
    emb_col: str,
    dims: int,
    eps: float = 1e-6,
    out_col: str = "whitened",
) -> DataFrame:
    """ZCA whitening: project embeddings so their covariance is ~I —
    the standard preconditioner before product quantization / cosine
    bucketing when raw dimensions are correlated (correlated dims make
    PQ subspaces dependent and LSH planes redundant).

    Distributed shape: ONE pass computes the d² second moments and the
    d means (`embedding_gram` + an element-wise sum — both bounded
    aggregates); the d×d eigendecomposition runs on the driver (d²
    doubles is bounded METADATA, the codebook-collect exception, same
    as `kmeans_codebook`); the projection W = U diag((λ+eps)^-½) Uᵀ
    broadcasts to an Arrow-batched numpy matmul (`mapInPandas`) — the
    data path stays map-only. Output schema: input columns +
    ``out_col`` array<double>.

    Not oracle-twinned: eigendecomposition has no portable bit-exact
    contract (sign/order of eigenvectors is implementation-defined);
    correctness is property-tested instead (covariance of the output
    ≈ I, determinism across partitionings given the fixed LAPACK)."""
    import numpy as np
    import pandas as pd

    n = df.count()
    gram_rows = embedding_gram(df, emb_col, dims).collect()
    # means under the SAME round-then-BIGINT-sum policy as the gram —
    # a raw double SUM is order-dependent across partitionings and
    # would make the trained W (hence every projection) depend on the
    # physical layout
    sums = df.select(
        *[
            F.sum(
                F.round(F.col(emb_col)[i].cast("double") * 1e6, 0).cast(
                    "long"
                )
            ).alias(f"s{i}")
            for i in range(dims)
        ]
    ).collect()[0]
    mu = np.array([sums[f"s{i}"] / 1e6 for i in range(dims)]) / n
    g = np.zeros((dims, dims))
    for r in gram_rows:
        g[r["i"], r["j"]] = r["gram_e6"] / 1e6
        g[r["j"], r["i"]] = r["gram_e6"] / 1e6
    cov = g / n - np.outer(mu, mu)
    lam, u = np.linalg.eigh(cov)
    w = (u * (1.0 / np.sqrt(np.maximum(lam, 0.0) + eps))) @ u.T
    w_list = w.tolist()
    mu_list = mu.tolist()
    out_fields = df.schema.fieldNames()
    schema_str = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", `{out_col}` array<double>"

    def project(batches):
        wm = np.asarray(w_list)
        m = np.asarray(mu_list)
        for pdf in batches:
            x = np.stack(
                pdf[emb_col].map(lambda v: np.asarray(v, dtype=np.float64))
            )
            # fixed-order einsum, NOT BLAS matmul: dgemm picks blocked
            # summation kernels by matrix SHAPE, so `(x-m) @ W.T` gives
            # ulp-different results as Arrow batch sizes change — i.e.
            # outputs that depend on the physical partitioning. The
            # non-optimized einsum accumulates each output element in a
            # fixed sequential order regardless of batch row count.
            z = np.einsum("ij,kj->ik", x - m, wm, optimize=False)
            out = pdf.copy()
            out[out_col] = list(z)
            yield out

    return df.mapInPandas(project, schema=schema_str)


def hard_negative_stage(
    pairs: DataFrame, k: int = 3, margin_micro: int = 20000
) -> DataFrame:
    """The margin-gate / positive-ceiling / rank stage of hard-negative
    mining, factored so it consumes ANY candidate frame with columns
    ``(a_id, a_label, b_id, b_label, cos_micro)`` — the exact all-pairs
    cross score (`hard_negatives`) and the LSH-bucketed candidate
    generator (`hard_negatives_bucketed` via
    `lsh_bucketed_cosine_pairs`) both feed this same logic.

    Semantics: per anchor, the positive ceiling is the max cos_micro
    among same-label candidates; different-label candidates at
    ``cos <= ceiling − margin_micro`` are ranked by (cos desc, id) and
    the top ``k`` emitted. Anchors with no same-label candidate have a
    NULL ceiling and emit nothing. All comparisons are pure int64 —
    engine- and partitioning-exact given exact inputs.

    Plan shape (r13 optimization, guide §2.3 "aggregate before you
    shuffle"): the ceiling is a per-anchor hash AGGREGATE over the
    same-label candidates — map-side partials reduce it to one row per
    anchor before anything moves — joined back onto the different-label
    candidates (AQE broadcasts the anchor-sized frame when it fits; at
    corpus scale it is an ordinary a_id equi-join). The old spelling
    computed the ceiling as an unordered max WINDOW, which forced the
    FULL candidate frame through one exchange before the rank filter
    could prune anything; with the ceiling joined instead, the
    row_number's rank<=k filter compiles to a partial WindowGroupLimit
    that caps what each map task emits into the rank exchange at k
    rows per anchor. Same integers, same ties, same output."""
    from pyspark.sql import Window

    pos_best = (
        pairs.filter(F.col("a_label") == F.col("b_label"))
        .groupBy("a_id")
        .agg(F.max("cos_micro").alias("pos_best_micro"))
    )
    w = Window.partitionBy("a_id").orderBy(
        F.col("cos_micro").desc(), F.col("b_id")
    )
    return (
        pairs.filter(F.col("a_label") != F.col("b_label"))
        .join(pos_best, "a_id")
        .filter(
            F.col("cos_micro")
            <= F.col("pos_best_micro") - F.lit(margin_micro)
        )
        .withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .select(
            F.col("a_id").alias("anchor_id"),
            F.col("a_label").alias("anchor_label"),
            F.col("b_id").alias("neg_id"),
            F.col("b_label").alias("neg_label"),
            "neg_rank",
            (F.col("cos_micro") / 1e6).alias("cosine"),
            (F.col("pos_best_micro") / 1e6).alias("pos_best"),
        )
    )


def hard_negatives(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 3,
    margin_micro: int = 20000,
    dims: int | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive embedding training (the
    DPR / sentence-transformers recipe): for each anchor, the k most
    similar items with a DIFFERENT label — the negatives that
    actually move the loss — excluding any negative whose similarity
    comes within ``margin_micro`` of the anchor's best positive
    (those are likely mislabeled positives, the classic
    false-negative trap).

    Determinism contract: cosines are micro-rounded BIGINTs; the
    margin gate ``cos <= pos_best − margin_micro`` is a pure int64
    comparison; ranking ties fall to the candidate id. Anchors with
    no same-label partner have no positive ceiling and emit nothing.

    Returns (anchor_id, anchor_label, neg_id, neg_label, neg_rank,
    cosine, pos_best) — cosines divided back to doubles for
    presentation only.

    Scale posture: this exact all-pairs form is the CONTRACTED
    baseline (like `cosine_topk`) — O(n²) scoring by contract. At
    corpus scale use `hard_negatives_bucketed`: the IDENTICAL
    gate/rank stage (`hard_negative_stage`) fed by LSH-bucketed
    candidates from `lsh_bucketed_cosine_pairs`, with no full-table
    broadcast anywhere.

    Scoring path (r13 optimization, guide §4.2): the default scores
    all pairs through the blocked-numpy sweep (`cosine_pairs_blocked`
    at threshold −2, i.e. unfiltered) instead of a broadcast cross
    join whose per-pair lambda-fold dot is interpreted per element —
    measured 3.9 s → the kernel's sub-second sweep at sf0.1's 4M
    pairs. The kernel's accumulation contract (element-wise += over
    dims = the fold's left-to-right adds) keeps every cos_micro
    bit-identical, so the oracle hash is unchanged. Ids must be
    integral (the kernel's contract — same as every bucketed path).
    Passing ``dims`` keeps the legacy unrolled-expression cross join
    (the equivalence witness `tests/test_hard_negatives.py` compares
    the two).
    """
    if dims:
        # legacy unrolled path: per-vector norms BEFORE the cross join
        # (one sqrt per vector, not three dots per pair); the per-pair
        # dot is one unrolled codegen expression — same doubles as the
        # kernel (left-to-right adds)
        norm = l2_norm(vec_col, dims)
        par = df.sparkSession.sparkContext.defaultParallelism
        a = df.select(
            F.col(id_col).alias("a_id"),
            F.col(label_col).alias("a_label"),
            F.col(vec_col).alias("__va"),
            norm.alias("__na"),
        ).repartition(par, "a_id")
        b = df.select(
            F.col(id_col).alias("b_id"),
            F.col(label_col).alias("b_label"),
            F.col(vec_col).alias("__vb"),
            norm.alias("__nb"),
        )
        pairs = (
            a.crossJoin(F.broadcast(b))
            .filter(F.col("a_id") != F.col("b_id"))
            .withColumn(
                "cos_micro",
                F.round(
                    F.expr(_sql_dot("__va", "__vb", dims))
                    / (F.col("__na") * F.col("__nb")) * 1e6, 0
                ).cast("long"),
            )
            .select("a_id", "a_label", "b_id", "b_label", "cos_micro")
        )
        return hard_negative_stage(pairs, k, margin_micro)
    # fail fast on the kernel's id contract (advisor r13): the blocked
    # sweep and the label join both cast ids to long — a string id
    # would null out silently and emit zero rows, where the legacy
    # dims= path would have worked; make the contract an error instead
    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType
    if not isinstance(
        id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise TypeError(
            f"hard_negatives default (blocked-kernel) path requires an "
            f"integral id column; {id_col!r} is {id_type.simpleString()}. "
            f"Pass dims= for the unrolled-expression path, which "
            f"supports any id type."
        )
    # blocked-numpy sweep: every unordered pair scored exactly once in
    # a bounded tile, then symmetrized (cos is bit-symmetric: the
    # per-dim products and the norm product commute), labels attached
    # from a broadcast (id, label) projection — far smaller than the
    # old full-corpus broadcast (vectors included)
    raw = cosine_pairs_blocked(
        df, id_col, vec_col, threshold=-2.0, out_a="a_id", out_b="b_id"
    )
    lab = df.select(
        F.col(id_col).cast("long").alias("__lab_id"),
        F.col(label_col).alias("__lab"),
    )
    # round + label-join on the HALF (unordered) pair set, THEN mirror
    # (r14, guide §2.3): the mirror copies finished columns instead of
    # doubling the probe volume of both label joins and the round —
    # n²/2 rows through the joins, not n². The checkpoint sits ABOVE
    # the joins (not on the raw sweep) because a union evaluates its
    # producing subtree once per branch: pinning the LABELED half
    # makes both the sweep and the joins run exactly once, and the
    # mirror is two reads of the materialized rows. Identical row
    # multiset: cos is scored once per unordered pair and cos_micro /
    # labels are deterministic per-row functions of it.
    half = (
        raw.withColumn(
            "cos_micro", F.round(F.col("cosine_raw") * 1e6, 0).cast("long")
        )
        .join(F.broadcast(lab), F.col("a_id") == F.col("__lab_id"))
        .withColumnRenamed("__lab", "a_label")
        .drop("__lab_id")
        .join(F.broadcast(lab), F.col("b_id") == F.col("__lab_id"))
        .withColumnRenamed("__lab", "b_label")
        .select("a_id", "a_label", "b_id", "b_label", "cos_micro")
    ).localCheckpoint(eager=False)
    pairs = half.unionByName(
        half.select(
            F.col("b_id").alias("a_id"),
            F.col("b_label").alias("a_label"),
            F.col("a_id").alias("b_id"),
            F.col("a_label").alias("b_label"),
            "cos_micro",
        )
    )
    return hard_negative_stage(pairs, k, margin_micro)


def hard_negatives_bucketed(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 3,
    margin_micro: int = 20000,
    dims: int = 64,
    bands: int = 8,
    planes_per_band: int = 3,
    threshold: float = 0.0,
    n_blocks: int = 2,
    target_block_rows: int | None = None,
) -> DataFrame:
    """Hard-negative mining at corpus scale: the SAME gate/rank stage
    as `hard_negatives` (`hard_negative_stage`), fed by LSH-bucketed
    candidate pairs (`lsh_bucketed_cosine_pairs`) instead of the
    all-pairs broadcast cross score — no full-table broadcast, no
    O(N²) tile, anywhere in the plan.

    Candidate contract (deterministic, oracle-replicable): a pair is a
    candidate iff the two vectors share at least one of ``bands``
    md5-derived band buckets AND its micro-rounded cosine ≥
    round(threshold·10⁶) — banding is the recall dial (see
    `lsh_bucketed_cosine_pairs`). Both the positive ceiling and the
    negative ranking are computed over CANDIDATES: a missed positive
    can only LOWER the ceiling, making the margin gate stricter —
    bucketing never admits a negative the gate itself would reject.

    Scale shape: bands·B·|data| shuffle for candidate generation with
    per-(band,bucket[,block]) quadratic tiles that never span the
    table; the undirected pairs are mirrored (each side anchors) and
    labels rejoin by id — two corpus-sized hash joins AQE plans
    without any broadcast hint; then one a_id hash exchange shared by
    the ceiling and rank windows."""
    pairs = lsh_bucketed_cosine_pairs(
        df,
        id_col,
        vec_col,
        dims=dims,
        bands=bands,
        planes_per_band=planes_per_band,
        threshold=threshold,
        n_blocks=n_blocks,
        out_a="__pa",
        out_b="__pb",
        target_block_rows=target_block_rows,
    )
    # persist the 3-col candidate frame: the mirror below is a union
    # of two reads, which would otherwise evaluate the whole bucketed
    # sweep pipeline twice (the r07 multi-consumer-atop-cross lesson)
    micro = pairs.select(
        "__pa",
        "__pb",
        F.round(F.col("cosine_raw") * 1e6, 0).cast("long").alias(
            "cos_micro"
        ),
    ).filter(
        F.col("cos_micro") >= F.lit(int(round(threshold * 1e6)))
    )
    # labels attach on the HALF (unordered) candidate set, THEN the
    # mirror copies finished columns (r14, guide §2.3) — half the join
    # probe volume, identical row multiset (see hard_negatives). The
    # persist moved ABOVE the joins (a union evaluates its producing
    # subtree once per branch — pinning the labeled half makes the
    # whole bucketed sweep AND the joins run exactly once, the r07
    # multi-consumer-atop-cross lesson extended to the joins). No
    # broadcast hints: labels are corpus-sized at scale, AQE decides.
    # Cache lifecycle: consumers are in the returned lazy plan —
    # session owner unpersists (clearCache between queries) or GC.
    la = df.select(
        F.col(id_col).alias("__pa"), F.col(label_col).alias("a_label")
    )
    lb = df.select(
        F.col(id_col).alias("__pb"), F.col(label_col).alias("b_label")
    )
    half = micro.join(la, "__pa").join(lb, "__pb").select(
        F.col("__pa").alias("a_id"),
        "a_label",
        F.col("__pb").alias("b_id"),
        "b_label",
        "cos_micro",
    ).persist()
    cand = half.unionByName(
        half.select(
            F.col("b_id").alias("a_id"),
            F.col("b_label").alias("a_label"),
            F.col("a_id").alias("b_id"),
            F.col("a_label").alias("b_label"),
            "cos_micro",
        )
    )
    return hard_negative_stage(cand, k, margin_micro)


def margin_mining_stage(pairs: DataFrame, k: int = 4) -> DataFrame:
    """The margin-score / mutual-best stage of bitext mining, factored
    so it consumes ANY scored candidate frame with columns
    ``(a_id, b_id, cos_micro)`` — the exact cross score
    (`margin_mined_pairs`) and the LSH-bucketed bipartite candidate
    generator (`margin_mined_pairs_bucketed` via
    `lsh_bucketed_cross_pairs`) both feed this same logic.

    Semantics (Artetxe & Schwenk ratio margin, computed over the
    candidate set): ``margin(a,b) = cos·2k / (Σ top-k cos(a,·) +
    Σ top-k cos(b,·))`` with exact-BIGINT denominators (never a float
    AVG whose accumulation order could vary with partitioning) and one
    int64/int64 IEEE division; a pair is emitted iff it is BOTH sides'
    best margin. Ranking ties fall to the partner id.

    Plan shape: the input frame is persisted HERE because the stage
    has four consumers (two rank-window directions, two denominator
    joins) — callers should not persist it again. The denominator
    joins carry NO broadcast hint: den_a/den_b are one row per side-A/
    side-B vector, i.e. corpus-sized at scale — AQE broadcasts them
    when they are actually small."""
    from pyspark.sql import Window

    # cache lifecycle: consumers are in the returned lazy plan —
    # session owner unpersists (clearCache between queries) or GC
    pairs = pairs.persist()
    wa = Window.partitionBy("a_id").orderBy(
        F.col("cos_micro").desc(), F.col("b_id")
    )
    wb = Window.partitionBy("b_id").orderBy(
        F.col("cos_micro").desc(), F.col("a_id")
    )
    ranked = pairs.withColumn("rn_a", F.row_number().over(wa)).withColumn(
        "rn_b", F.row_number().over(wb)
    )
    den_a = (
        ranked.filter(F.col("rn_a") <= k)
        .groupBy("a_id")
        .agg(F.sum("cos_micro").cast("long").alias("den_a"))
    )
    den_b = (
        ranked.filter(F.col("rn_b") <= k)
        .groupBy("b_id")
        .agg(F.sum("cos_micro").cast("long").alias("den_b"))
    )
    scored = (
        pairs.join(den_a, "a_id")
        .join(den_b, "b_id")
        .withColumn(
            "margin",
            (F.col("cos_micro") * (2 * k))
            / (F.col("den_a") + F.col("den_b")),
        )
    )
    fwd = Window.partitionBy("a_id").orderBy(
        F.col("margin").desc(), F.col("b_id")
    )
    bwd = Window.partitionBy("b_id").orderBy(
        F.col("margin").desc(), F.col("a_id")
    )
    best = (
        scored.withColumn("best_b", F.row_number().over(fwd))
        .withColumn("best_a", F.row_number().over(bwd))
        .filter((F.col("best_b") == 1) & (F.col("best_a") == 1))
    )
    return best.select(
        "a_id",
        "b_id",
        (F.col("cos_micro") / 1e6).alias("cosine"),
        F.round(F.col("margin"), 6).alias("margin"),
    )


def margin_mined_pairs(
    side_a: DataFrame,
    side_b: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    dims: int | None = None,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019): align two
    embedding collections (e.g. sentences in two languages) by MUTUAL
    best match under the ratio margin
    ``margin(a,b) = cos(a,b) / ((avg top-k cos(a,·B) + avg top-k
    cos(b,·A)) / 2)`` — the margin discounts hubs that are close to
    everything, the classic failure of raw-cosine alignment.

    Determinism contract: cosines are micro-rounded BIGINTs, each
    top-k denominator is an exact integer sum of k of them (never a
    float AVG whose accumulation order could vary with partitioning),
    and the margin is one int64/int64 IEEE division — identical in
    any engine. Ranking ties fall to the partner id.

    Returns one row per mutual-best pair: (a_id, b_id, cosine,
    margin), margin rounded at 6 for presentation.

    Scale posture: this exact all-pairs form is the CONTRACTED
    baseline (scores every cross pair, like `cosine_topk`) — the
    broadcast side is the whole of side B, bounded only by the
    caller's contract that it fits one executor. At corpus scale use
    `margin_mined_pairs_bucketed`: the IDENTICAL margin/mutual stage
    (`margin_mining_stage`) fed by LSH-bucketed bipartite candidates
    from `lsh_bucketed_cross_pairs`, with no full-table broadcast
    anywhere. Within this form: side A is hash-repartitioned to
    core width before the broadcast cross score (a small parquet
    input is one partition — without this the whole O(N·M) scoring
    loop is a single task), and the scored pair frame (3 narrow
    cols) is persisted by the stage so its four consumers (two
    rank-window directions, two denominator joins) evaluate the
    cross product exactly once. No global sort.
    """
    # per-vector norms BEFORE the cross join; unrolled codegen dot per
    # pair when dims is known — same doubles as the fold (both strict
    # left-to-right), but it pays a multi-second janino compile per
    # stage: only pass dims when pairs >> 10^6
    norm = l2_norm(vec_col, dims) if dims else l2_norm(F.col(vec_col))
    par = side_a.sparkSession.sparkContext.defaultParallelism
    a = side_a.select(
        F.col(id_col).alias("a_id"),
        F.col(vec_col).alias("__va"),
        norm.alias("__na"),
    ).repartition(par, "a_id")
    b = side_b.select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("__vb"),
        norm.alias("__nb"),
    )
    pair_dot = (
        F.expr(_sql_dot("__va", "__vb", dims))
        if dims
        else dot(F.col("__va"), F.col("__vb"))
    )
    pairs = (
        a.crossJoin(F.broadcast(b))
        .withColumn(
            "cos_micro",
            F.round(
                pair_dot / (F.col("__na") * F.col("__nb")) * 1e6, 0
            ).cast("long"),
        )
        .select("a_id", "b_id", "cos_micro")
    )
    return margin_mining_stage(pairs, k)


def lsh_bucketed_cross_pairs(
    side_a: DataFrame,
    side_b: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    bands: int = 8,
    planes_per_band: int = 3,
    threshold_micro: int = 0,
    out_a: str = "a_id",
    out_b: str = "b_id",
) -> DataFrame:
    """Bipartite banded-LSH candidate pairs between two embedding
    collections — the scale-path candidate generator for bitext
    mining (`margin_mined_pairs_bucketed`). Same deterministic
    md5-derived plane family as `lsh_bucketed_cosine_pairs`; the
    bipartite form joins the two sides on a shared band bucket
    instead of sweeping one table against itself.

    Contract (oracle-replicable): a pair is a candidate iff the two
    vectors share at least one of ``bands`` band buckets; every
    candidate carries its EXACT micro-rounded cosine (``cos_micro``
    BIGINT, fold-order deterministic) and pairs below
    ``threshold_micro`` are dropped. Cross-band duplicates collapse
    BEFORE scoring (scores are id-determined, so which copy survives
    is immaterial).

    Scale shape: one folded-literal projection per side computes all
    band signatures, a ``bands``-way explode routes each vector to
    its buckets, and the candidate join is a plain shuffle equi-join
    on the bucket key — hot buckets are ordinary join skew, which AQE
    splits (unlike the self-join kernel, no applyInPandas group to
    outgrow). Shuffle is bands·(|A|+|B|); no broadcast, no O(N·M)
    tile.

    CAPACITY (r10 rehearsal measurement): the bucket key space is
    bands·2^planes — a CONSTANT — so expected candidates are
    ~bands·|A|·|B|/2^planes. When ONE side is fixed (decontamination:
    eval suites don't grow with the corpus) candidates are linear in
    the growing side and this shape holds to 100 TB. When BOTH sides
    grow (bitext mining at matched scale), candidates grow as the
    PRODUCT — measured 41.8x wall per 10x-on-both-sides at
    planes_per_band=3 — and ``planes_per_band`` must grow with scale
    (each +1 plane halves candidates; compensate recall with more
    bands, or raise ``threshold_micro``). planes/bands are build-time
    knobs of the DECLARED candidate set, so retuning them is an index
    rebuild, not a silent behavior change."""
    # Arrow-side banded signatures + candidate scoring (r13): the
    # Catalyst signature literals cost ~0.3 s of analysis per
    # DataFrame layer per side, and the per-candidate lambda-fold dot
    # evaluated interpreted per element; both now run as vectorized
    # numpy with the identical left-to-right fold order (see
    # banded_signature_rows / pair_cos_micro_arrow), so every bucket
    # id and cos_micro is bit-unchanged.
    a = banded_signature_rows(
        side_a, id_col, vec_col, dims, bands, planes_per_band,
        id_alias=out_a, vec_alias="__va", norm_alias="__na",
    )
    b = banded_signature_rows(
        side_b, id_col, vec_col, dims, bands, planes_per_band,
        id_alias=out_b, vec_alias="__vb", norm_alias="__nb",
    )
    cand = a.join(b, "__band_bucket").dropDuplicates([out_a, out_b])
    return (
        pair_cos_micro_arrow(
            cand, "__va", "__na", "__vb", "__nb", keep=[out_a, out_b]
        )
        .filter(F.col("cos_micro") >= F.lit(int(threshold_micro)))
        .select(out_a, out_b, "cos_micro")
    )


def margin_mined_pairs_bucketed(
    side_a: DataFrame,
    side_b: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    dims: int = 64,
    bands: int = 8,
    planes_per_band: int = 3,
    threshold_micro: int = 0,
) -> DataFrame:
    """Bitext mining at corpus scale: the SAME margin/mutual stage as
    `margin_mined_pairs` (`margin_mining_stage`), fed by bipartite
    LSH-bucketed candidates (`lsh_bucketed_cross_pairs`) instead of
    the broadcast cross join — no full-table broadcast, no O(N·M)
    score, anywhere in the plan.

    Semantics note: the top-k margin denominators and the mutual-best
    ranks are computed over CANDIDATES (the standard approximation —
    Faiss-backed LASER/CCMatrix mining does the same with ANN top-k);
    banding is the recall dial, and the md5-derived planes make the
    candidate set — hence every emitted pair — deterministic and
    oracle-checkable, not a probabilistic expectation."""
    cand = lsh_bucketed_cross_pairs(
        side_a,
        side_b,
        id_col,
        vec_col,
        dims=dims,
        bands=bands,
        planes_per_band=planes_per_band,
        threshold_micro=threshold_micro,
    )
    return margin_mining_stage(cand, k)
