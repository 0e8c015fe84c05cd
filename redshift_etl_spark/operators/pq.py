"""Product quantization (PQ) — compressed embedding storage + ADC search.

At 100 TB an embedding column dominates storage (64 float32 dims =
256 B/row); PQ stores ~m bytes instead: split each vector into ``m``
contiguous subspaces of ``d`` dims, train a tiny k-means codebook per
subspace, and keep only the per-subspace nearest-centroid ids (the
"code"). Search runs against codes via ADC (asymmetric distance
computation): a query's similarity to a coded vector is the SUM over
subspaces of dot(query_subvector, centroid_of_code) — the dot product
decomposes over contiguous subspaces, so one m×k lookup table per
query scores the whole corpus without touching raw vectors.

Determinism contract (same discipline as `similarity.kmeans_codebook`):
- assignment metric is the SCALED-INTEGER dot product
  ``CAST(ROUND(dot·10⁶) AS LONG)`` — argmax over integers with
  centroid-id tiebreak, no float comparisons anywhere;
- centroid updates are scaled-integer means (order-exact long sums);
- ADC scores are integer sums of the per-subspace scaled dots.
So codes and rankings are bit-identical across engines and
partitionings, and a DuckDB oracle replicates training + encoding +
search relationally (generators below share these constants).

Scale shape: training is ONE shuffle per iteration for ALL subspaces
(assignments aggregate per (vector, subspace); updates per
(subspace, cluster, position)); encoding is one Arrow map pass over the
collected codebook; ADC joins the exploded code column against a
broadcast query table (|Q|·m·k rows) and aggregates per
(query, vector) — the corpus side never carries raw vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import _as_double, _cosine_kernels, dot

SCALE = 10**6


def _dot_scaled(a, b):
    return F.round(dot(a, b) * SCALE, 0).cast("long")


def _subspaces(
    df: DataFrame, id_col: str, vec_col: str, m: int, d: int
) -> DataFrame:
    """(vid, s, sv): each vector exploded into its m subvectors.

    Guarded: a vector whose length ≠ m·d raises at execution instead of
    silently yielding empty subvectors (which would tie every argmax
    and corrupt codes). The guard rides the first slice expression —
    per-row comparison, no extra job."""
    v = _as_double(F.col(vec_col))

    def _slice(s: int):
        sl = F.slice(v, s * d + 1, d)
        if s == 0:
            return F.when(F.size(v) == m * d, sl).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"pq: vector length must be m*d = {m * d}, got "
                        ),
                        F.size(v).cast("string"),
                    )
                )
            )
        return sl

    slices = F.array(
        *[
            F.struct(F.lit(s).alias("s"), _slice(s).alias("sv"))
            for s in range(m)
        ]
    )
    return df.select(
        F.col(id_col).alias("vid"), F.explode(slices).alias("x")
    ).select("vid", F.col("x.s").alias("s"), F.col("x.sv").alias("sv"))


def _assign(sub: DataFrame, cent: DataFrame) -> DataFrame:
    """(vid, s, cluster): per (vector, subspace) the argmax-scaled-dot
    centroid, centroid-id tiebreak. Hash aggregate, not a window."""
    scored = sub.join(F.broadcast(cent), "s").select(
        "vid",
        "s",
        "sv",
        "cent_id",
        _dot_scaled(F.col("sv"), F.col("cv")).alias("ds"),
    )
    return scored.groupBy("vid", "s").agg(
        F.first("sv").alias("sv"),
        F.max_by(
            F.col("cent_id"),
            F.struct(F.col("ds"), (-F.col("cent_id")).alias("n")),
        ).alias("cluster"),
    )


def pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    d: int = 8,
    k: int = 16,
    iters: int = 1,
) -> DataFrame:
    """(s, cent_id, cv) — per-subspace codebooks. Seeds are the k
    lowest-id vectors' subvectors (cent_id = the seed's vector id; after
    an update iteration, cluster ids). Empty clusters drop identically
    in both engines."""
    sub = _subspaces(corpus, id_col, vec_col, m, d)
    lowk = corpus.orderBy(F.col(id_col).asc()).limit(k).select(
        F.col(id_col).alias("vid")
    )
    cent = sub.join(lowk, "vid").select(
        "s", F.col("vid").alias("cent_id"), F.col("sv").alias("cv")
    )
    for _ in range(iters):
        assigned = _assign(sub, cent)
        cent = (
            assigned.select(
                "s", "cluster", F.posexplode("sv").alias("pos", "val")
            )
            .groupBy("s", "cluster", "pos")
            .agg(
                (
                    F.sum(F.round(F.col("val") * SCALE, 0).cast("long"))
                    .cast("double")
                    / (F.lit(float(SCALE)) * F.count(F.lit(1)))
                ).alias("cval")
            )
            .groupBy("s", "cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                    lambda x: x.getField("cval"),
                ).alias("cv")
            )
            .select("s", F.col("cluster").alias("cent_id"), "cv")
        )
    return cent


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    d: int = 8,
) -> DataFrame:
    """(vid, code): the vector's m per-subspace centroid ids as a
    '-'-joined string (subspace order) — ~m bytes per vector instead of
    the raw embedding.

    One Arrow map pass: the codebook is tiny BY DEFINITION (m·k rows),
    so it is collected to the driver EAGERLY, when this function is
    called (one small job before the returned frame is lazy), and every
    Arrow batch of the corpus scan emits (vid, code) through one numpy
    kernel — zero shuffles, zero explode.

    Bit-exact with `_assign`, the relational argmax `pq_codebooks`
    trains with, and with `pq_codes_oracle_sql`, which retrains and
    re-encodes from scratch in SQL:
    - dots are `similarity._cosine_kernels`' ``fold_dots`` — the
      fold's left-to-right float64 add order, shared with every numpy
      cosine kernel;
    - the ×1e6 HALF_UP round runs as exact binary floor/frac steps:
      for |y| < 2**52, ``floor(y)`` and ``y - floor(y)`` are exact in
      IEEE754, and the shortest-decimal BigDecimal.valueOf(double)
      that Spark's round() consults preserves <,=,> against 0.5, so
      ``floor(|y|) + (frac >= 0.5)`` with the sign restored IS
      java.math.RoundingMode.HALF_UP on the same value;
    - ties break to the lowest cent_id: centroids are sorted by id
      ascending and np.argmax returns the FIRST maximum.
    The id column keeps its input dtype (the r13 string-id lesson).

    Bad input fails with a ValueError naming it: a codebook missing a
    subspace (checked before any job on the corpus runs), and a null
    vector or one with NaN/null components (checked per batch)."""
    import numpy as np
    import pandas as pd

    rows = codebooks.select("s", "cent_id", "cv").collect()
    by_s: dict[int, list] = {}
    for r in rows:
        by_s.setdefault(int(r["s"]), []).append(
            (int(r["cent_id"]), list(r["cv"]))
        )
    missing = [s for s in range(m) if s not in by_s]
    if missing:
        raise ValueError(
            f"pq: codebook has no centroids for subspace(s) {missing} "
            f"of m = {m}"
        )
    mats = {}
    for s, cents in by_s.items():
        cents.sort(key=lambda t: t[0])
        ids = np.array([c[0] for c in cents], dtype=np.int64)
        mat = np.array([c[1] for c in cents], dtype=np.float64)
        mats[s] = (ids, mat)

    def _half_up(y: "np.ndarray") -> "np.ndarray":
        a = np.abs(y)
        f = np.floor(a)
        r = f + (a - f >= 0.5)
        return (np.sign(y) * r).astype(np.int64)

    fold_dots = _cosine_kernels()[0]
    id_dtype = dict(corpus.dtypes)[id_col]
    src = corpus.select(
        F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("__v")
    )

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pdf["__v"].isna().any():
                raise ValueError("pq: cannot encode a null vector")
            V = np.array(pdf["__v"].tolist(), dtype=np.float64)
            if V.shape[1] != m * d:
                raise ValueError(
                    f"pq: vector length must be m*d = {m * d}, got "
                    f"{V.shape[1]}"
                )
            if np.isnan(V).any():
                raise ValueError(
                    "pq: cannot encode a vector with NaN or null components"
                )
            parts = []
            for s in range(m):
                ids, mat = mats[s]
                ds = _half_up(fold_dots(V[:, s * d:(s + 1) * d], mat) * SCALE)
                win = np.argmax(ds, axis=1)  # first max = lowest cent_id
                parts.append(ids[win].astype(str))
            code = parts[0]
            for p in parts[1:]:
                code = np.char.add(np.char.add(code, "-"), p)
            yield pd.DataFrame({"vid": pdf["vid"], "code": code})

    return src.mapInPandas(gen, schema=f"vid {id_dtype}, code string")


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    d: int = 8,
    topk: int = 3,
) -> DataFrame:
    """ADC inner-product search: per query an m×k scaled-dot lookup
    table (broadcast), summed over the corpus's exploded codes.
    Returns (query_id, neighbor_id, approx_dot_scaled, rank) — integer
    scores, (score DESC, neighbor ASC) total order. ``codes`` is
    `pq_encode` output; raw corpus vectors are never read."""
    qsub = _subspaces(queries, id_col, vec_col, m, d)
    qtable = qsub.join(F.broadcast(codebooks), "s").select(
        F.col("vid").alias("qid"),
        "s",
        F.col("cent_id").alias("code_val"),
        _dot_scaled(F.col("sv"), F.col("cv")).alias("ds"),
    )
    ncodes = codes.select(
        F.col("vid").alias("nid"),
        F.posexplode(F.split("code", "-")).alias("s", "c"),
    ).select("nid", "s", F.col("c").cast("long").alias("code_val"))
    scored = (
        ncodes.join(F.broadcast(qtable), ["s", "code_val"])
        .groupBy("qid", "nid")
        .agg(F.sum("ds").alias("approx_dot_scaled"))
        .filter(F.col("qid") != F.col("nid"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(
        F.desc("approx_dot_scaled"), F.asc("nid")
    )
    return (
        scored.select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            "approx_dot_scaled",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= topk)
    )


# --- DuckDB oracle generators (same constants, same recurrence) ------------

def _sql_assign(out: str, cent: str, m_sub: str = "sub") -> str:
    return f"""{out} AS (
  SELECT vid, s, sv, cluster FROM (
    SELECT {m_sub}.vid, {m_sub}.s, {m_sub}.sv, {cent}.cent_id AS cluster,
           row_number() OVER (
             PARTITION BY {m_sub}.vid, {m_sub}.s
             ORDER BY CAST(ROUND(list_dot_product({m_sub}.sv, {cent}.cv)
                      * {SCALE}) AS BIGINT) DESC, {cent}.cent_id ASC
           ) AS rn
    FROM {m_sub} JOIN {cent} ON {m_sub}.s = {cent}.s
  ) WHERE rn = 1
)"""


def pq_training_sql_prefix(
    m: int = 8, d: int = 8, k: int = 16, iters: int = 1
) -> list[str]:
    """CTE list ending in ``aF`` (final assignments) — the SQL twin of
    `pq_codebooks` + `pq_encode`'s assignment pass over `embeddings`."""
    parts = [
        "WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings)",
        f"sub AS (SELECT vec_id AS vid, sp.s AS s, "
        f"list_slice(v, sp.s * {d} + 1, sp.s * {d} + {d}) AS sv "
        f"FROM c CROSS JOIN (SELECT unnest(range(0, {m})) AS s) sp)",
        f"lowk AS (SELECT vec_id AS vid FROM c ORDER BY vec_id LIMIT {k})",
        "cent0 AS (SELECT s, sub.vid AS cent_id, sv AS cv "
        "FROM sub JOIN lowk ON sub.vid = lowk.vid)",
    ]
    for i in range(iters):
        parts.append(_sql_assign(f"a{i}", f"cent{i}"))
        parts.append(f"""cent{i + 1} AS (
  SELECT s, cluster AS cent_id, list(cval ORDER BY pos) AS cv FROM (
    SELECT s, cluster, pos,
           CAST(SUM(CAST(ROUND(val * {SCALE}) AS BIGINT)) AS DOUBLE)
             / ({SCALE}.0 * COUNT(*)) AS cval
    FROM (SELECT s, cluster, unnest(range(1, len(sv) + 1)) AS pos,
                 unnest(sv) AS val FROM a{i})
    GROUP BY s, cluster, pos
  ) GROUP BY s, cluster
)""")
    parts.append(_sql_assign("aF", f"cent{iters}"))
    return parts


def pq_codes_oracle_sql(
    m: int = 8, d: int = 8, k: int = 16, iters: int = 1
) -> str:
    parts = pq_training_sql_prefix(m, d, k, iters)
    return (
        ",\n".join(parts)
        + """
SELECT vid AS vec_id,
       string_agg(CAST(cluster AS VARCHAR), '-' ORDER BY s) AS code
FROM aF GROUP BY vid ORDER BY vec_id
"""
    )


def pq_adc_oracle_sql(
    m: int = 8,
    d: int = 8,
    k: int = 16,
    iters: int = 1,
    topk: int = 3,
    query_pred: str = "vid < 5",
) -> str:
    parts = pq_training_sql_prefix(m, d, k, iters)
    parts.append(f"""qtab AS (
  SELECT q.vid AS qid, q.s, cent{iters}.cent_id AS code_val,
         CAST(ROUND(list_dot_product(q.sv, cent{iters}.cv) * {SCALE})
              AS BIGINT) AS ds
  FROM sub q JOIN cent{iters} ON q.s = cent{iters}.s
  WHERE q.{query_pred}
)""")
    parts.append(
        "ncode AS (SELECT vid AS nid, s, cluster AS code_val FROM aF)"
    )
    parts.append("""scored AS (
  SELECT qid, nid, CAST(SUM(ds) AS BIGINT) AS approx_dot_scaled
  FROM ncode JOIN qtab ON ncode.s = qtab.s
                      AND ncode.code_val = qtab.code_val
  WHERE qid <> nid GROUP BY qid, nid
)""")
    return (
        ",\n".join(parts)
        + f"""
SELECT qid AS query_id, nid AS neighbor_id, approx_dot_scaled, rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY qid ORDER BY approx_dot_scaled DESC, nid ASC
  ) AS rank FROM scored
) WHERE rank <= {topk}
ORDER BY query_id, rank
"""
    )


def ivf_pq_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    cells: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    d: int = 8,
    topk: int = 3,
) -> DataFrame:
    """IVF-PQ composite search — the standard production ANN index
    (FAISS ``IVFx,PQy``): the IVF routing table restricts the ADC scan
    to each query's cell, so the per-query work is cell-sized, not
    corpus-sized, and the scanned payload is PQ codes, not raw
    vectors. ``cells`` is the corpus's (id, cluster) IVF assignment
    (a build artifact, like ``codes``/``codebooks``).

    Plan: the per-query ADC lookup table joins the query's OWN cell id
    and broadcasts (query-bounded side, same contract as
    `pq_adc_topk`); corpus codes join their cell id once (corpus-sized
    hash join — in a real deployment codes and cells are stored
    co-partitioned) and the ADC join keys on (subspace, code, CELL) —
    cross-cell candidates never materialize. Scores, ranking and
    determinism are exactly `pq_adc_topk`'s (integer scaled dots,
    (score DESC, id ASC) total order); only the candidate set shrinks
    to the probed cell, the IVF recall trade `ann_topk_ivf` already
    contracts."""
    qsub = _subspaces(queries, id_col, vec_col, m, d)
    qcell = cells.select(
        F.col(id_col).alias("vid"), F.col("cluster").alias("cell")
    )
    qtable = (
        qsub.join(F.broadcast(codebooks), "s")
        .join(qcell, "vid")
        .select(
            F.col("vid").alias("qid"),
            "s",
            F.col("cent_id").alias("code_val"),
            "cell",
            _dot_scaled(F.col("sv"), F.col("cv")).alias("ds"),
        )
    )
    ncodes = (
        codes.select(
            F.col("vid").alias("nid"),
            F.posexplode(F.split("code", "-")).alias("s", "c"),
        )
        .select("nid", "s", F.col("c").cast("long").alias("code_val"))
        .join(
            cells.select(
                F.col(id_col).alias("nid"), F.col("cluster").alias("cell")
            ),
            "nid",
        )
    )
    scored = (
        ncodes.join(F.broadcast(qtable), ["s", "code_val", "cell"])
        .groupBy("qid", "nid")
        .agg(F.sum("ds").alias("approx_dot_scaled"))
        .filter(F.col("qid") != F.col("nid"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(
        F.desc("approx_dot_scaled"), F.asc("nid")
    )
    return (
        scored.select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            "approx_dot_scaled",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= topk)
    )
