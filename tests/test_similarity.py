"""Similarity-search invariants: exact top-k correctness vs a NumPy
reference, and ANN recall sanity for the LSH / IVF scale paths."""

from __future__ import annotations

import numpy as np
import pytest

from redshift_etl_spark.operators import similarity as S
from redshift_etl_spark.queries.tables import load

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def emb(spark):
    df = load(spark, SF_SMOKE, "embeddings")
    rows = df.collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return df, ids, mat


def _np_topk(ids, mat, query_ids, k=3):
    norms = np.linalg.norm(mat, axis=1)
    out = {}
    for qi in query_ids:
        q = mat[ids == qi][0]
        cos = (mat @ q) / (norms * np.linalg.norm(q))
        order = sorted(
            [(round(c, 6), -i) for i, c in zip(ids, cos) if i != qi],
            reverse=True,
        )[:k]
        out[qi] = [-i for _, i in order]
    return out


def test_cosine_topk_matches_numpy(spark, emb):
    df, ids, mat = emb
    queries = df.filter(df.vec_id < 5)
    got = S.cosine_topk(df, queries, k=3).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert by_q == _np_topk(ids, mat, range(5))


def test_ann_recall_sanity(spark, emb):
    """LSH and IVF prune candidates; whatever they return must be real
    corpus ids with correctly-ordered rounded cosines, and bucket
    self-consistency must hold (query's own bucket only)."""
    df, ids, mat = emb
    queries = df.filter(df.vec_id < 5)
    for fn in (
        lambda: S.ann_topk_lsh(df, queries, dims=64, planes=8, k=3),
        lambda: S.ivf_topk(df, queries, n_centroids=8, k=3, dims=64),
    ):
        rows = fn().collect()
        for r in rows:
            assert r["neighbor_id"] in ids
            assert -1.0 <= r["cosine"] <= 1.0
        for q in {r["query_id"] for r in rows}:
            ranked = sorted(
                (r for r in rows if r["query_id"] == q),
                key=lambda r: r["rank"],
            )
            cosines = [r["cosine"] for r in ranked]
            assert cosines == sorted(cosines, reverse=True)


def test_blocked_pairs_partition_invariant(spark):
    """The block-pair applyInPandas kernel must produce the identical
    pair set whatever the physical partitioning of the input — block
    routing decides WHERE a pair is scored, never WHETHER or to WHAT
    value."""
    from redshift_etl_spark.operators import similarity as S
    from .conftest import SF_ORACLE
    from redshift_etl_spark.queries.tables import load

    emb = load(spark, SF_ORACLE, "embeddings")

    def pairs(df):
        return {
            (r["vec_a"], r["vec_b"], round(r["cosine_raw"], 6))
            for r in S.cosine_pairs_blocked(df, threshold=0.4).collect()
        }

    assert pairs(emb.repartition(8)) == pairs(emb.coalesce(1))


def test_blocked_pairs_block_count_invariant(spark):
    """Exactness must not depend on the block count — every unordered
    pair is owned by exactly one block-pair group for ANY n_blocks."""
    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings")

    def pairs(n_blocks):
        return {
            (r["vec_a"], r["vec_b"], round(r["cosine_raw"], 6))
            for r in S.cosine_pairs_blocked(
                emb, threshold=0.4, n_blocks=n_blocks
            ).collect()
        }

    one = pairs(1)
    assert one  # non-empty at this threshold
    assert pairs(3) == one
    assert pairs(7) == one


def test_kmeans_codebook_partition_invariant(spark):
    """Scaled-integer centroid means are associative-exact: the trained
    codebook must be bit-identical under any input partitioning (a
    double SUM would not be)."""
    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings")

    def codebook(df):
        return {
            r["vec_id"]: tuple(r["embedding"])
            for r in S.kmeans_codebook(df, k=8, iters=2).collect()
        }

    a = codebook(emb.repartition(16))
    b = codebook(emb.coalesce(1))
    assert a == b
    assert len(a) >= 2  # training kept a real codebook, not one blob


def test_kmeans_improves_quantization(spark):
    """Two Lloyd's iterations must not worsen the quantization error of
    the seed codebook (monotonic non-increase is Lloyd's invariant)."""
    import numpy as np

    from .conftest import SF_ORACLE

    emb = load(spark, SF_ORACLE, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}

    def err(centroids):
        cents = {r["vec_id"]: np.array(r["embedding"]) for r in centroids}
        total = 0.0
        for v in vecs.values():
            best = max(
                float(np.dot(v, c) / (np.linalg.norm(v) * np.linalg.norm(c)))
                for c in cents.values()
            )
            total += 1.0 - best
        return total

    seeds = emb.orderBy("vec_id").limit(8).collect()
    trained = S.kmeans_codebook(emb, k=8, iters=2).collect()
    assert err(trained) <= err(seeds) + 1e-9


def test_degenerate_sizes_do_not_crash(spark):
    """k > n, tiny corpora, empty frames: every operator degrades
    gracefully instead of raising."""
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    assert len(S.kmeans_codebook(emb, k=8, iters=2).collect()) == 3
    assert (
        S.ivf_topk(emb, emb.limit(1), n_centroids=8, k=2, train_iters=2)
        .count()
        == 0
    )


def test_lsh_bucketed_pairs_subset_of_exact_with_identical_scores(spark):
    """The bucketed path may only MISS pairs (bucket gating), never
    invent or mis-score one: output ⊆ exact all-pairs, scores equal on
    the intersection, and recall is non-trivial on the testdata."""
    df = load(spark, SF_SMOKE, "embeddings")
    exact = {
        (r["vec_a"], r["vec_b"]): r["cosine_raw"]
        for r in S.cosine_pairs_blocked(df, threshold=0.4).collect()
    }
    bucketed = {
        (r["vec_a"], r["vec_b"]): r["cosine_raw"]
        for r in S.lsh_bucketed_cosine_pairs(df, threshold=0.4).collect()
    }
    assert set(bucketed) <= set(exact)
    for pair, cos in bucketed.items():
        assert cos == exact[pair]  # bit-identical: same kernel fold
    assert len(bucketed) >= 0.5 * len(exact)


def test_lsh_bucketed_full_recall_on_identical_vectors(spark):
    """Identical vectors agree with every plane, so they collide in
    every band — candidate generation can never drop an exact dup."""
    base = load(spark, SF_SMOKE, "embeddings").limit(20)
    from pyspark.sql import functions as F

    dup = base.withColumn("vec_id", F.col("vec_id") + 1000)
    both = base.unionByName(dup)
    pairs = {
        (r["vec_a"], r["vec_b"])
        for r in S.lsh_bucketed_cosine_pairs(
            both, threshold=0.999999
        ).collect()
    }
    for r in base.select("vec_id").collect():
        assert (r["vec_id"], r["vec_id"] + 1000) in pairs


def _bucketed_pairs(df, **kw):
    return {
        (r["vec_a"], r["vec_b"], r["cosine_raw"])
        for r in S.lsh_bucketed_cosine_pairs(df, **kw).collect()
    }


def test_lsh_bucketed_block_count_invariant(spark, monkeypatch):
    """The block count only tiles the per-bucket sweep — the emitted
    pair set must not depend on it: a default run (one tile per
    bucket) equals runs whose tile size splits every bucket."""
    df = load(spark, SF_SMOKE, "embeddings")
    default = _bucketed_pairs(df, threshold=0.4)
    assert default
    for tile_rows in (16, 5):
        monkeypatch.setattr(S, "TILE_ROWS", tile_rows)
        assert _bucketed_pairs(df, threshold=0.4) == default


def test_ivf_codebook_fixture_matches_retraining(spark):
    """The committed train-once fixture must equal deterministic
    retraining bit-for-bit (double parquet round-trips are exact); a
    stale fixture also hash-mismatches the ann_topk_ivf oracle, but
    this failure names the cause directly."""
    from redshift_etl_spark.queries.llm_data import ivf_codebook

    fixture = {
        r["vec_id"]: r["embedding"]
        for r in ivf_codebook(spark, SF_SMOKE).collect()
    }
    fresh = {
        r["vec_id"]: r["embedding"]
        for r in S.kmeans_codebook(
            load(spark, SF_SMOKE, "embeddings"), "vec_id", "embedding",
            k=8, iters=2,
        ).collect()
    }
    assert fixture == fresh


def test_label_centroid_quality_flags_planted_outlier(spark):
    """A vector pointing away from its label's tight cluster must drag
    that label's min_cos far below the clean label's."""
    import numpy as np
    from pyspark.sql import Row

    rng = np.random.default_rng(7)
    base0 = rng.normal(0, 1, 8)
    base1 = rng.normal(0, 1, 8)
    rows = []
    vid = 0
    for base, label in ((base0, 0), (base1, 1)):
        for _ in range(10):
            v = base + rng.normal(0, 0.05, 8)
            rows.append(Row(vec_id=vid, label=label, embedding=[float(x) for x in v]))
            vid += 1
    rows.append(Row(vec_id=vid, label=1, embedding=[float(x) for x in -base1]))
    df = spark.createDataFrame(rows)
    got = {r["label"]: r for r in S.label_centroid_quality(df).collect()}
    assert got[0]["n_vecs"] == 10 and got[1]["n_vecs"] == 11
    assert got[0]["min_cos"] > 0.9          # clean label: tight
    assert got[1]["min_cos"] < 0.0          # planted anti-vector caught
    # partition invariance of the scaled-int means
    again = {
        r["label"]: r for r in S.label_centroid_quality(df.repartition(7)).collect()
    }
    for lbl in (0, 1):
        assert again[lbl]["mean_cos"] == got[lbl]["mean_cos"]
        assert again[lbl]["min_cos"] == got[lbl]["min_cos"]


def _fold_cosine(a, b):
    """The engine's cosine as a plain left fold over dimensions (never
    np.dot, never sum(), whose accumulation order differs)."""
    import math

    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += float(x) * float(y)
    for x in a:
        na += float(x) * float(x)
    for y in b:
        nb += float(y) * float(y)
    return dot / (math.sqrt(na) * math.sqrt(nb))


def _ref_cells(vecs, cents, probes):
    """Reference assignment: every cosine rounded with Spark's HALF_UP
    at 6 dp, cells ordered (rounded cosine desc, centroid id asc)."""
    from decimal import ROUND_HALF_UP, Decimal

    def half_up6(x):
        return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    out = {}
    for vid, v in vecs.items():
        ranked = sorted(
            cents, key=lambda c: (-half_up6(_fold_cosine(v, cents[c])), c)
        )
        out[vid] = ranked[:probes]
    return out


def _got_cells(df):
    got: dict = {}
    for r in df.collect():  # one map stage: rows keep the kernel's order
        got.setdefault(r["vec_id"], []).append(r["cluster"])
    return got


def test_assign_clusters_matches_reference(spark):
    """The Arrow kernel assigns every vector to the cells a reference
    that rounds EVERY cosine HALF_UP picks (same fold order, same
    rounding, same lowest-id tiebreak), for the argmax and for the
    top-3; the committed fixtures built by the retired relational
    spelling are checked in test_index_fixtures."""
    corpus = load(spark, SF_SMOKE, "embeddings")
    cent = S.kmeans_codebook(corpus, "vec_id", "embedding", k=8, iters=1)
    cents = {r["vec_id"]: list(r["embedding"]) for r in cent.collect()}
    vecs = {r["vec_id"]: list(r["embedding"]) for r in corpus.collect()}
    for probes in (1, 3):
        got = _got_cells(
            S.assign_clusters(corpus, cent, "vec_id", "embedding", probes=probes)
        )
        assert got == _ref_cells(vecs, cents, probes), probes


def test_assign_clusters_probes_match_reference(spark):
    """The top-P cells per vector in (rounded cosine desc, centroid id
    asc) order around a planted near-tie whose raw cosines order the
    two cells the other way round — at the argmax and inside the top P."""
    import math

    # v = e1; centroid (1, t) has cosine 1/sqrt(1 + t²). Centroid 0
    # sits a hair BELOW centroid 1 in raw cosine but both round to the
    # same 6-dp value, so the id tiebreak must put 0 first; centroid 2
    # is far off, centroid 3 is the nearest outright.
    base = 1 / math.sqrt(1 + 0.5**2)
    t1 = math.sqrt(1 / (base + 2e-7) ** 2 - 1)
    cents = {0: [1.0, 0.5], 1: [1.0, t1], 2: [0.0, 1.0], 3: [1.0, 0.1]}
    vecs = {7: [1.0, 0.0], 8: [0.3, 1.0], 9: [1.0, 0.45]}
    c0, c1 = _fold_cosine(vecs[7], cents[0]), _fold_cosine(vecs[7], cents[1])
    assert c0 < c1 and round(c0, 6) == round(c1, 6)  # the planted near-tie
    schema = "vec_id long, embedding array<double>"
    vdf = spark.createDataFrame(list(vecs.items()), schema)
    # without centroid 3 the near-tie is the argmax itself
    without3 = {c: cents[c] for c in (0, 1, 2)}
    for book, want7 in ((cents, [3, 0, 1, 2]), (without3, [0, 1, 2])):
        cdf = spark.createDataFrame(list(book.items()), schema)
        for probes in (1, 2, 3, 5):
            got = _got_cells(
                S.assign_clusters(vdf, cdf, "vec_id", "embedding", probes=probes)
            )
            assert got == _ref_cells(vecs, book, probes), (sorted(book), probes)
            assert got[7] == want7[:probes]


def test_assign_clusters_rejects_bad_codebook_ids_and_probes(spark):
    vdf = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    cdf = spark.createDataFrame(
        [("a", [1.0, 0.0])], "vec_id string, embedding array<double>"
    )
    with pytest.raises(ValueError, match="centroid id column 'vec_id' must be integral"):
        S.assign_clusters(vdf, cdf, "vec_id", "embedding")
    with pytest.raises(ValueError, match="probes must be at least 1"):
        S.assign_clusters(vdf, vdf, "vec_id", "embedding", probes=0)


def test_lsh_bucketed_adaptive_blocking_invariant(spark, monkeypatch):
    """Skew-adaptive blocking (per-bucket B = ceil(size/TILE_ROWS))
    must emit exactly the pairs and scores of the default run, where
    every bucket is one tile — blocking routes pairs to groups, it can
    never change the result."""
    df = load(spark, SF_SMOKE, "embeddings")
    default = _bucketed_pairs(df, threshold=0.4)
    base = {
        (r["vec_a"], r["vec_b"], r["cosine_raw"])
        for r in S.cosine_pairs_blocked(df, threshold=0.4, n_blocks=3).collect()
    }
    monkeypatch.setattr(S, "TILE_ROWS", 7)
    assert _bucketed_pairs(df, threshold=0.4) == default
    # the unbucketed baseline keeps its static n_blocks: TILE_ROWS does
    # not touch it
    assert {
        (r["vec_a"], r["vec_b"], r["cosine_raw"])
        for r in S.cosine_pairs_blocked(df, threshold=0.4, n_blocks=3).collect()
    } == base


def test_ivf_multiprobe_recall_dominates_single_probe(spark, emb):
    """probes=2 recall vs brute force is >= probes=1 recall (and the
    probes=1 path is unchanged: identical result to the default)."""
    import pyspark.sql.functions as F

    from redshift_etl_spark.operators import similarity as S

    corpus, _, _ = emb
    queries = corpus.filter(F.col("vec_id") < 8)
    cb = S.kmeans_codebook(corpus, "vec_id", "embedding", k=8, iters=1)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk(
            corpus, queries, "vec_id", "embedding", k=5
        ).collect()
    }

    def recall(probes):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in S.ivf_topk(
                corpus, queries, k=5, centroids=cb, probes=probes
            ).collect()
        }
        return len(got & exact) / len(exact)

    r1, r2 = recall(1), recall(2)
    assert r2 >= r1
    # default path regression guard: probes=1 == unspecified
    a = S.ivf_topk(corpus, queries, k=5, centroids=cb).collect()
    b = S.ivf_topk(corpus, queries, k=5, centroids=cb, probes=1).collect()
    assert {tuple(r) for r in a} == {tuple(r) for r in b}


def test_farthest_point_sample_matches_reference(spark, emb):
    """Greedy selection ≡ numpy reference replay; diversity dominates
    a same-size prefix pick (mean pairwise cosine strictly lower)."""
    import numpy as np
    import pyspark.sql.functions as F

    from redshift_etl_spark.operators import similarity as S

    df, ids, mat = emb
    k = 6
    got = {
        r["vec_id"]: r["pick_order"]
        for r in S.farthest_point_sample(df, k=k).collect()
    }
    # reference replay with the same rounded-cosine + lowest-id rules
    norms = np.linalg.norm(mat.astype(np.float64), axis=1)
    order = np.argsort(ids)
    sel = [int(ids[order[0]])]
    for _ in range(k - 1):
        best = None
        for j in np.argsort(ids):
            vid = int(ids[j])
            if vid in sel:
                continue
            closest = max(
                round(
                    float(
                        mat[j].astype(np.float64)
                        @ mat[ids == s][0].astype(np.float64)
                    )
                    / (norms[j] * norms[ids == s][0]),
                    6,
                )
                for s in sel
            )
            if best is None or (closest, vid) < best:
                best = (closest, vid)
        sel.append(best[1])
    assert got == {v: i for i, v in enumerate(sel)}

    def mean_pairwise(vids):
        idx = [np.where(ids == v)[0][0] for v in vids]
        tot, cnt = 0.0, 0
        for a in range(len(idx)):
            for b in range(a + 1, len(idx)):
                va, vb = mat[idx[a]].astype(float), mat[idx[b]].astype(float)
                tot += (va @ vb) / (
                    np.linalg.norm(va) * np.linalg.norm(vb)
                )
                cnt += 1
        return tot / cnt

    prefix = sorted(ids)[:k]
    assert mean_pairwise(list(got)) < mean_pairwise(prefix)


def test_farthest_point_sample_edges(spark, emb):
    import pyspark.sql.functions as F

    from redshift_etl_spark.operators import similarity as S

    df, _, _ = emb
    assert S.farthest_point_sample(df, k=0).count() == 0
    empty = df.filter(F.col("vec_id") < 0)
    assert S.farthest_point_sample(empty, k=3).count() == 0
    one = S.farthest_point_sample(df.limit(1), k=5)
    assert one.count() == 1 and one.first()["pick_order"] == 0


def test_lsh_bucketed_adversarial_single_bucket_skew(spark, monkeypatch):
    """Worst-case skew: near-identical vectors all land in ONE band
    bucket. The adaptive blocking must still produce the complete,
    exact pair set (C(n,2) pairs at cosine ~1) while splitting the hot
    bucket into bounded tiles — the grouped-kernel analog of an AQE
    skew split, which applyInPandas cannot get from AQE itself."""
    import pyspark.sql.functions as F

    n, dims = 120, 8
    base = [1.0, 0.3, 0.2, 0.1, 0.05, 0.0, 0.0, 0.0]
    rows = [
        (i, [round(b + 1e-9 * i * (j + 1), 12) for j, b in enumerate(base)])
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(dims=dims, bands=4, planes_per_band=3, threshold=0.99)
    default = _bucketed_pairs(df, **kw)  # the hot bucket is one tile
    monkeypatch.setattr(S, "TILE_ROWS", 16)  # it splits into 8 blocks
    pairs = {(a, b) for a, b, _ in _bucketed_pairs(df, **kw)}
    assert len(pairs) == n * (n - 1) // 2  # complete despite the skew
    assert all(a < b for a, b in pairs)
    # invariant vs the default run — blocking is routing only
    assert pairs == {(a, b) for a, b, _ in default}


def _zero_norm_frame(spark):
    """Two zero vectors (ids 0 and 1: they share every LSH bucket, and
    id 0 is farthest-point's first pick) among six non-zero ones."""
    rows = [(0, [0.0] * 4, 0), (1, [0.0] * 4, 1)] + [
        (i, [1.0, 0.1 * i, -0.2, 0.05 * i], i % 2) for i in range(2, 8)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )


_LSH = dict(dims=4, bands=2, planes_per_band=2)
_COSINE_PATHS = {
    "cosine_topk": lambda df: S.cosine_topk(df, df),
    "ann_topk_lsh": lambda df: S.ann_topk_lsh(df, df, dims=4, planes=2),
    "farthest_point_sample": lambda df: S.farthest_point_sample(df, k=3),
    "margin_mined_pairs": lambda df: S.margin_mined_pairs(df, df),
    "ivf_topk": lambda df: S.ivf_topk(df, df, n_centroids=2),
    "cosine_pairs_blocked": lambda df: S.cosine_pairs_blocked(df),
    "lsh_bucketed_cosine_pairs": lambda df: S.lsh_bucketed_cosine_pairs(
        df, threshold=-1.0, **_LSH
    ),
    "hard_negatives": lambda df: S.hard_negatives(df),
    "hard_negatives_bucketed": lambda df: S.hard_negatives_bucketed(
        df, **_LSH
    ),
    "lsh_bucketed_cross_pairs": lambda df: S.lsh_bucketed_cross_pairs(
        df, df, **_LSH
    ),
}


@pytest.mark.parametrize("path", sorted(_COSINE_PATHS))
def test_zero_norm_vector_raises_on_every_cosine_path(spark, path):
    """The cosine of a zero vector is undefined: the Column fold raises
    Spark's ANSI DIVIDE_BY_ZERO and the numpy kernels raise their
    zero-norm ValueError. Neither may divide 0/0 into a NaN that then
    silently fails a threshold and drops the vector's pairs."""
    df = _zero_norm_frame(spark)
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO|zero-norm vector"):
        _COSINE_PATHS[path](df).collect()
