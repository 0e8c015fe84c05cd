"""Connected components (dedup cluster formation): known graphs,
including the long-path worst case that pointer jumping exists for."""

from __future__ import annotations

import pytest

from redshift_etl_spark.operators.dedup import connected_components


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    rows = connected_components(df, **kw).collect()
    return {r.node: r.component for r in rows}


def test_two_components_and_clique(spark):
    got = _cc(
        spark,
        [(1, 2), (2, 3), (1, 3), (10, 11)],  # triangle + disjoint pair
    )
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_long_path_converges(spark):
    # 30-node path: plain hash-min needs 29 rounds; pointer jumping
    # must finish well inside max_iter=8 (≈ log2 doubling per round)
    edges = [(i, i + 1) for i in range(30)]
    got = _cc(spark, edges, max_iter=8)
    assert set(got.values()) == {0}
    assert len(got) == 31


def test_min_id_is_representative_regardless_of_edge_order(spark):
    got = _cc(spark, [(9, 5), (5, 7), (3, 7)])
    assert got == {3: 3, 5: 3, 7: 3, 9: 3}


def _union_find(edges):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_unconverged_labels_raise_instead_of_returning(spark):
    # a 10-node path needs more than one round: running out of rounds
    # must fail loudly, never hand back half-propagated labels
    from redshift_etl_spark.operators.dedup import ComponentsNotConverged

    edges = [(i, i + 1) for i in range(9)]
    with pytest.raises(ComponentsNotConverged, match="max_iter=1"):
        _cc(spark, edges, max_iter=1)
    assert _cc(spark, edges) == _union_find(edges)


@pytest.mark.parametrize("reverse", [False, True])
def test_64_node_chain_matches_union_find(spark, reverse):
    edges = [(i, i + 1) for i in range(63)]
    if reverse:  # the min id at the far end of the edge order
        edges = [(63 - i, 62 - i) for i in range(63)]
    got = _cc(spark, edges)
    assert got == _union_find(edges)
    assert set(got.values()) == {0} and len(got) == 64


@pytest.mark.parametrize("hub", [0, 40])
def test_star_matches_union_find(spark, hub):
    # hub 0: the centre is the min id; hub 40: the min id is a leaf
    edges = [(hub, i) for i in range(41) if i != hub] + [(100, 101)]
    got = _cc(spark, edges)
    assert got == _union_find(edges)
    assert got[hub] == 0 and got[101] == 100


# --- prefix-filtered Jaccard (AllPairs/PPJoin family) -----------------------


def test_prefix_jaccard_equals_direct(spark):
    """Prefix filtering must lose nothing: identical output to the
    all-shingle formulation on a boilerplate-heavy fixture (the case
    where prefixes actually prune)."""
    from redshift_etl_spark.operators import dedup as D

    boiler = "shared legal disclaimer text appears on every page"
    rows = [
        (1, boiler + " alpha beta gamma delta epsilon"),
        (2, boiler + " alpha beta gamma delta zeta"),
        (3, boiler + " completely different tail content here now"),
        (4, "unrelated document with entirely distinct words inside"),
        (5, boiler + " alpha beta gamma delta epsilon"),  # exact dup of 1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(fn):
        return {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in fn(docs, "doc_id", "text", threshold=0.5).collect()
        }

    direct = pairs(D.jaccard_pairs)
    prefix = pairs(D.jaccard_pairs_prefix)
    assert prefix == direct
    assert (1, 5, 1.0) in prefix  # exact dups survive at J=1


def test_prefix_ceiling_is_exact_for_inexact_thresholds(spark):
    """⌈t·n⌉ inside the prefix bound must be the exact rational ceiling.
    Binary doubles can land a hair above the true product (0.55·20 =
    11.000000000000002 → ceil 12, shrinking the prefix and silently
    dropping true pairs); the operator nudges down by 1e-9 before ceil.
    Sweep every (n ≤ 200, common threshold) against exact Fractions."""
    import math
    from fractions import Fraction

    from pyspark.sql import functions as F

    thresholds = [0.3, 0.5, 0.55, 0.6, 0.7, 0.75, 0.8, 0.85, 0.9]
    n = spark.range(1, 201).withColumnRenamed("id", "n_sh")
    got = n.select(
        "n_sh",
        *[
            F.ceil(F.col("n_sh") * t - 1e-9).alias(f"c{i}")
            for i, t in enumerate(thresholds)
        ],
    ).collect()
    for r in got:
        for i, t in enumerate(thresholds):
            exact = math.ceil(Fraction(str(t)) * r["n_sh"])
            assert r[f"c{i}"] == exact, (r["n_sh"], t, r[f"c{i}"], exact)


def test_prefix_jaccard_equals_direct_at_inexact_threshold(spark):
    """End-to-end losslessness at t=0.55 (the float-poisoned threshold):
    prefix-filtered output must equal the all-shingle formulation on a
    fixture with ~20-shingle documents."""
    import random

    from redshift_etl_spark.operators import dedup as D

    rng = random.Random(55)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    base = [rng.choice(vocab) for _ in range(22)]
    for d in range(12):
        words = list(base)
        for _ in range(rng.randrange(1, 3)):  # 1-2 word mutations: each
            # touches up to 3 shingles, keeping J near the 0.55 boundary
            words[rng.randrange(len(words))] = rng.choice(vocab)
        rows.append((d, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(fn):
        return {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in fn(docs, "doc_id", "text", threshold=0.55).collect()
        }

    direct = pairs(D.jaccard_pairs)
    assert pairs(D.jaccard_pairs_prefix) == direct
    assert direct  # fixture must actually produce qualifying pairs


def test_prefix_actually_prunes_candidates(spark):
    """The prefix index must be smaller than the full shingle index —
    otherwise it's the same join with extra steps."""
    from pyspark.sql import functions as F

    from redshift_etl_spark.operators import dedup as D
    from redshift_etl_spark.queries.tables import load

    from .conftest import SF_ORACLE

    docs = load(spark, SF_ORACLE, "documents")
    sh = D.exploded_shingles(docs, "doc_id", "text", 3)
    full = sh.count()
    # rebuild the prefix selection exactly as the operator does
    from pyspark.sql import Window

    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("doc_id").orderBy("__df", "shingle")
    pref = (
        sh.join(dfreq, "shingle")
        .withColumn("__rk", F.row_number().over(w))
        .join(sizes, "doc_id")
        .filter(F.col("__rk") <= F.col("n_sh") - F.ceil(F.col("n_sh") * 0.5) + 1)
        .count()
    )
    assert pref < 0.65 * full  # at t=0.5 the prefix is ~half + 1


# --- property: prefix filtering is lossless at ANY threshold ----------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=8, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=10**6),
    threshold=st.sampled_from([0.35, 0.45, 0.55, 0.6, 0.7, 0.85]),
)
@pytest.mark.slow
def test_prefix_jaccard_lossless_property(spark, seed, threshold):
    """For random near-dup corpora and any threshold, the prefix-
    filtered join must return exactly the all-shingle formulation's
    pairs — the AllPairs/PPJoin guarantee, including thresholds whose
    t·n product is float-inexact."""
    import random

    from redshift_etl_spark.operators import dedup as D

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for d in range(10):
        n_words = rng.randrange(8, 25)
        base = [rng.choice(vocab) for _ in range(n_words)]
        rows.append((2 * d, " ".join(base)))
        mutated = list(base)
        for _ in range(rng.randrange(0, 3)):
            mutated[rng.randrange(len(mutated))] = rng.choice(vocab)
        rows.append((2 * d + 1, " ".join(mutated)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(fn):
        return {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in fn(docs, "doc_id", "text", threshold=threshold).collect()
        }

    assert pairs(D.jaccard_pairs_prefix) == pairs(D.jaccard_pairs)
