"""Hard-negative mining contracts: per-anchor top-k different-label
neighbors, a margin gate that drops near-positive negatives (the
false-negative guard), anchors without a same-label partner emit
nothing, and results are partition-invariant."""

from __future__ import annotations

import pytest

from redshift_etl_spark.operators.similarity import hard_negatives


def _fixture(spark):
    """Two labeled clusters on near-orthogonal axes plus:
    - a 'trap' vector (id=50, label=1) almost parallel to anchor 0
      (label=0) — closer to it than anchor 0's best positive, so the
      margin gate must exclude it from anchor 0's negatives;
    - a singleton label (id=60, label=9) with no positive partner,
      which must emit no rows.
    """
    rows = [
        # label 0 cluster around axis 0
        (0, [1.0, 0.05, 0.0, 0.0], 0),
        (1, [0.98, 0.1, 0.0, 0.0], 0),
        (2, [0.95, 0.0, 0.1, 0.0], 0),
        # label 1 cluster around axis 1
        (10, [0.0, 1.0, 0.05, 0.0], 1),
        (11, [0.1, 0.97, 0.0, 0.0], 1),
        # trap: label 1 but lies on anchor 0's axis, nearer than any
        # label-0 positive of anchor 0
        (50, [1.0, 0.02, 0.0, 0.0], 1),
        # singleton label
        (60, [0.0, 0.0, 0.0, 1.0], 9),
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )


def test_margin_gate_excludes_near_positive_trap(spark):
    df = _fixture(spark)
    out = hard_negatives(df, k=2, margin_micro=20000).collect()
    by_anchor = {}
    for r in out:
        by_anchor.setdefault(r["anchor_id"], []).append(r)
    # anchor 0's negatives must not include the trap (id 50): its
    # cosine to anchor 0 exceeds pos_best - margin
    neg_ids_0 = {r["neg_id"] for r in by_anchor.get(0, [])}
    assert 50 not in neg_ids_0
    # every emitted negative respects the int-margin gate
    for r in out:
        assert r["cosine"] <= r["pos_best"] - 0.02 + 1e-9
        assert r["anchor_label"] != r["neg_label"]


def test_singleton_label_emits_nothing(spark):
    df = _fixture(spark)
    out = hard_negatives(df, k=2, margin_micro=20000).collect()
    assert all(r["anchor_id"] != 60 for r in out)


def test_rank_bound_and_ordering(spark):
    df = _fixture(spark)
    out = hard_negatives(df, k=2, margin_micro=0).collect()
    by_anchor = {}
    for r in out:
        by_anchor.setdefault(r["anchor_id"], []).append(r)
    for rows in by_anchor.values():
        rows.sort(key=lambda r: r["neg_rank"])
        assert len(rows) <= 2
        assert [r["neg_rank"] for r in rows] == list(
            range(1, len(rows) + 1)
        )
        cosines = [r["cosine"] for r in rows]
        assert cosines == sorted(cosines, reverse=True)


@pytest.mark.slow
def test_partition_invariant(spark):
    df = _fixture(spark)

    def key(rows):
        return sorted(
            (r["anchor_id"], r["neg_id"], r["neg_rank"], r["cosine"])
            for r in rows
        )

    one = key(hard_negatives(df.coalesce(1), k=3).collect())
    many = key(hard_negatives(df.repartition(5), k=3).collect())
    assert one == many
