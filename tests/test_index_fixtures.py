"""Committed index fixtures ≡ retraining — the local fast-fail for a
stale fixture (the driver oracles catch it too, but only at sweep
time: ivf_pq_topk / semdedup SQL retrains from scratch and would
hash-mismatch). Double/long/string parquet round-trips are bit-exact,
so strict equality is the right bar. Every check runs at both the
smoke and the oracle scale factor: the fixtures were built by the
relational spellings the engine no longer carries, so they are the
reference the one Arrow kernel per operator must reproduce."""

from __future__ import annotations

import os


from .conftest import SF_ORACLE, SF_SMOKE

SFS = (SF_SMOKE, SF_ORACLE)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_pq_codes_fixture_equals_reencoding(spark):
    from redshift_etl_spark.operators import pq as PQ
    from redshift_etl_spark.queries.llm_data import (
        pq_codebook_fixture,
        pq_codes_fixture,
    )
    from redshift_etl_spark.queries.tables import load

    for sf in SFS:
        emb = load(spark, sf, "embeddings")
        fresh = PQ.pq_encode(emb, pq_codebook_fixture(spark, sf))
        assert _rows(pq_codes_fixture(spark, sf)) == _rows(fresh), sf


def test_ivf_cells_fixture_equals_reassignment(spark):
    from redshift_etl_spark.operators import similarity as S
    from redshift_etl_spark.queries.llm_data import (
        ivf_cells_fixture,
        ivf_codebook,
    )
    from redshift_etl_spark.queries.tables import load

    for sf in SFS:
        emb = load(spark, sf, "embeddings")
        fresh = S.assign_clusters(
            emb, ivf_codebook(spark, sf), "vec_id", "embedding"
        ).select("vec_id", "cluster")
        assert _rows(ivf_cells_fixture(spark, sf)) == _rows(fresh), sf


def test_semdedup_fixtures_equal_adaptive_retraining(spark):
    from redshift_etl_spark.operators import similarity as S
    from redshift_etl_spark.queries.llm_data import (
        SEMDEDUP_TARGET_ROWS,
        semdedup_cells_fixture,
        semdedup_codebook_fixture,
    )
    from redshift_etl_spark.queries.tables import load

    for sf in SFS:
        emb = load(spark, sf, "embeddings")
        cb = S.adaptive_kmeans_codebook(
            emb, "vec_id", "embedding",
            target_cluster_rows=SEMDEDUP_TARGET_ROWS,
        )
        assert _rows(semdedup_codebook_fixture(spark, sf)) == _rows(cb), sf
        fresh = S.assign_clusters(emb, cb, "vec_id", "embedding").select(
            "vec_id", "cluster"
        )
        assert _rows(semdedup_cells_fixture(spark, sf)) == _rows(fresh), sf
        # adaptive contract: k tracks the corpus size
        n = emb.count()
        k = semdedup_codebook_fixture(spark, sf).count()
        assert k == -(-n // SEMDEDUP_TARGET_ROWS), sf


def test_ann_index_store_fixture_equals_fresh_two_batch_build(
    spark, tmp_path
):
    # the committed streaming-maintained store ≡ a fresh two-batch
    # ingest into scratch: every embedding exactly once, same cell
    from redshift_etl_spark.queries.llm_data import (
        ann_index_store_fixture,
        semdedup_codebook_fixture,
    )
    from redshift_etl_spark.queries.tables import load
    from redshift_etl_spark.streaming import annindex as AX

    import pyspark.sql.functions as F

    cols = ["vec_id", "cluster"]
    for sf in SFS:
        emb = load(spark, sf, "embeddings")
        # the adaptive codebook is the store's BUILD artifact (r10: fixed
        # k=8 cells densified 10x per 10x data in rehearsal)
        cb = semdedup_codebook_fixture(spark, sf)
        scratch = str(tmp_path / os.path.basename(sf) / "store")
        AX.index_ingest_batch(emb.filter(F.col("vec_id") % 2 == 0), scratch, cb)
        AX.index_ingest_batch(emb, scratch, cb)
        fresh = spark.read.parquet(scratch)
        committed = ann_index_store_fixture(spark, sf)
        assert _rows(committed.select(*cols)) == _rows(fresh.select(*cols)), sf
        # exactly-once: one row per embedding id
        assert committed.count() == emb.count(), sf
        assert committed.select("vec_id").distinct().count() == emb.count(), sf


def test_failed_fixture_build_leaves_nothing_committed(
    spark, tmp_path, monkeypatch
):
    # a build that dies part-way must not leave a store at the committed
    # path (a later session would read it as the fixture); the next
    # call builds it whole
    import pytest

    from redshift_etl_spark.queries import llm_data as L

    monkeypatch.setattr(L, "_FIXTURE_ROOT", tmp_path)
    committed = tmp_path / "demo" / "sf_demo"

    def dies_part_way(target):
        spark.range(3).write.parquet(target)
        raise RuntimeError("build died")

    with pytest.raises(RuntimeError, match="build died"):
        L._store_fixture(spark, "/data/sf_demo", "demo", dies_part_way)
    assert os.listdir(tmp_path / "demo") == []
    out = L._store_fixture(
        spark, "/data/sf_demo", "demo",
        lambda target: spark.range(5).write.parquet(target),
    )
    assert out.count() == 5 and committed.is_dir()
