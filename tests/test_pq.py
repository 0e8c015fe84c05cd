"""Product quantization (operators/pq.py): code shape/compression,
partitioning invariance, and ADC ranking quality vs exact dot."""

from __future__ import annotations

import pyspark.sql.functions as F

from redshift_etl_spark.operators import pq as PQ
from redshift_etl_spark.queries.tables import load

SF = "/root/testdata/sf0.01"


def _emb(spark, parts=None):
    e = load(spark, SF, "embeddings")
    return e.repartition(parts) if parts else e


def test_codes_shape_and_range(spark):
    emb = _emb(spark)
    cb = PQ.pq_codebooks(emb)
    codes = PQ.pq_encode(emb, cb)
    assert codes.count() == emb.count()
    parts = codes.select(F.split("code", "-").alias("p")).select(
        F.size("p").alias("n"),
        F.array_max(F.transform(F.col("p"), lambda x: x.cast("int"))).alias(
            "mx"
        ),
    )
    row = parts.agg(F.min("n"), F.max("n"), F.max("mx")).collect()[0]
    assert row[0] == 8 and row[1] == 8  # m codes per vector
    assert row[2] < 16  # k=16 centroid ids
    # compression: 8 small ints vs 64 doubles per vector
    avg_len = codes.agg(F.avg(F.length("code"))).collect()[0][0]
    assert avg_len < 64 * 8 / 4


def test_codes_partitioning_invariant(spark):
    a = PQ.pq_encode(_emb(spark, 2), PQ.pq_codebooks(_emb(spark, 2)))
    b = PQ.pq_encode(_emb(spark, 17), PQ.pq_codebooks(_emb(spark, 17)))
    assert {tuple(r) for r in a.collect()} == {
        tuple(r) for r in b.collect()
    }


def test_adc_ranking_quality(spark):
    """ADC top-3 should substantially overlap exact-dot top-10 — the
    compressed index finds genuinely close vectors, not noise."""
    emb = _emb(spark)
    cb = PQ.pq_codebooks(emb)
    codes = PQ.pq_encode(emb, cb)
    queries = emb.filter(F.col("vec_id") < 5)
    adc = PQ.pq_adc_topk(queries, codes, cb, topk=3).collect()
    from redshift_etl_spark.operators.similarity import dot

    q = queries.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    exact = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            dot("embedding", "qv").alias("s"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("s"), F.asc("vec_id"))
    top10 = {
        (r["qid"], r["vec_id"])
        for r in exact.withColumn("rk", F.row_number().over(w))
        .filter("rk <= 10")
        .collect()
    }
    hits = sum(
        1 for r in adc if (r["query_id"], r["neighbor_id"]) in top10
    )
    assert hits >= len(adc) * 0.5, f"ADC recall too low: {hits}/{len(adc)}"


def test_dimension_mismatch_raises(spark):
    import pytest as _pt

    bad = spark.createDataFrame(
        [(1, [1.0] * 32)], "vec_id long, embedding array<double>"
    )
    with _pt.raises(Exception, match="vector length must be m\\*d"):
        PQ.pq_codebooks(bad).collect()


def test_ivf_pq_subset_of_full_adc_and_cell_scoped(spark):
    """IVF-PQ = full-ADC scores restricted to the query's cell: every
    (query, neighbor) it returns must carry the full scan's EXACT
    score, and every neighbor must share the query's IVF cell."""
    import pyspark.sql.functions as F

    from redshift_etl_spark.operators import pq as PQ
    from redshift_etl_spark.operators import similarity as S
    from redshift_etl_spark.queries.llm_data import (
        ivf_codebook,
        pq_codebook_fixture,
    )
    from redshift_etl_spark.queries.tables import load

    from .conftest import SF_SMOKE

    emb = load(spark, SF_SMOKE, "embeddings")
    cb = pq_codebook_fixture(spark, SF_SMOKE)
    codes = PQ.pq_encode(emb, cb)
    cells = S.assign_clusters(
        emb, ivf_codebook(spark, SF_SMOKE), "vec_id", "embedding"
    ).select("vec_id", "cluster")
    queries = emb.filter(F.col("vec_id") < 5)
    full = {
        (r["query_id"], r["neighbor_id"]): r["approx_dot_scaled"]
        for r in PQ.pq_adc_topk(queries, codes, cb, topk=10**6).collect()
    }
    ivfpq = PQ.ivf_pq_topk(queries, codes, cb, cells, topk=3).collect()
    cell_of = {r["vec_id"]: r["cluster"] for r in cells.collect()}
    assert ivfpq
    for r in ivfpq:
        q, n = r["query_id"], r["neighbor_id"]
        assert cell_of[q] == cell_of[n]  # cell-scoped candidates only
        assert full[(q, n)] == r["approx_dot_scaled"]  # identical score


def test_pq_encode_arrow_matches_expression(spark):
    """The r14 Arrow encode kernel is bit-identical to the expression
    form: same fold add order, exact HALF_UP, lowest-cent_id ties —
    over the full testdata embeddings AND under repartitioning."""
    emb = _emb(spark)
    cb = PQ.pq_codebooks(emb)
    a = {tuple(r) for r in PQ.pq_encode(emb, cb).collect()}
    b = {tuple(r) for r in PQ.pq_encode_arrow(emb, cb).collect()}
    assert a == b
    c = {tuple(r) for r in PQ.pq_encode_arrow(_emb(spark, 7), cb).collect()}
    assert a == c


def test_pq_encode_arrow_preserves_id_dtype(spark):
    # the r13 string-id lesson: kernel helpers must not hard-cast ids
    emb = _emb(spark)
    cb = PQ.pq_codebooks(emb)
    s_emb = emb.withColumn("vec_id", F.concat(F.lit("v"), F.col("vec_id")))
    out = PQ.pq_encode_arrow(s_emb, cb)
    assert dict(out.dtypes)["vid"] == "string"
    n = out.filter(F.col("vid").startswith("v")).count()
    assert n == emb.count()


def test_pq_encode_arrow_rejects_bad_length(spark):
    import pytest

    emb = _emb(spark).withColumn(
        "embedding", F.slice("embedding", 1, 10)
    )
    cb = PQ.pq_codebooks(_emb(spark))
    with pytest.raises(Exception, match="m\\*d"):
        PQ.pq_encode_arrow(emb, cb).collect()


def test_pq_encode_arrow_rejects_codebook_missing_a_subspace(spark):
    import pytest

    emb = _emb(spark)
    cb = PQ.pq_codebooks(emb).filter(F.col("s") != 3)
    with pytest.raises(ValueError, match=r"no centroids for subspace\(s\) \[3\]"):
        PQ.pq_encode_arrow(emb, cb)


def test_pq_encode_arrow_rejects_nan_and_null_vectors(spark):
    import pytest

    emb = _emb(spark)
    cb = PQ.pq_codebooks(emb)
    nan_component = emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") == 3,
            F.concat(F.array(F.lit(float("nan")).cast("float")), F.slice("embedding", 2, 63)),
        ).otherwise(F.col("embedding")),
    )
    with pytest.raises(Exception, match="NaN or null components"):
        PQ.pq_encode_arrow(nan_component, cb).collect()
    null_vector = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") != 3, F.col("embedding")),
    )
    with pytest.raises(Exception, match="null vector"):
        PQ.pq_encode_arrow(null_vector, cb).collect()
