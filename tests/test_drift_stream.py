"""Streaming drift monitor (`streaming/driftmon`): per-epoch
overwrite on replay, batch-partitioned store layout, from-store
PSI vs a hand computation (incl. per-batch one-sided bins), and
end-to-end via a real file stream with pinned mtimes."""

from __future__ import annotations

import json
import math
import os
import time

import pyspark.sql.functions as F

from redshift_etl_spark.streaming import driftmon as DM

def _bin():
    return F.col("v").cast("long")


def _df(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "v: long")


def test_replay_skips_whole_batch(spark, tmp_path):
    store = str(tmp_path / "store")
    DM.drift_ingest_batch(_df(spark, [0, 0, 1]), store, 0, _bin())
    assert spark.read.parquet(store).count() == 2  # bins {0,1}
    DM.drift_ingest_batch(_df(spark, [0, 0, 1]), store, 0, _bin())  # replay
    got = {
        (r["batch_id"], r["bin"]): r["n"]
        for r in spark.read.parquet(store).collect()
    }
    assert got == {(0, 0): 2, (0, 1): 1}
    # partition layout: one directory per batch
    DM.drift_ingest_batch(_df(spark, [1, 2]), store, 1, _bin())
    dirs = {d for d in os.listdir(store) if d.startswith("batch_id=")}
    assert dirs == {"batch_id=0", "batch_id=1"}


def test_psi_from_store_hand_check_with_onesided(spark, tmp_path):
    store = str(tmp_path / "store")
    # ref: bin0=60, bin1=40 ; batch1: bin0=40, bin1=60 ;
    # batch2: bin0=50, bin2=50 (bin1 ref-only, bin2 batch-only)
    DM.drift_ingest_batch(_df(spark, [0] * 60 + [1] * 40), store, 0, _bin())
    DM.drift_ingest_batch(_df(spark, [0] * 40 + [1] * 60), store, 1, _bin())
    DM.drift_ingest_batch(_df(spark, [0] * 50 + [2] * 50), store, 2, _bin())
    out = {
        r["batch_id"]: r
        for r in DM.psi_from_store(
            spark.read.parquet(store), ref_batch=0
        ).collect()
    }

    def term(nc, tc, nr, tr):
        pc, pr = nc / tc, nr / tr
        return round((pc - pr) * math.log(pc / pr) * 1e12)

    b1 = (term(40, 100, 60, 100) + term(60, 100, 40, 100)) / 1e12
    assert out[1]["psi_total"] == b1
    assert out[1]["n_bins_common"] == 2 and out[1]["n_onesided_bins"] == 0
    b2 = term(50, 100, 60, 100) / 1e12  # only bin0 is two-sided
    assert out[2]["psi_total"] == b2
    assert out[2]["n_bins_common"] == 1 and out[2]["n_onesided_bins"] == 2


def test_stream_end_to_end(spark, tmp_path):
    indir = tmp_path / "in"
    indir.mkdir()
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    now = time.time()
    for i, vals in enumerate([[0, 0, 1], [1, 1, 2]]):
        p = indir / f"b{i}.json"
        p.write_text("\n".join(json.dumps({"v": v}) for v in vals))
        os.utime(p, (now - 20 + i * 10, now - 20 + i * 10))
    stream = (
        spark.readStream.schema("v long")
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    q = DM.start_drift_sink(stream, store, ckpt, _bin())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    hist = {
        (r["batch_id"], r["bin"]): r["n"]
        for r in spark.read.parquet(store).collect()
    }
    assert hist == {(0, 0): 2, (0, 1): 1, (1, 1): 2, (1, 2): 1}
    psi = DM.psi_from_store(spark.read.parquet(store)).collect()
    assert len(psi) == 1 and psi[0]["batch_id"] == 1


def test_fixture_build_matches_fresh_two_batch_build(spark, tmp_path):
    from redshift_etl_spark.queries.llm_data import drift_store_fixture
    from redshift_etl_spark.queries.tables import load

    from .conftest import SF_SMOKE

    fix = drift_store_fixture(spark, SF_SMOKE)
    ev = load(spark, SF_SMOKE, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    bin_col = F.least(F.floor(F.col("value") / 50), F.lit(9).cast("long")).cast("long")
    fresh = str(tmp_path / "fresh")
    DM.drift_ingest_batch(ev.where(F.col("ts") < cut), fresh, 0, bin_col)
    DM.drift_ingest_batch(ev.where(F.col("ts") >= cut), fresh, 1, bin_col)
    a = sorted(map(tuple, fix.collect()))
    b = sorted(map(tuple, spark.read.parquet(fresh).collect()))
    assert a == b
