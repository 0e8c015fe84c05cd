"""Streaming top-k monitor (`streaming/heavyhitters`): per-epoch
overwrite on replay, floor/spill summary semantics, from-store bounds
vs a hand computation, end-to-end via a real file stream with pinned
mtimes, a second checkpoint over the store refused, and fixture ≡
fresh-build equivalence."""

from __future__ import annotations

import json
import os
import time

import pyspark.sql.functions as F
import pytest

from redshift_etl_spark.streaming import heavyhitters as TK


def _df(spark, items):
    return spark.createDataFrame([(i,) for i in items], "item: string")


def test_replay_skips_and_spill_folds_below_floor(spark, tmp_path):
    store = str(tmp_path / "store")
    TK.topk_ingest_batch(
        _df(spark, ["a"] * 3 + ["b"] * 2 + ["c"]), store, 0, "item", 3
    )
    TK.topk_ingest_batch(  # replay: rewrites partition batch_id=0
        _df(spark, ["a"] * 3 + ["b"] * 2 + ["c"]), store, 0, "item", 3
    )
    rows = spark.read.parquet(store).collect()
    kept = {(r["item"], r["n"]) for r in rows if not r["is_spill"]}
    spill = [(r["item"], r["n"]) for r in rows if r["is_spill"]]
    assert kept == {("a", 3)}           # only a reaches the floor
    assert spill == [(None, 3)]         # b(2) + c(1) fold into spill
    dirs = {d for d in os.listdir(store) if d.startswith("batch_id=")}
    assert dirs == {"batch_id=0"}


def test_ingest_survives_empty_store_dir(spark, tmp_path):
    """An exists-but-empty store dir (a failed first write) is
    written over like a missing one."""
    store = tmp_path / "store"
    store.mkdir()  # empty: no parquet footer to infer a schema from
    TK.topk_ingest_batch(_df(spark, ["a"] * 3 + ["b"]), str(store), 0,
                         "item", 3)
    rows = spark.read.parquet(str(store)).collect()
    assert {(r["item"], r["n"]) for r in rows if not r["is_spill"]} == {
        ("a", 3)
    }


def test_topk_bounds_hand_check(spark, tmp_path):
    store = str(tmp_path / "store")
    # floor 3: batch0 stores a=5, b=3; batch1 stores a=4 (b below floor)
    TK.topk_ingest_batch(
        _df(spark, ["a"] * 5 + ["b"] * 3 + ["x"]), store, 0, "item", 3
    )
    TK.topk_ingest_batch(
        _df(spark, ["a"] * 4 + ["b"] * 2), store, 1, "item", 3
    )
    out = {
        r["item"]: r
        for r in TK.topk_from_store(
            spark.read.parquet(store), k=10, floor=3
        ).collect()
    }
    assert out["a"]["lower_bound"] == 9
    assert out["a"]["upper_bound"] == 9      # present in every batch
    assert out["a"]["batches_present"] == 2
    assert out["b"]["lower_bound"] == 3
    # absent from batch1: it can hide at most floor-1 = 2 there
    assert out["b"]["upper_bound"] == 5
    assert out["b"]["n_batches"] == 2


def _item_stream(spark, indir, batches):
    """A file stream of ``{"item": ...}`` records, one file per batch,
    mtimes pinned in batch order."""
    indir.mkdir()
    now = time.time()
    for i, items in enumerate(batches):
        p = indir / f"b{i}.json"
        p.write_text("\n".join(json.dumps({"item": v}) for v in items))
        os.utime(p, (now - 20 + i * 10, now - 20 + i * 10))
    return (
        spark.readStream.schema("item string")
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )


def _drain(q):
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_stream_end_to_end(spark, tmp_path):
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    stream = _item_stream(
        spark, tmp_path / "in", [["a", "a", "b"], ["a", "b", "b"]]
    )
    _drain(TK.start_topk_sink(stream, store, ckpt, "item", floor=2))
    out = {
        r["item"]: (r["lower_bound"], r["upper_bound"])
        for r in TK.topk_from_store(
            spark.read.parquet(store), k=5, floor=2
        ).collect()
    }
    # batch0 stores a=2 (b=1 spills); batch1 stores b=2 (a=1 spills)
    assert out == {"a": (2, 3), "b": (2, 3)}


def test_second_checkpoint_over_store_raises(spark, tmp_path):
    """Epochs restart at 0 with a new checkpoint, so stream B's batch 0
    would overwrite stream A's: the sink refuses to start."""
    store = str(tmp_path / "store")
    a = _item_stream(spark, tmp_path / "a", [["a", "a"]])
    _drain(TK.start_topk_sink(a, store, str(tmp_path / "ckpt_a"), "item", 2))
    before = set(map(tuple, spark.read.parquet(store).collect()))
    b = _item_stream(spark, tmp_path / "b", [["b", "b"]])
    with pytest.raises(ValueError, match="is new"):
        _drain(
            TK.start_topk_sink(b, store, str(tmp_path / "ckpt_b"), "item", 2)
        )
    assert set(map(tuple, spark.read.parquet(store).collect())) == before


def test_fixture_build_matches_fresh_two_batch_build(spark, tmp_path):
    from redshift_etl_spark.queries.llm_data import (
        _TOPK_FLOOR,
        topk_store_fixture,
    )
    from redshift_etl_spark.queries.tables import load

    from .conftest import SF_SMOKE

    fix = topk_store_fixture(spark, SF_SMOKE)
    ev = load(spark, SF_SMOKE, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    fresh = str(tmp_path / "fresh")
    TK.topk_ingest_batch(
        ev.where(F.col("ts") < cut), fresh, 0, "user_id", _TOPK_FLOOR
    )
    TK.topk_ingest_batch(
        ev.where(F.col("ts") >= cut), fresh, 1, "user_id", _TOPK_FLOOR
    )
    key = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
    a = sorted(map(tuple, fix.collect()), key=key)
    b = sorted(map(tuple, spark.read.parquet(fresh).collect()), key=key)
    assert a == b
