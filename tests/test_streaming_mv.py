"""Exactly-once incremental-MV sink: fold ≡ batch aggregate of all
epochs, crash replay no-ops via the stream position in the view's
commit record."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from redshift_etl_spark.operators import mv as MV
from redshift_etl_spark.sources import versioned as V
from redshift_etl_spark.streaming import mv as SMV

SPEC = dict(keys=["g"], sum_cols=["v"])


def _rows(df):
    return sorted(tuple(r) for r in df.select("g", "n_rows", "sum_v").collect())


def test_fold_epochs_and_replay_idempotence(spark, tmp_path):
    view = str(tmp_path / "view")
    b0 = spark.createDataFrame([(1, "a", 10), (2, "b", 5)], ["id", "g", "v"])
    b1 = spark.createDataFrame([(3, "a", 7), (4, "c", 1)], ["id", "g", "v"])

    assert SMV.fold_epoch(b0, 0, view, **SPEC) is True
    assert SMV.fold_epoch(b1, 1, view, **SPEC) is True
    want = _rows(MV.agg_mv(b0.unionByName(b1), **SPEC))
    assert _rows(V.read_current(spark, view)) == want

    # crash replay: both epochs re-delivered -> the record's stream
    # position no-ops them, no double counting
    assert SMV.fold_epoch(b0, 0, view, **SPEC) is False
    assert SMV.fold_epoch(b1, 1, view, **SPEC) is False
    assert _rows(V.read_current(spark, view)) == want
    assert V.last_applied_batch(view) == ("", 1)


def test_mv_sink_stream_end_to_end(spark, tmp_path):
    indir = tmp_path / "in"
    indir.mkdir()
    view = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    now = time.time()
    for i, rows in enumerate(
        [
            [{"g": "a", "v": 10}, {"g": "b", "v": 5}],
            [{"g": "a", "v": 7}, {"g": "c", "v": 1}],
        ]
    ):
        p = indir / f"b{i}.json"
        p.write_text("\n".join(json.dumps(r) for r in rows))
        os.utime(p, (now - 20 + i * 5, now - 20 + i * 5))

    stream = (
        spark.readStream.schema("g string, v long")
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    q = SMV.start_mv_sink(stream, view, ckpt, **SPEC)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["g"]: (r["n_rows"], r["sum_v"]) for r in V.read_current(spark, view).collect()}
    assert got == {"a": (2, 17), "b": (1, 5), "c": (1, 1)}
    # restart from the checkpoint: nothing new -> view unchanged
    stream2 = (
        spark.readStream.schema("g string, v long")
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    q2 = SMV.start_mv_sink(stream2, view, ckpt, **SPEC)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got2 = {r["g"]: (r["n_rows"], r["sum_v"]) for r in V.read_current(spark, view).collect()}
    assert got2 == got


def _sink_once(spark, indir, view, ckpt):
    stream = (
        spark.readStream.schema("g string, v long")
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    q = SMV.start_mv_sink(stream, view, ckpt, **SPEC)
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _write_json(path, rows, mtime):
    path.write_text("\n".join(json.dumps(r) for r in rows))
    os.utime(path, (mtime, mtime))


def _view(spark, view):
    return {
        r["g"]: (r["n_rows"], r["sum_v"])
        for r in V.read_current(spark, view).collect()
    }


def test_mv_sink_new_checkpoint_folds_its_epoch_zero(spark, tmp_path):
    """Epoch ids restart at 0 for a fresh checkpoint: its first batches
    over NEW data must fold, not be taken for replays of the old
    stream's epochs 0 and 1."""
    view = str(tmp_path / "view")
    first, second = tmp_path / "in1", tmp_path / "in2"
    first.mkdir()
    second.mkdir()
    now = time.time()
    _write_json(first / "b0.json", [{"g": "a", "v": 10}], now - 20)
    _write_json(first / "b1.json", [{"g": "b", "v": 5}], now - 15)
    _sink_once(spark, first, view, str(tmp_path / "ckpt1"))
    assert V.last_applied_batch(view)[1] == 1
    _write_json(second / "c0.json", [{"g": "a", "v": 7}, {"g": "c", "v": 1}], now - 10)
    _sink_once(spark, second, view, str(tmp_path / "ckpt2"))
    assert _view(spark, view) == {"a": (2, 17), "b": (1, 5), "c": (1, 1)}
    assert V.last_applied_batch(view)[1] == 0


def test_mv_sink_crash_before_commit_replays_once(spark, tmp_path, monkeypatch):
    """A sink that dies after staging its fold but before the commit
    leaves the view on its old snapshot; the restarted stream replays
    the epoch, which folds exactly once, and a further restart adds no
    version."""
    indir = tmp_path / "in"
    indir.mkdir()
    view, ckpt = str(tmp_path / "view"), str(tmp_path / "ckpt")
    now = time.time()
    _write_json(indir / "b0.json", [{"g": "a", "v": 10}], now - 20)
    _sink_once(spark, indir, view, ckpt)
    _write_json(indir / "b1.json", [{"g": "a", "v": 7}, {"g": "c", "v": 1}], now - 15)

    real_commit = V._commit

    def crash(*args, **kwargs):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(V, "_commit", crash)
    with pytest.raises(Exception, match="crash before commit"):
        _sink_once(spark, indir, view, ckpt)
    monkeypatch.setattr(V, "_commit", real_commit)
    assert V.current_version(view) == 0 and V.versions(view) == [0, 1]
    assert _view(spark, view) == {"a": (1, 10)}

    _sink_once(spark, indir, view, ckpt)  # restart: epoch 1 replays
    assert _view(spark, view) == {"a": (2, 17), "c": (1, 1)}
    assert V.current_version(view) == 2
    assert V.last_applied_batch(view)[1] == 1
    vs = V.versions(view)
    _sink_once(spark, indir, view, ckpt)  # nothing new: no version added
    assert V.versions(view) == vs
    assert _view(spark, view) == {"a": (2, 17), "c": (1, 1)}


def test_fold_refuses_a_view_of_the_earlier_layout(spark, tmp_path):
    """A streaming view written before the commit record (plain parquet
    plus a `_last_epoch` file) must not be folded into: that would
    commit the batch alone as v=0 and hide the stored aggregate."""
    view = tmp_path / "view"
    stored = MV.agg_mv(
        spark.createDataFrame([(1, "a", 10)], ["id", "g", "v"]), **SPEC
    )
    stored.write.parquet(str(view))
    (view / "_last_epoch").write_text("3")
    before = sorted(os.listdir(view))
    b4 = spark.createDataFrame([(2, "a", 7)], ["id", "g", "v"])
    with pytest.raises(ValueError, match="rebuild the view"):
        SMV.fold_epoch(b4, 4, str(view), **SPEC)
    assert sorted(os.listdir(view)) == before  # nothing staged or committed
    assert V.current_version(str(view)) is None
