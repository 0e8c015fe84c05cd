"""Streaming quality monitor: one exact metrics row per epoch, replay
idempotence by dynamic-partition-overwrite (no ledger needed when
nothing accumulates), an end-to-end file stream (mtimes pinned), and a
second checkpoint over the metrics table refused."""

from __future__ import annotations

import json
import os
import time

import pytest

from redshift_etl_spark.streaming import monitor as M

GOOD = " ".join(["the", "and"] + ["solid"] * 58)  # passes every screen
BAD = "too short"


def test_epoch_metrics_exact(spark):
    df = spark.createDataFrame(
        [(1, GOOD), (2, GOOD), (3, BAD)], ["doc_id", "text"]
    )
    r = M.epoch_quality_metrics(df, "doc_id", "text", 7).collect()[0]
    assert r["epoch"] == 7
    assert r["n_docs"] == 3
    assert r["n_keep"] == 2
    assert abs(r["keep_share"] - 2 / 3) < 1e-12
    assert r["n_tokens"] == 60 + 60 + 2


def test_replay_is_idempotent_and_epochs_accumulate(spark, tmp_path):
    path = str(tmp_path / "metrics")
    b1 = spark.createDataFrame([(1, GOOD)], ["doc_id", "text"])
    b2 = spark.createDataFrame([(2, BAD), (3, BAD)], ["doc_id", "text"])
    M.apply_quality_epoch(b1, 0, path, "doc_id", "text")
    M.apply_quality_epoch(b2, 1, path, "doc_id", "text")
    # crash replay of epoch 1: rewrites its own partition only
    M.apply_quality_epoch(b2, 1, path, "doc_id", "text")
    rows = {r["epoch"]: r.asDict() for r in M.read_monitor(spark, path).collect()}
    assert set(rows) == {0, 1}
    assert rows[0]["n_docs"] == 1 and rows[0]["n_keep"] == 1
    assert rows[1]["n_docs"] == 2 and rows[1]["n_keep"] == 0


def test_empty_batch_records_zero_docs_null_share(spark, tmp_path):
    path = str(tmp_path / "metrics")
    empty = spark.createDataFrame([], "doc_id long, text string")
    M.apply_quality_epoch(empty, 5, path, "doc_id", "text")
    r = M.read_monitor(spark, path).collect()[0]
    assert r["n_docs"] == 0 and r["keep_share"] is None


def test_live_stream_end_to_end(spark, tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    metrics = str(tmp_path / "metrics")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(name, rows, mtime):
        p = src / name
        p.write_text("\n".join(json.dumps(r) for r in rows))
        os.utime(p, (mtime, mtime))

    t0 = time.time()
    write_batch("a.json", [{"doc_id": 1, "text": GOOD}], t0 - 20)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = M.start_quality_monitor_sink(stream, metrics, ckpt)
    try:
        deadline = time.time() + 60
        seen = 0
        while time.time() < deadline:
            try:
                seen = M.read_monitor(spark, metrics).count()
            except Exception:
                seen = 0
            if seen >= 1:
                break
            time.sleep(0.5)
        assert seen >= 1
        write_batch("b.json", [{"doc_id": 2, "text": BAD}], t0 - 10)
        deadline = time.time() + 60
        while time.time() < deadline:
            rows = M.read_monitor(spark, metrics).collect()
            if sum(r["n_docs"] for r in rows) >= 2:
                break
            time.sleep(0.5)
        rows = M.read_monitor(spark, metrics).collect()
        assert sum(r["n_docs"] for r in rows) == 2
        assert sum(r["n_keep"] for r in rows) == 1
    finally:
        q.stop()


def test_second_checkpoint_over_metrics_raises(spark, tmp_path):
    """A new checkpoint restarts epochs at 0: stream D's epoch-0 row
    would overwrite stream C's, so the sink refuses to start."""
    metrics = str(tmp_path / "metrics")

    def run(name, rows):
        src = tmp_path / name
        src.mkdir()
        (src / "a.json").write_text("\n".join(json.dumps(r) for r in rows))
        stream = spark.readStream.schema("doc_id long, text string").json(
            str(src)
        )
        q = M.start_quality_monitor_sink(
            stream, metrics, str(tmp_path / f"ckpt_{name}")
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run("c", [{"doc_id": 1, "text": GOOD}])
    with pytest.raises(ValueError, match="is new"):
        run("d", [{"doc_id": 2, "text": BAD}, {"doc_id": 3, "text": BAD}])
    rows = M.read_monitor(spark, metrics).collect()
    assert [(r["epoch"], r["n_docs"], r["n_keep"]) for r in rows] == [(0, 1, 1)]


def test_quality_trend_matches_streamed_metrics(spark, tmp_path):
    """The batch trend over an epoch-keyed corpus must report the SAME
    per-epoch metrics the streaming sink writes batch-by-batch, plus
    the keep_share delta between consecutive epochs."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "metrics")
    batches = [
        [(1, GOOD), (2, GOOD), (3, BAD)],
        [(4, GOOD), (5, BAD)],
        [(6, BAD), (7, BAD), (8, BAD), (9, GOOD)],
    ]
    full = []
    for epoch, rows in enumerate(batches):
        b = spark.createDataFrame(rows, ["doc_id", "text"])
        M.apply_quality_epoch(b, epoch, path, "doc_id", "text")
        full += [(d, t, epoch) for d, t in rows]
    streamed = {
        r["epoch"]: r.asDict()
        for r in M.read_monitor(spark, path).collect()
    }
    corpus = spark.createDataFrame(full, ["doc_id", "text", "epoch"])
    trend = {
        r["epoch"]: r.asDict()
        for r in M.quality_trend(corpus, "doc_id", "text", "epoch").collect()
    }
    assert set(trend) == set(streamed)
    for e, s in streamed.items():
        t = trend[e]
        assert (t["n_docs"], t["n_tokens"], t["n_keep"]) == (
            s["n_docs"],
            s["n_tokens"],
            s["n_keep"],
        )
        assert abs(t["keep_share"] - round(s["keep_share"], 6)) < 1e-12
    # drift column: epoch 0 has no predecessor; later deltas exact
    assert trend[0]["keep_share_delta"] is None
    assert (
        abs(
            trend[1]["keep_share_delta"]
            - round(trend[1]["keep_share"] - trend[0]["keep_share"], 6)
        )
        < 1e-9
    )
