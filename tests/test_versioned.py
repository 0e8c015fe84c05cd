"""Versioned parquet tables (sources/versioned.py): snapshot commit,
time travel, rollback, vacuum retention, and the versioned SCD1 merge."""

from __future__ import annotations

import pytest

from redshift_etl_spark.sources import versioned as V


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, val string, ts timestamp")


def test_commit_time_travel_rollback(spark, tmp_path):
    root = str(tmp_path / "tbl")
    n0 = V.write_version(_df(spark, [(1, "a", None)]), root)
    n1 = V.write_version(_df(spark, [(1, "a", None), (2, "b", None)]), root)
    assert (n0, n1) == (0, 1)
    assert V.current_version(root) == 1
    assert V.read_current(spark, root).count() == 2
    assert V.read_version(spark, root, 0).count() == 1  # time travel
    V.rollback(root, 0)
    assert V.read_current(spark, root).count() == 1
    # rollback is reversible until vacuum
    V.rollback(root, 1)
    assert V.read_current(spark, root).count() == 2
    with pytest.raises(ValueError):
        V.rollback(root, 99)


def test_vacuum_keeps_current(spark, tmp_path):
    root = str(tmp_path / "tbl")
    for i in range(5):
        V.write_version(_df(spark, [(j, "x", None) for j in range(i + 1)]), root)
    V.rollback(root, 1)  # current is OLD; vacuum must not drop it
    dropped = V.vacuum(root, keep=2)
    assert 1 not in dropped and set(dropped) <= {0, 2}
    assert V.read_current(spark, root).count() == 2
    assert set(V.versions(root)) >= {1, 3, 4}


def test_merge_scd1_version(spark, tmp_path):
    import datetime as dt

    root = str(tmp_path / "tbl")
    t = dt.datetime(2024, 1, 1)
    V.write_version(_df(spark, [(1, "old", t), (2, "keep", t)]), root)
    n = V.merge_scd1_version(
        spark,
        root,
        _df(spark, [(1, "new", dt.datetime(2024, 2, 1)), (3, "ins", t)]),
        "id",
        "ts",
    )
    assert n == 1
    got = {
        (r["id"], r["val"]) for r in V.read_current(spark, root).collect()
    }
    assert got == {(1, "new"), (2, "keep"), (3, "ins")}
    # the pre-merge snapshot is still readable (audit/backout)
    old = {(r["id"], r["val"]) for r in V.read_version(spark, root, 0).collect()}
    assert old == {(1, "old"), (2, "keep")}


def test_version_diff_is_the_change_feed(spark, tmp_path):
    import datetime as dt

    root = str(tmp_path / "tbl")
    t = dt.datetime(2024, 1, 1)
    V.write_version(_df(spark, [(1, "old", t), (2, "keep", t)]), root)
    V.merge_scd1_version(
        spark,
        root,
        _df(spark, [(1, "new", dt.datetime(2024, 2, 1)), (3, "ins", t)]),
        "id",
        "ts",
    )
    diff = {
        (r["id"], r["change_type"])
        for r in V.version_diff(spark, root, "id", ["val"], 0).collect()
    }
    assert diff == {(1, "changed"), (3, "added")}


def test_streaming_versioned_sink_exactly_once(spark, tmp_path):
    """Two micro-batches land as two snapshots; a simulated redelivery
    (same epoch id) is a no-op for both state and version history."""
    import json
    import os
    import time

    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    schema = StructType(
        [
            StructField("id", StringType()),
            StructField("ts", TimestampType()),
            StructField("val", StringType()),
        ]
    )

    def write(name, rows):
        with open(indir / name, "w") as f:
            for r in rows:
                f.write(json.dumps(dict(zip(("id", "ts", "val"), r))) + "\n")

    write("b1.json", [("K1", "2024-01-01 10:00:00", "v1")])
    write("b2.json", [("K1", "2024-01-02 10:00:00", "v2"),
                      ("K2", "2024-01-01 09:00:00", "u1")])
    now = time.time()
    for i, n in enumerate(("b1.json", "b2.json")):
        t = now - 100 * (2 - i)
        os.utime(indir / n, (t, t))

    root = str(tmp_path / "tbl")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    q = V.start_versioned_merge_sink(
        stream, root, str(tmp_path / "ckpt"), "id", "ts"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r["id"], r["val"]) for r in V.read_current(spark, root).collect()}
    assert got == {("K1", "v2"), ("K2", "u1")}
    vs = V.versions(root)
    n_versions = len(vs)
    assert n_versions == 3  # empty seed + one per batch
    sid, epoch = V.last_applied_batch(root)
    assert epoch == 1

    # crash replay of THIS stream (same stream id, stale epoch): the
    # stream position in the commit record skips it before any fold —
    # clean version history
    assert V.last_applied_batch(root) == (sid, 1)
    assert V._apply_once(root, sid, 1, None, None) is False
    assert len(V.versions(root)) == n_versions

    # a NEW stream (fresh checkpoint ⇒ new stream id) whose epochs
    # restart at 0 over NEW data must NOT be skipped — the epoch
    # counter is scoped to the stream id (the silent-data-loss case)
    write("b3.json", [("K3", "2024-01-03 10:00:00", "w1")])
    t3 = time.time() + 5
    os.utime(indir / "b3.json", (t3, t3))
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 10)
        .json(str(indir))
    )
    q2 = V.start_versioned_merge_sink(
        stream2, root, str(tmp_path / "ckpt2"), "id", "ts"
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    cur = {
        (r["id"], r["val"]) for r in V.read_current(spark, root).collect()
    }
    assert ("K3", "w1") in cur  # new data applied, not dropped
    assert got <= cur  # merge idempotence: replayed rows keep state
    sid2, _ = V.last_applied_batch(root)
    assert sid2 != sid  # the record now holds the new stream's position


def test_crash_before_commit_leaves_table_consistent(spark, tmp_path):
    """A writer that dies after landing its v=N directory but BEFORE
    the pointer swap must be invisible to readers, and the next writer
    must not collide with the orphaned directory."""
    root = str(tmp_path / "tbl")
    V.write_version(_df(spark, [(1, "a", None)]), root)
    # simulate the crash: land a directory, never commit the pointer
    _df(spark, [(9, "orphan", None)]).write.parquet(root + "/v=1")
    assert V.current_version(root) == 0
    assert {r["id"] for r in V.read_current(spark, root).collect()} == {1}
    # next committed write lands ABOVE the orphan and commits cleanly
    n = V.write_version(_df(spark, [(2, "b", None)]), root)
    assert n == 2 and V.current_version(root) == 2
    assert {r["id"] for r in V.read_current(spark, root).collect()} == {2}


def test_reader_snapshot_stable_across_commit(spark, tmp_path):
    """A DataFrame resolved against the current pointer keeps reading
    its snapshot even after a newer version commits (pointer semantics:
    the version directory is immutable)."""
    root = str(tmp_path / "tbl")
    V.write_version(_df(spark, [(1, "a", None), (2, "b", None)]), root)
    held = V.read_current(spark, root)  # resolves to v=0's path now
    V.write_version(_df(spark, [(3, "c", None)]), root)
    assert {r["id"] for r in held.collect()} == {1, 2}
    assert {r["id"] for r in V.read_current(spark, root).collect()} == {3}


def test_file_uri_root_resolves_to_its_local_path(spark, tmp_path):
    """A ``file:`` root names the same store as its plain path: the
    listing, the pointer and the next version number all see it."""
    path = tmp_path / "tbl"
    uri = path.as_uri()  # file:///...
    assert V.write_version(_df(spark, [(1, "a", None)]), uri) == 0
    assert V.write_version(_df(spark, [(2, "b", None)]), str(path)) == 1
    for root in (uri, "file:" + str(path), str(path)):
        assert V.versions(root) == [0, 1]
        assert V.current_version(root) == 1
        assert {r["id"] for r in V.read_current(spark, root).collect()} == {2}
    assert V.write_version(_df(spark, [(3, "c", None)]), uri) == 2
    V.rollback(uri, 0)
    assert {r["id"] for r in V.read_current(spark, str(path)).collect()} == {1}


def test_non_file_uri_root_raises_before_any_job(spark):
    root = "s3a://bucket/tbl"
    df = _df(spark, [(1, "a", None)])
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "versioned-uri-root")
    try:
        for call in (
            lambda: V.versions(root),
            lambda: V.current_version(root),
            lambda: V.write_version(df, root),
            lambda: V.read_current(spark, root),
            lambda: V.merge_scd1_version(spark, root, df, "id", "ts"),
            lambda: V.forget_keys(spark, root, "id", [1]),
            lambda: V.commit_group({root: (df, None)}),
            lambda: V.last_applied_batch(root),
        ):
            with pytest.raises(ValueError, match="'s3a://bucket/tbl'"):
                call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("versioned-uri-root") == []


def test_concurrent_writers_never_share_a_version(spark, tmp_path, monkeypatch):
    """Writers that list the root at the same moment all pick the same
    next N; the exclusive reservation must move each later one up, so
    every snapshot stays intact and the pointer names one of them in
    full. More writers than cores, all on one session."""
    import threading

    root = str(tmp_path / "tbl")
    V.write_version(_df(spark, [(0, "seed", None)]), root)
    data = {
        tag: [(100 * w + i, tag, None) for i in range(1, 4 + 7 * w)]
        for w, tag in enumerate("abcde")
    }
    listed = threading.Barrier(len(data))
    seen: set = set()
    real_versions = V.versions

    def versions_listed_together(r):
        out = real_versions(r)
        me = threading.get_ident()
        if me not in seen:  # each writer's first listing waits for all
            seen.add(me)
            listed.wait(timeout=120)
        return out

    monkeypatch.setattr(V, "versions", versions_listed_together)
    got: dict = {}
    errors: list = []

    def writer(tag):
        try:
            got[tag] = V.write_version(_df(spark, data[tag]), root)
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(t,)) for t in data]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    monkeypatch.setattr(V, "versions", real_versions)
    assert not errors, errors
    assert sorted(got.values()) == list(range(1, len(data) + 1))

    def rows(df):
        return sorted((r["id"], r["val"]) for r in df.collect())

    def want(tag):
        return [(i, v) for i, v, _ in data[tag]]

    for tag, n in got.items():
        assert rows(V.read_version(spark, root, n)) == want(tag)
    cur = V.current_version(root)
    assert cur in got.values()
    tag = next(t for t, n in got.items() if n == cur)
    assert rows(V.read_current(spark, root)) == want(tag)


def test_concurrent_merges_from_one_snapshot_conflict(spark, tmp_path, monkeypatch):
    """Two SCD1 merges that read the same snapshot cannot both land:
    exactly one commits, the other raises CommitConflict, and the
    current version holds the winner's key next to the seed row."""
    import threading

    root = str(tmp_path / "tbl")
    V.write_version(_df(spark, [(0, "seed", None)]), root)
    from redshift_etl_spark.operators import merge as M

    read_together = threading.Barrier(2)
    real_merge = M.merge_scd1

    def merge_after_both_read(*args):  # called once the target is read
        read_together.wait(timeout=120)
        return real_merge(*args)

    monkeypatch.setattr(M, "merge_scd1", merge_after_both_read)
    won: dict = {}
    lost: dict = {}

    def merge(key):
        try:
            won[key] = V.merge_scd1_version(
                spark, root, _df(spark, [(key, "new", None)]), "id", "ts"
            )
        except V.CommitConflict as e:
            lost[key] = e

    threads = [threading.Thread(target=merge, args=(k,)) for k in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    assert len(won) == 1 and len(lost) == 1, (won, lost)
    (winner, n), = won.items()
    assert V.current_version(root) == n
    assert {r["id"] for r in V.read_current(spark, root).collect()} == {0, winner}


def test_concurrent_pointer_moves_never_tear(spark, tmp_path):
    """More threads than cores move one root's pointer (rollback, plus
    a few write_version commits) while reading it back, with a short
    thread switch interval: no commit errors and every read names a
    version that exists."""
    import sys
    import threading

    root = str(tmp_path / "tbl")
    for i in range(3):
        V.write_version(_df(spark, [(i, "x", None)]), root)
    errors: list = []
    bad: list = []

    def mover(w):
        try:
            for i in range(800):
                if w == 0 and i % 400 == 0:
                    V.write_version(_df(spark, [(100 + i, "w", None)]), root)
                V.rollback(root, (w + i) % 3)
                n = V.current_version(root)
                if n is None or n not in V.versions(root):
                    bad.append(n)
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=mover, args=(w,)) for w in range(6)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert not errors, errors[:3]
    assert not bad, bad[:10]
    assert V.versions(root) == [0, 1, 2, 3, 4]


def test_merge_sink_crash_before_commit_replays_once(spark, tmp_path, monkeypatch):
    """A merge sink that dies after staging its snapshot but before the
    commit leaves the table on its old version; the restarted stream
    replays the epoch into exactly one committed version, and a further
    restart adds none."""
    import json
    import os
    import time

    indir = tmp_path / "in"
    indir.mkdir()
    root, ckpt = str(tmp_path / "tbl"), str(tmp_path / "ckpt")

    def write(name, rows, mtime):
        (indir / name).write_text("\n".join(json.dumps(r) for r in rows))
        os.utime(indir / name, (mtime, mtime))

    def run():
        stream = (
            spark.readStream.schema("k long, v string, ver long")
            .option("maxFilesPerTrigger", 1)
            .json(str(indir))
        )
        q = V.start_versioned_merge_sink(stream, root, ckpt, "k", "ver")
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def state():
        return {
            r["k"]: (r["v"], r["ver"])
            for r in V.read_current(spark, root).collect()
        }

    now = time.time()
    write("b1.json", [{"k": 1, "v": "a", "ver": 1}], now - 20)
    run()  # v=0 empty seed, v=1 holds batch 0
    write("b2.json", [{"k": 1, "v": "A", "ver": 2}, {"k": 2, "v": "b", "ver": 1}], now - 10)

    def crash(*args, **kwargs):
        raise RuntimeError("crash before commit")

    real_commit = V._commit
    monkeypatch.setattr(V, "_commit", crash)
    with pytest.raises(Exception, match="crash before commit"):
        run()
    monkeypatch.setattr(V, "_commit", real_commit)
    assert V.current_version(root) == 1 and V.versions(root) == [0, 1, 2]
    assert state() == {1: ("a", 1)}

    run()  # restart: epoch 1 replays into v=3; v=2 stays unreferenced
    assert state() == {1: ("A", 2), 2: ("b", 1)}
    assert V.current_version(root) == 3 and V.versions(root) == [0, 1, 2, 3]
    assert V.last_applied_batch(root)[1] == 1
    run()  # nothing new: no version added
    assert V.versions(root) == [0, 1, 2, 3]
