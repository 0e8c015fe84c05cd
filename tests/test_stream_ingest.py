"""Streaming dedup ingest: within-batch + cross-batch dedup against the
stored corpus, crash-replay idempotence, and end-to-end via a real file
stream (mtimes pinned — file source orders by mtime)."""

from __future__ import annotations

import pytest

import json
import os
import time

from redshift_etl_spark.streaming import ingest as I


def _write_batch(path, rows, mtime):
    path.write_text("\n".join(json.dumps(r) for r in rows))
    os.utime(path, (mtime, mtime))


def test_dedup_ingest_batch_semantics_and_replay(spark, tmp_path):
    corpus = str(tmp_path / "corpus")

    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")],  # 3 dups 1 in-batch
        ["doc_id", "text"],
    )
    I.dedup_ingest_batch(b1, corpus)
    got = {
        r["doc_id"]: r["text"] for r in spark.read.parquet(corpus).collect()
    }
    assert got == {1: "alpha", 2: "beta"}  # min-id kept, dup dropped

    # crash replay: the SAME batch again must append nothing
    I.dedup_ingest_batch(b1, corpus)
    assert spark.read.parquet(corpus).count() == 2

    # next batch: cross-batch dup dropped, new doc survives
    b2 = spark.createDataFrame(
        [(10, "beta"), (11, "gamma")], ["doc_id", "text"]
    )
    I.dedup_ingest_batch(b2, corpus)
    got = {
        r["doc_id"]: r["text"] for r in spark.read.parquet(corpus).collect()
    }
    assert got == {1: "alpha", 2: "beta", 11: "gamma"}
    # every fingerprint exactly once
    fps = [r["fingerprint"] for r in spark.read.parquet(corpus).collect()]
    assert len(fps) == len(set(fps)) == 3


def test_dedup_ingest_reused_doc_id_pairs_exactly(spark, tmp_path):
    """A batch that reuses one doc_id for two DIFFERENT texts must
    store each distinct text once, paired with its own fingerprint —
    the r4 join-back-on-id formulation multiplied the match and wrote
    mismatched (fingerprint, text) rows."""
    import pyspark.sql.functions as F

    corpus = str(tmp_path / "corpus")
    b = spark.createDataFrame(
        [(1, "alpha"), (1, "delta"), (2, "alpha")], ["doc_id", "text"]
    )
    I.dedup_ingest_batch(b, corpus)
    rows = spark.read.parquet(corpus).collect()
    # two distinct texts -> exactly two rows, no cross-pairing
    assert sorted(r["text"] for r in rows) == ["alpha", "delta"]
    for r in rows:
        # fingerprint matches ITS text
        [expect] = (
            spark.range(1)
            .select(F.md5(F.lit(r["text"])))
            .collect()[0]
        )
        assert r["fingerprint"] == expect
        assert r["doc_id"] == 1  # min id per fingerprint group
    # replay appends nothing
    I.dedup_ingest_batch(b, corpus)
    assert spark.read.parquet(corpus).count() == 2


def test_dedup_ingest_stream_end_to_end(spark, tmp_path):
    indir = tmp_path / "in"
    indir.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    now = time.time()
    _write_batch(
        indir / "b1.json",
        [
            {"doc_id": 1, "text": "alpha"},
            {"doc_id": 2, "text": "beta"},
            {"doc_id": 3, "text": "alpha"},
        ],
        now - 20,
    )
    _write_batch(
        indir / "b2.json",
        [
            {"doc_id": 10, "text": "beta"},
            {"doc_id": 11, "text": "gamma"},
        ],
        now - 10,
    )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    q = I.start_dedup_ingest_sink(stream, corpus, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r["doc_id"]: r["text"] for r in spark.read.parquet(corpus).collect()
    }
    assert got == {1: "alpha", 2: "beta", 11: "gamma"}


def _part_files(root):
    return sorted(
        os.path.join(d, f)
        for d, _dirs, files in os.walk(root)
        for f in files
        if f.startswith("part-")
    )


def _store_content(spark, corpus):
    return sorted(
        (r["doc_id"], r["text"], r["fingerprint"], r["fp_bucket"])
        for r in spark.read.parquet(corpus).collect()
    )


def test_compaction_crash_windows_recover(spark, tmp_path):
    """A compaction that crashed inside its two-rename swap: between
    the renames (no store, the old one at ``.__compact_old__``) the
    next ingest or compaction puts it back, so a replayed batch appends
    nothing; after them (a stale copy next to the store) the copy is
    dropped and the next compaction's rename succeeds."""
    import shutil

    corpus = str(tmp_path / "corpus")
    old = corpus + ".__compact_old__"
    b = spark.createDataFrame(
        [(i, f"doc-{i}") for i in range(6)], ["doc_id", "text"]
    )
    I.dedup_ingest_batch(b, corpus)
    want = _store_content(spark, corpus)

    for recover in (
        lambda: I.dedup_ingest_batch(b, corpus),  # the replayed batch
        lambda: I.compact_dedup_store(spark, corpus),
    ):
        os.rename(corpus, old)  # crash window 1
        recover()
        assert _store_content(spark, corpus) == want
        assert not os.path.exists(old)
        shutil.copytree(corpus, old)  # crash window 2
        recover()
        assert _store_content(spark, corpus) == want
        assert not os.path.exists(old)
    I.compact_dedup_store(spark, corpus)
    assert _store_content(spark, corpus) == want


@pytest.mark.slow
def test_compaction_preserves_probe_and_reclaims_files(spark, tmp_path):
    """Verdict r5 item 4: (a) probe results identical pre/post
    compaction, (b) post-compaction store has fewer part-files,
    (c) re-running compaction is idempotent."""
    corpus = str(tmp_path / "corpus")
    # 12 triggers * small batches -> many tiny part-files
    for i in range(12):
        b = spark.createDataFrame(
            [(i * 10 + j, f"doc-{i}-{j}") for j in range(8)]
            + [(999, "doc-0-0")],  # cross-batch dup every trigger
            ["doc_id", "text"],
        )
        I.dedup_ingest_batch(b, corpus)

    pre_content = _store_content(spark, corpus)
    pre_files = _part_files(corpus)
    # probe: a batch mixing stored dups and new docs, BEFORE compaction
    probe = spark.createDataFrame(
        [(1000, "doc-3-4"), (1001, "brand-new"), (1002, "doc-11-7")],
        ["doc_id", "text"],
    )
    # dry-run the probe's anti-join (don't mutate the store yet)
    from pyspark.sql import functions as F

    def probe_survivors():
        stored = spark.read.parquet(corpus).select("fp_bucket", "fingerprint")
        cand = probe.select(
            "doc_id", "text", F.md5("text").alias("fingerprint")
        ).withColumn("fp_bucket", F.substring("fingerprint", 1, 2))
        return sorted(
            r["text"]
            for r in cand.join(
                stored, ["fp_bucket", "fingerprint"], "left_anti"
            ).collect()
        )

    pre_probe = probe_survivors()
    assert pre_probe == ["brand-new"]

    stats = I.compact_dedup_store(spark, corpus)
    assert stats["rows"] == len(pre_content)
    assert stats["files_before"] == len(pre_files)
    post_files = _part_files(corpus)
    assert stats["files_after"] == len(post_files)
    assert len(post_files) < len(pre_files)  # (b) reclaim
    assert _store_content(spark, corpus) == pre_content  # content equal
    assert probe_survivors() == pre_probe  # (a) probe identical

    # (c) idempotent re-run
    stats2 = I.compact_dedup_store(spark, corpus)
    assert _store_content(spark, corpus) == pre_content
    assert stats2["files_after"] == stats["files_after"]

    # ingest keeps working against the compacted store
    I.dedup_ingest_batch(probe, corpus)
    got = {r["text"] for r in spark.read.parquet(corpus).collect()}
    assert "brand-new" in got and len(got) == len(pre_content) + 1


@pytest.mark.slow
def test_compaction_sorts_within_buckets(spark, tmp_path):
    """Each compacted part-file holds ONE contiguous fingerprint run —
    the precondition for parquet min/max page skipping."""
    corpus = str(tmp_path / "corpus")
    b = spark.createDataFrame(
        [(i, f"text-{i}") for i in range(300)], ["doc_id", "text"]
    )
    I.dedup_ingest_batch(b, corpus)
    I.compact_dedup_store(spark, corpus)
    for path in _part_files(corpus):
        fps = [
            r["fingerprint"]
            for r in spark.read.parquet(path).select("fingerprint").collect()
        ]
        assert fps == sorted(fps), path


def test_legacy_store_migration(spark, tmp_path):
    """A store written by the pre-partitioned layout (flat, no
    fp_bucket) fails the ingest with a clear migration pointer;
    compact_dedup_store migrates it in place; ingest then dedups
    against the migrated fingerprints."""
    import pytest
    from pyspark.sql import functions as F

    corpus = str(tmp_path / "corpus")
    legacy = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], ["doc_id", "text"]
    ).select("doc_id", "text", F.md5("text").alias("fingerprint"))
    legacy.write.parquet(corpus)  # flat layout, no partition column

    b = spark.createDataFrame([(3, "alpha"), (4, "gamma")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="compact_dedup_store"):
        I.dedup_ingest_batch(b, corpus)

    I.compact_dedup_store(spark, corpus)  # migration
    assert "fp_bucket" in spark.read.parquet(corpus).columns

    I.dedup_ingest_batch(b, corpus)
    got = {r["text"] for r in spark.read.parquet(corpus).collect()}
    assert got == {"alpha", "beta", "gamma"}  # alpha deduped vs legacy


@pytest.mark.slow
def test_compaction_multifile_buckets_are_range_partitioned(spark, tmp_path):
    """files_per_bucket > 1 must keep each bucket's files few, with
    contiguous NON-OVERLAPPING fingerprint ranges (the r06 hash
    formulation scattered every bucket across all tasks — unbounded
    overlapping files, no min/max skipping)."""
    from collections import defaultdict

    corpus = str(tmp_path / "corpus")
    b = spark.createDataFrame(
        [(i, f"text-{i}") for i in range(3000)], ["doc_id", "text"]
    )
    I.dedup_ingest_batch(b, corpus)
    fpb = 2
    I.compact_dedup_store(spark, corpus, files_per_bucket=fpb)

    by_bucket = defaultdict(list)
    for path in _part_files(corpus):
        bucket = next(
            seg.split("=", 1)[1]
            for seg in path.split(os.sep)
            if seg.startswith("fp_bucket=")
        )
        fps = [
            r["fingerprint"]
            for r in spark.read.parquet(path).select("fingerprint").collect()
        ]
        assert fps == sorted(fps), path  # contiguous run within file
        by_bucket[bucket].append((min(fps), max(fps)))
    assert by_bucket
    # total files bounded by the range-partition count + one straddle
    # per bucket (the hash-scatter formulation this replaces could
    # emit up to 256 * n_parts overlapping files)
    n_parts = 256 * fpb
    assert sum(len(r) for r in by_bucket.values()) <= n_parts + 256
    for bucket, ranges in by_bucket.items():
        # per-bucket bound: ~fpb range slices + sampling slack (range
        # boundary placement is reservoir-sampled, so tiny partitions
        # can straddle a bucket more than once under load)
        assert len(ranges) <= fpb + 6, (bucket, len(ranges))
        # the load-independent contract: non-overlapping ranges across
        # the bucket's files
        for (lo1, hi1), (lo2, _hi2) in zip(
            sorted(ranges), sorted(ranges)[1:]
        ):
            assert hi1 < lo2, (bucket, sorted(ranges))
    # probe against the multi-file store still dedups correctly
    I.dedup_ingest_batch(
        spark.createDataFrame([(9001, "text-7"), (9002, "fresh")], ["doc_id", "text"]),
        corpus,
    )
    got = spark.read.parquet(corpus)
    assert got.count() == 3001
    assert got.filter("text = 'fresh'").count() == 1


@pytest.mark.slow
def test_auto_compaction_bounds_files_across_lifecycle(spark, tmp_path):
    """Verdict r6 item 6: ingest → threshold-triggered compaction →
    more ingest, with probe results identical throughout and the file
    count bounded, using exactly the sink's per-batch hook."""
    from pyspark.sql import functions as F

    corpus = str(tmp_path / "corpus")
    threshold = 40
    expected = {}
    compactions = 0
    for i in range(14):
        rows = [(i * 100 + j, f"doc-{i}-{j}") for j in range(6)] + [
            (9999, "doc-0-0")  # cross-batch dup every trigger
        ]
        for did, txt in rows:
            expected.setdefault(txt, min(did, expected.get(txt, did)))
        b = spark.createDataFrame(rows, ["doc_id", "text"])
        I.dedup_ingest_batch(b, corpus)
        stats = I.maybe_compact(spark, corpus, threshold)
        if stats is not None:
            compactions += 1
            # a compacted store is exactly one file per OCCUPIED
            # bucket — that floor can legitimately sit above the
            # trigger threshold, so the bound is vs occupancy, not <
            occupied = (
                spark.read.parquet(corpus)
                .select("fp_bucket")
                .distinct()
                .count()
            )
            assert stats["files_after"] == occupied
            assert stats["files_after"] <= stats["files_before"]
        # bounded at every point: compacted floor (≤ one file per
        # occupied bucket) + appends since the last compaction (≤ one
        # file per batch-bucket per trigger, 7 rows → ≤ 7, with task
        # slack under concurrent load)
        occupied = (
            spark.read.parquet(corpus)
            .select("fp_bucket")
            .distinct()
            .count()
        )
        assert I.count_part_files(corpus) <= occupied + threshold + 32
        # store content is exactly the expected dedup state after
        # every batch, compacted or not
        got = {
            r["text"]: r["doc_id"]
            for r in spark.read.parquet(corpus).collect()
        }
        assert got == expected
    assert compactions >= 1  # the threshold actually fired


def test_sink_auto_compaction_end_to_end(spark, tmp_path):
    """The live-stream form: compact_files_threshold=0 forces a
    compaction after every micro-batch; content must match the plain
    sink's and the store must end compacted (~one file per occupied
    bucket)."""
    indir = tmp_path / "in"
    indir.mkdir()
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    now = time.time()
    _write_batch(
        indir / "b1.json",
        [{"doc_id": 1, "text": "alpha"}, {"doc_id": 2, "text": "beta"}],
        now - 20,
    )
    _write_batch(
        indir / "b2.json",
        [{"doc_id": 10, "text": "beta"}, {"doc_id": 11, "text": "gamma"}],
        now - 10,
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    q = I.start_dedup_ingest_sink(
        stream, corpus, ckpt, compact_files_threshold=0
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"]: r["text"] for r in spark.read.parquet(corpus).collect()
    }
    assert got == {1: "alpha", 2: "beta", 11: "gamma"}
    # compacted: one part-file per occupied bucket (3 distinct texts)
    assert I.count_part_files(corpus) == 3
