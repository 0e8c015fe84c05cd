"""Continuous corpus ingest with global dedup — the streaming form of
the `incremental_ingest` daily-run shape: every micro-batch dedupes
within itself (exact fingerprint groupBy) AND against everything ever
stored, then appends only the new documents to the corpus store.

Exactly-once without a transaction log: the store's own content is the
idempotence ledger. A crash-replayed batch re-runs the anti-join
against a store that already holds its fingerprints and appends
nothing — content-based dedup makes redelivery a no-op by construction
(same argument as merge idempotence in
`versioned.start_versioned_merge_sink`, but here the MERGE key is the
content hash).

Scale shape per trigger: one md5 groupBy over the BATCH only, one
anti-join batch-vs-store on the fingerprint column (the store side
prunes to that single column; Spark's runtime bloom filter or a
broadcast of the batch's fingerprints keeps the store scan cheap), one
append write. Raw corpus text is never rescanned.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.lake import restore_stranded, swap_in
from .store import read_store, start_sink


def count_part_files(root: str) -> int:
    """Part-file count of a parquet store — the compaction trigger
    signal (driver-side directory walk, no Spark job)."""
    return sum(
        1
        for _dirpath, _dirs, files in os.walk(root)
        for f in files
        if f.startswith("part-")
    )


def maybe_compact(
    spark,
    corpus_path: str,
    files_threshold: int,
    files_per_bucket: int = 1,
) -> dict | None:
    """Threshold-gated `compact_dedup_store`: compact when the store's
    part-file count exceeds ``files_threshold``, else no-op. Returns
    the compaction stats dict, or None when below threshold. Safe
    wherever the store has no concurrent writer — in particular inside
    a foreachBatch body, where the stream will not start the next
    trigger until the batch returns (the between-micro-batches slot the
    compaction contract asks for)."""
    if not os.path.exists(corpus_path):
        return None
    if count_part_files(corpus_path) <= files_threshold:
        return None
    return compact_dedup_store(spark, corpus_path, files_per_bucket)


def dedup_ingest_batch(
    batch_df: DataFrame,
    corpus_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One micro-batch body (module-level so tests can drive replay
    semantics directly): batch-internal exact dedup → anti-join against
    stored fingerprints → append survivors as (id, text, fingerprint).
    Idempotent: re-running with the same batch appends nothing."""
    spark = batch_df.sparkSession
    restore_stranded(spark, corpus_path)
    # Winners carried THROUGH the groupBy (text is constant within a
    # fingerprint group, so min(text) IS the text) — no join back to
    # the batch. The r4 formulation joined winners to the batch on id
    # alone, so a batch that reused a doc_id for two different texts
    # multiplied the match and appended mismatched (fingerprint, text)
    # pairs; keying the agg by fingerprint makes the pairing exact by
    # construction.
    keep = (
        batch_df.select(
            F.col(id_col),
            F.col(text_col),
            F.md5(F.col(text_col)).alias("fingerprint"),
        )
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias(id_col),
            F.min(text_col).alias(text_col),
        )
    )
    # Spark-side probe (streaming/store.py): local exists() is blind to
    # cluster URIs — the anti-join would silently skip and re-append
    # every replayed document on a deployed store
    stored_all = read_store(spark, corpus_path)
    if stored_all is not None:
        if "fp_bucket" not in stored_all.columns:
            # legacy (pre-partitioned-layout) store: appending
            # hive-partitioned files next to flat part-files would
            # leave a mixed layout Spark cannot list correctly, so
            # fail loudly with the migration path instead of guessing
            raise ValueError(
                f"dedup store at {corpus_path!r} uses the legacy "
                "unpartitioned layout (no fp_bucket partition column); "
                "migrate it once with compact_dedup_store(spark, path) "
                "— compaction derives fp_bucket from the stored "
                "fingerprints and rewrites the store partitioned and "
                "sorted — then restart the stream."
            )
        stored = stored_all.select("fp_bucket", "fingerprint")
        keep = keep.withColumn(
            "fp_bucket", F.substring("fingerprint", 1, 2)
        ).join(stored, ["fp_bucket", "fingerprint"], "left_anti")
    else:
        keep = keep.withColumn(
            "fp_bucket", F.substring("fingerprint", 1, 2)
        )
    new_rows = keep.select(id_col, text_col, "fingerprint", "fp_bucket")
    # append is safe mid-read: parquet appends are new part files, and
    # the store read above already resolved its file list.
    #
    # The store is hive-partitioned on the 2-hex fingerprint prefix
    # (256 buckets): the anti-join probe reads only the single pruned
    # fingerprint column, the bucket key joins partition-to-partition,
    # and periodic `compact_dedup_store` runs (sort-within-bucket +
    # part-file coalesce, below) give parquet min/max page skipping —
    # so per-trigger probe cost is bounded by the store's
    # fingerprint-column footprint, not its text payload, and stays
    # prunable as the store grows over the stream's lifetime.
    new_rows.write.mode("append").partitionBy("fp_bucket").parquet(
        corpus_path
    )


def compact_dedup_store(
    spark,
    corpus_path: str,
    files_per_bucket: int = 1,
) -> dict:
    """Maintenance job for the dedup-ingest store: rewrite every
    ``fp_bucket`` partition SORTED by fingerprint and coalesced to
    ``files_per_bucket`` part-file(s) — delivering the min/max page
    skipping the ingest path's probe relies on, and bounding the
    file-listing cost that otherwise grows by one part-file per
    trigger forever.

    Why sorting matters: the anti-join probe reads only the store's
    fingerprint column; once each file holds a contiguous fingerprint
    range, parquet column-index min/max stats let a bloom-pruned or
    dynamic-filtered probe skip whole pages. Append order gives every
    file the full [0x00..,0xff..] spread — no stats ever prune.

    Also the MIGRATION path for legacy stores written before the
    hive-partitioned layout: when the input lacks ``fp_bucket`` it is
    derived from the stored fingerprints and the rewrite produces the
    current layout.

    Concurrency contract: run while the ingest stream is STOPPED (or
    between triggers with the trigger paused) — the job reads, rewrites
    to a temp path, and atomically swaps directories, so rows appended
    between the read and the swap would be lost. Idempotent: re-running
    on a compacted store rewrites the identical content.

    Returns {"rows", "files_before", "files_after"} so operators can
    log/alert on the reclaim.
    """
    restore_stranded(spark, corpus_path)
    files_before = count_part_files(corpus_path)
    store = spark.read.parquet(corpus_path)
    if "fp_bucket" not in store.columns:
        store = store.withColumn(
            "fp_bucket", F.substring("fingerprint", 1, 2)
        )
    n_parts = 256 * files_per_bucket
    if files_per_bucket == 1:
        # hash-repartition on the bucket key alone: each of the 256
        # buckets lands wholly in one task, so partitionBy emits
        # exactly one file per bucket
        compacted = store.repartition(n_parts, "fp_bucket")
    else:
        # RANGE repartition on (fp_bucket, fingerprint): each task
        # holds one contiguous (bucket, fingerprint) slice, so a
        # bucket's rows span ~files_per_bucket ADJACENT tasks — the
        # write emits a bounded number of files per bucket whose
        # fingerprint runs are contiguous and non-overlapping. (A hash
        # repartition on the pair — the r06 formulation — scattered
        # every bucket across essentially all tasks: up to n_parts
        # overlapping files PER bucket, defeating both the file-count
        # bound and min/max page skipping.)
        compacted = store.repartitionByRange(
            n_parts, "fp_bucket", "fingerprint"
        )
    compacted = compacted.sortWithinPartitions("fp_bucket", "fingerprint")
    rows = compacted.count()

    swap_in(
        spark,
        corpus_path,
        lambda tmp: compacted.write.partitionBy("fp_bucket").parquet(tmp),
    )
    return {
        "rows": rows,
        "files_before": files_before,
        "files_after": count_part_files(corpus_path),
    }


def start_dedup_ingest_sink(
    stream: DataFrame,
    corpus_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger_seconds: int | None = None,
    compact_files_threshold: int | None = None,
):
    """Attach the dedup-ingest body to a document stream. The target is
    an append-only store in which every fingerprint occurs exactly once
    across the whole stream lifetime — the corpus a trainer reads.

    ``compact_files_threshold`` arms auto-compaction: after each
    micro-batch append, if the store's part-file count exceeds the
    threshold, `compact_dedup_store` runs before the batch returns —
    i.e. between triggers, where the stop-the-stream contract holds by
    construction (this sink is the store's only writer, and the next
    trigger cannot start until foreachBatch returns). That bounds both
    file-listing cost and the probe's page-skipping quality over the
    stream's lifetime instead of leaving compaction to an external
    maintenance window."""

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        dedup_ingest_batch(batch_df, corpus_path, id_col, text_col)
        if compact_files_threshold is not None:
            maybe_compact(
                batch_df.sparkSession, corpus_path, compact_files_threshold
            )

    return start_sink(stream, checkpoint_path, apply, trigger_seconds)
