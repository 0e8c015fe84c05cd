"""Streaming corpus-quality monitor — the observability sink a
continuous ingest pipeline runs NEXT TO its data sink: every
micro-batch writes one metrics row (volume, token mass, Gopher keep
share) keyed by epoch, so drift in incoming quality is visible while
the corpus is still being written.

Exactly-once: the metrics table is partitioned BY EPOCH and each batch
overwrites only its own epoch partition (`store.overwrite_epoch`) — a
crash-replayed batch rewrites the identical row in place (same input,
deterministic metrics), so no ledger is read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import text as TX
from .store import overwrite_epoch, start_sink


def epoch_quality_metrics(
    batch_df: DataFrame, id_col: str, text_col: str, epoch_id: int
) -> DataFrame:
    """One metrics row for a micro-batch: (epoch, n_docs, n_tokens,
    n_keep, keep_share). Exact integers + one IEEE division; empty
    batches produce n_docs = 0 and NULL keep_share (no keep rate is
    not a 0% keep rate)."""
    keep = TX.gopher_rules(batch_df, id_col, text_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_tokens"),
        F.sum("keep").cast("long").alias("n_keep"),
    )
    return keep.select(
        F.lit(int(epoch_id)).cast("long").alias("epoch"),
        F.coalesce(F.col("n_docs"), F.lit(0).cast("long")).alias("n_docs"),
        "n_tokens",
        "n_keep",
        F.when(
            F.col("n_docs") > 0,
            F.col("n_keep") / F.col("n_docs").cast("double"),
        ).alias("keep_share"),
    )


def apply_quality_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    metrics_path: str,
    id_col: str,
    text_col: str,
) -> None:
    """One foreachBatch body (module-level so tests can drive replay
    directly): overwrite this epoch's partition of the metrics table.
    Replaying the same epoch rewrites the identical partition."""
    metrics = epoch_quality_metrics(batch_df, id_col, text_col, epoch_id)
    overwrite_epoch(metrics.coalesce(1), metrics_path, epoch_id)


def start_quality_monitor_sink(
    stream: DataFrame,
    metrics_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Attach the monitor to a streaming DataFrame of documents.
    Runs alongside the real data sink (a second writeStream on the
    same source), so quality observability never blocks ingest. A
    metrics table written from another checkpoint is refused
    (`store.StoreCheckpointMismatch`)."""

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        apply_quality_epoch(
            batch_df, epoch_id, metrics_path, id_col, text_col
        )

    return start_sink(stream, checkpoint_dir, apply, epoch_store=metrics_path)


def read_monitor(spark, metrics_path: str) -> DataFrame:
    """The metrics table, one row per applied epoch."""
    return spark.read.parquet(metrics_path)


def quality_trend(
    df: DataFrame, id_col: str, text_col: str, epoch_col: str
) -> DataFrame:
    """Batch form of the monitor's metrics over an epoch-keyed corpus,
    plus drift: the SAME exact-integer per-epoch metrics the streaming
    sink writes (n_docs, n_tokens, n_keep, keep_share), with each
    epoch's keep_share delta vs the previous epoch — the report an
    analyst runs over `read_monitor`'s table, expressed directly over
    the documents so it is oracle-checkable end to end (including the
    Gopher screens the stream applies per batch).

    Plan: one zero-shuffle Gopher projection (epoch carried through,
    no reattach join), one hash aggregate to epoch grain, then a lag
    window over the one-row-per-epoch frame — unpartitioned by
    construction but bounded by the epoch count, never by data volume.
    keep_share and its delta are IEEE operations on exact BIGINTs, so
    every value is engine- and partitioning-exact."""
    from pyspark.sql import Window

    per_doc = TX.gopher_rules(df, id_col, text_col, carry=(epoch_col,))
    per_epoch = per_doc.groupBy(epoch_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_tokens"),
        F.sum("keep").cast("long").alias("n_keep"),
    )
    share = F.col("n_keep") / F.col("n_docs").cast("double")
    w = Window.orderBy(epoch_col)
    return (
        per_epoch.withColumn("__share", share)
        .select(
            F.col(epoch_col).alias("epoch"),
            "n_docs",
            "n_tokens",
            "n_keep",
            F.round(F.col("__share"), 6).alias("keep_share"),
            F.round(
                F.col("__share") - F.lag("__share").over(w), 6
            ).alias("keep_share_delta"),
        )
        .orderBy("epoch")
    )
