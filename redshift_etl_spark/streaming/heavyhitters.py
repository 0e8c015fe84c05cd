"""Streaming top-k monitor — per-micro-batch heavy-hitter summaries
maintained in a batch-partitioned store, with the global top-k (and its
error BOUNDS) computed FROM THE STORE (`heavy.heavy_hitters` is the
batch Misra–Gries form over one static population; this is the
continuous form an ingest pipeline runs: every trigger writes its
above-floor counts, and the monitor asks "what are the hottest keys so
far?" without re-scanning history).

Summary per batch: the batch's EXACT per-item counts for items with
n ≥ floor, plus ONE spill row carrying the total mass below the floor.
That is a mergeable summary with classical SpaceSaving-style bounds:
for any item, its true total lies in

    [ lower, lower + (floor − 1) · n_batches_absent ]

where ``lower`` is the sum of its stored counts and an absent batch can
hide at most floor − 1 occurrences. The report carries both ends, so a
consumer knows exactly how much the floor cost.

Exactly-once: the store is partitioned by batch_id (the epoch) and a
batch overwrites only its own partition (`store.overwrite_epoch`), so a
crash-replayed batch rewrites the identical summary in place.

Scale shape per trigger: ONE map-side-combined hash agg of the batch,
a floor filter (store grows by |above-floor items| + 1 rows per
trigger — monitoring state, not data), one partition overwrite. The
from-store top-k aggregates the store (monitoring-state-sized) and
TakeOrders k rows.

Determinism: counts are exact BIGINTs; ordering is (lower desc, item
asc) — the store fixture is oracled by `stream_topk_probe`, whose SQL
twin recomputes the same summaries from the raw events, so a lost,
duplicated, or double-counted batch hash-mismatches immediately.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .store import overwrite_epoch, start_sink


def topk_ingest_batch(
    batch_df: DataFrame,
    store_path: str,
    batch_id: int,
    item_col: Column | str,
    floor: int,
) -> None:
    """One micro-batch body: exact item counts, keep n >= floor, fold
    the below-floor mass into one spill row (item NULL, is_spill), and
    overwrite partition batch_id of the store (a replay rewrites it)."""
    c = F.col(item_col) if isinstance(item_col, str) else item_col
    counts = (
        batch_df.select(c.cast("string").alias("item"))
        .where(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    kept = counts.where(F.col("n") >= floor).select(
        "item", "n", F.lit(False).alias("is_spill")
    )
    spill = counts.where(F.col("n") < floor).agg(
        F.lit(None).cast("string").alias("item"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n"),
        F.lit(True).alias("is_spill"),
    )
    overwrite_epoch(kept.unionByName(spill), store_path, batch_id, "batch_id")


def start_topk_sink(
    stream: DataFrame,
    store_path: str,
    checkpoint_path: str,
    item_col: Column | str,
    floor: int,
    trigger_seconds: int | None = None,
):
    """Attach the summary-maintenance body to a stream; the epoch id is
    the batch key. A store written from another checkpoint is refused
    (`store.StoreCheckpointMismatch`)."""

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        topk_ingest_batch(batch_df, store_path, int(epoch_id), item_col, floor)

    return start_sink(stream, checkpoint_path, apply, trigger_seconds,
                      epoch_store=store_path, epoch_col="batch_id")


def topk_from_store(store: DataFrame, k: int, floor: int) -> DataFrame:
    """Global top-k heavy hitters from the STORED summaries only:
    lower = sum of the item's stored counts; upper = lower +
    (floor − 1) · (batches the item is absent from) — each absent
    batch can hide at most floor − 1 occurrences. Ranked by (lower
    desc, item asc); TakeOrdered-shaped. Returns (item, lower_bound,
    upper_bound, batches_present, n_batches) — n_batches beside the
    bounds so the report is self-describing."""
    n_batches = store.select("batch_id").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_batches")
    )
    items = (
        store.where(~F.col("is_spill"))
        .groupBy("item")
        .agg(
            F.sum("n").cast("long").alias("lower_bound"),
            F.count(F.lit(1)).cast("long").alias("batches_present"),
        )
    )
    out = items.crossJoin(F.broadcast(n_batches))
    upper = (
        F.col("lower_bound")
        + F.lit(int(floor) - 1)
        * (F.col("n_batches") - F.col("batches_present"))
    ).cast("long")
    return (
        out.select(
            "item",
            "lower_bound",
            upper.alias("upper_bound"),
            "batches_present",
            "n_batches",
        )
        .orderBy(F.col("lower_bound").desc(), F.col("item").asc())
        .limit(int(k))
    )
