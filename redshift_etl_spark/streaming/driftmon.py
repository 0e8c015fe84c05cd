"""Streaming drift monitor — per-micro-batch binned histograms of a
metric column maintained in a batch-partitioned store, with PSI against
a reference batch computed FROM THE STORE (`quality.psi_report` is the
batch form over two static populations; this is the continuous form a
serving/ingest pipeline runs: every trigger writes its histogram, and
the monitor asks "how far has the distribution walked from the
reference?" without ever re-scanning history — the histograms are the
sufficient statistic, ~|bins| rows per batch).

Exactly-once: the store is partitioned by batch_id (the epoch) and a
batch overwrites only its own partition (`store.overwrite_epoch`), so a
crash-replayed batch rewrites the identical histogram in place.

Scale shape per trigger: ONE map-side-combined hash agg of the batch to
≤ |bins| rows, one partition overwrite. The store grows by |bins| rows
per trigger — monitoring state, not data. PSI-from-store joins
|bins|-sized frames only.

Determinism: counts are exact BIGINTs; PSI terms follow the
`quality.psi_report` picounit discipline (each term fixed to the 1e-12
grid in BIGINT before the associative sum), so the monitor's numbers
hash-match a from-scratch recomputation — the store fixture is oracled
by `stream_drift_probe`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .store import overwrite_epoch, start_sink

PICO = 10**12


def drift_ingest_batch(
    batch_df: DataFrame,
    store_path: str,
    batch_id: int,
    bin_col: Column,
) -> None:
    """One micro-batch body: bin the batch, aggregate exact counts,
    overwrite partition batch_id of the store (a replay rewrites it)."""
    hist = (
        batch_df.select(bin_col.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    overwrite_epoch(hist, store_path, batch_id, "batch_id")


def start_drift_sink(
    stream: DataFrame,
    store_path: str,
    checkpoint_path: str,
    bin_col: Column,
    trigger_seconds: int | None = None,
):
    """Attach the histogram-maintenance body to a stream; the epoch id
    is the batch key. A store written from another checkpoint is
    refused (`store.StoreCheckpointMismatch`)."""

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        drift_ingest_batch(batch_df, store_path, int(epoch_id), bin_col)

    return start_sink(stream, checkpoint_path, apply, trigger_seconds,
                      epoch_store=store_path, epoch_col="batch_id")


def psi_from_store(
    store: DataFrame,
    ref_batch: int = 0,
) -> DataFrame:
    """PSI of every non-reference batch against the reference batch,
    computed from the STORED histograms only. The comparison frame is
    the explicit (batch x bin) grid — batches crossed with the union
    of observed bins, both bounded monitoring-state frames — left
    joined to the stored counts, so a bin missing on EITHER side of
    any batch is correctly that batch's one-sided bin. Shares from
    exact counts, picounit-fixed terms, ONE integer sum per batch.
    One-sided bins are excluded from the total and counted
    (`n_onesided_bins`). Returns one row per non-reference batch:
    (batch_id, n_bins_common, n_onesided_bins, psi_total), ordered."""
    ref = store.where(F.col("batch_id") == ref_batch).select(
        "bin", F.col("n").alias("n_r")
    )
    ref_tot = ref.agg(F.sum("n_r").cast("long").alias("__tr"))
    cur = store.where(F.col("batch_id") != ref_batch).select(
        "batch_id", "bin", "n"
    )
    cur_tot = cur.groupBy("batch_id").agg(
        F.sum("n").cast("long").alias("__tc")
    )
    bins = store.select("bin").distinct()
    grid = cur_tot.select("batch_id").crossJoin(bins)  # bounded x bounded
    full = (
        grid.join(cur, ["batch_id", "bin"], "left")
        .join(ref, "bin", "left")
        .crossJoin(F.broadcast(ref_tot))
        .join(cur_tot, "batch_id")
    )
    p_c = F.col("n").cast("double") / F.col("__tc").cast("double")
    p_r = F.col("n_r").cast("double") / F.col("__tr").cast("double")
    ok = (
        F.col("n").isNotNull()
        & F.col("n_r").isNotNull()
        & (F.col("n") > 0)
        & (F.col("n_r") > 0)
    )
    pico = F.when(
        ok, F.round((p_c - p_r) * F.log(p_c / p_r) * PICO).cast("long")
    )
    # a bin in the grid but on NEITHER side of this batch is not a bin
    # of this comparison at all (it came from some other batch) — drop
    present = F.col("n").isNotNull() | F.col("n_r").isNotNull()
    terms = full.where(present).select("batch_id", pico.alias("__pico"))
    return (
        terms.groupBy("batch_id")
        .agg(
            F.coalesce(F.sum(F.when(F.col("__pico").isNotNull(), 1)), F.lit(0))
            .cast("long")
            .alias("n_bins_common"),
            F.coalesce(F.sum(F.when(F.col("__pico").isNull(), 1)), F.lit(0))
            .cast("long")
            .alias("n_onesided_bins"),
            (
                F.coalesce(F.sum("__pico"), F.lit(0)).cast("double") / PICO
            ).alias("psi_total"),
        )
        .orderBy("batch_id")
    )
