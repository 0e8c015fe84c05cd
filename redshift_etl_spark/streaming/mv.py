"""Continuously-maintained aggregate view over a stream.

`operators/mv.maintain_agg_mv` gives batch pipelines delta-cost MV
refresh; this sink gives the same to a stream: every micro-batch folds
into the stored aggregate, so the view is always fresh at delta cost.

The hazard is replay: foreachBatch re-delivers a batch after a crash,
and folding an aggregate twice DOUBLE-COUNTS (sums carry no identity).
So the view is a versioned table (read it with
`versioned.read_current`) fed by the versioned merge sink's apply-once
body: each fold commits its snapshot and its (stream id, epoch) in one
record, so a replayed epoch sees itself and no-ops (Delta's
txnAppId/txnVersion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators import mv as MV
from ..sources import versioned as V


def _folder(view_path: str, keys, sum_cols, min_cols, max_cols):
    """fold(batch, version read) → the next view snapshot: the first
    fold aggregates the batch, later folds merge it into the version
    the commit will compare against."""
    spec = dict(
        keys=list(keys),
        sum_cols=list(sum_cols),
        min_cols=list(min_cols),
        max_cols=list(max_cols),
    )

    def fold(batch_df: DataFrame, read: int | None) -> DataFrame:
        if read is None:
            return MV.agg_mv(batch_df, **spec)
        # every fold is a full snapshot: keep the two newest (vacuum
        # never drops the current one) so a long stream's storage stays
        # bounded, as the single overwritten view directory was
        V.vacuum(view_path, keep=2)
        stored = V.read_version(batch_df.sparkSession, view_path, read)
        return MV.maintain_agg_mv(stored, batch_df, **spec)

    return fold


def fold_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    view_path: str,
    keys,
    sum_cols=(),
    min_cols=(),
    max_cols=(),
) -> bool:
    """One micro-batch body (module-level so tests can drive replay
    directly): fold the batch into the stored view unless epoch
    ``epoch_id`` is already applied. Returns True when the fold ran.
    `start_mv_sink` scopes epochs by a stream id derived from its
    checkpoint path, so a fresh checkpoint's epochs (restarting at 0)
    are never mistaken for replays."""
    fold = _folder(view_path, keys, sum_cols, min_cols, max_cols)
    return V._apply_once(view_path, "", epoch_id, fold, batch_df)


def start_mv_sink(
    stream: DataFrame,
    view_path: str,
    checkpoint_path: str,
    keys,
    sum_cols=(),
    min_cols=(),
    max_cols=(),
    trigger_seconds: int | None = None,
):
    """Attach the incremental-MV fold to a stream. The current snapshot
    at ``view_path`` is always a complete, consistent aggregate of
    every micro-batch applied exactly once (checkpoint + the commit
    record's stream position)."""
    fold = _folder(view_path, keys, sum_cols, min_cols, max_cols)
    return V._start_sink(stream, view_path, checkpoint_path, fold, trigger_seconds)
