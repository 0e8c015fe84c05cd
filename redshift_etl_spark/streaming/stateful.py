"""Custom stateful streaming operator — continuous "new-or-newer" CDC.

The reference applies its change-detection predicate in batch: staging
⟕ target, keep rows where the target key is absent or the staged row
is strictly newer (`Salesforce/Task/SP_litify_task.sql:6-11`, SURVEY
P6/J1). This operator runs the same semantics CONTINUOUSLY on a
stream: per-key state remembers the newest recency value ever seen;
each micro-batch emits at most one row per key — its newest — and only
if strictly newer than the state. Downstream, the emitted rows ARE the
SCD1 delta: a foreachBatch body running `merge_scd1` applies them.

Not expressible with built-ins: `dropDuplicates` keeps the FIRST
arrival per key (and never re-emits), while SCD1 wants the LATEST and
must emit again whenever a genuinely newer version arrives. Hence
`applyInPandasWithState` (Arrow-batched per-key state, partitioned by
the grouping key — state scales horizontally with executors).

State size: one long (epoch µs) per key. An optional processing-time
TTL evicts idle keys — the same bounded-state delta vs the reference's
unbounded DynamoDB table that ST2 documents for `dropDuplicates`.

Operational note: with a TTL armed the engine schedules extra batches
to evaluate processing-time timeouts, so callers must not wait on
``processAllAvailable()`` (it never settles) — poll the sink instead.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_STATE_SCHEMA = "last_us long"


def changed_or_new_stream(
    df: DataFrame,
    key_col: str,
    recency_col: str,
    ttl_minutes: int | None = None,
) -> DataFrame:
    """Streaming new-or-newer filter over ``df`` (a streaming DataFrame
    whose ``recency_col`` is a timestamp). Emits the per-key newest row
    of each micro-batch iff strictly newer than all prior batches; rows
    with NULL recency and stale/duplicate versions are dropped."""
    out_schema = df.schema
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_minutes
        else GroupStateTimeout.NoTimeout
    )

    def fn(key, pdf_iter, state: GroupState) -> Iterator:
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        best = None  # newest row (1-row DataFrame) across the batch
        best_us = None
        for pdf in pdf_iter:
            pdf = pdf[pdf[recency_col].notna()]
            if pdf.empty:
                continue
            idx = pdf[recency_col].idxmax()
            cand_us = pd.Timestamp(pdf[recency_col][idx]).value // 1000
            if best_us is None or cand_us > best_us:
                best, best_us = pdf.loc[[idx]], cand_us
        if ttl_minutes:
            state.setTimeoutDuration(ttl_minutes * 60_000)
        if best is None:
            return
        last_us = state.get[0] if state.exists else None
        if last_us is None or best_us > last_us:
            state.update((best_us,))
            yield best

    return df.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, _STATE_SCHEMA, "update", timeout
    )
