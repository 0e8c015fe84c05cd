"""Pipeline facade — the reference's nine pipelines (SURVEY table P1–P9)
as engine entry points. A user of the reference maps each Lambda +
stored-procedure pair to one function here; everything below compiles
to the operators in this package (no new semantics).

| Ref | Function here | Reference entry point |
|-----|---------------|----------------------|
| P1–P3 | ``salesforce_ingest``  | `Salesforce/*/lambda_litify_*.py` + `SP_litify_*.sql` |
| P4  | ``ctr_stream``          | `…CTR with Firehose/lambda_connect_firehose_redshift.py` |
| P5  | ``ctr_backfill``        | `…CTR with boto3/lambda_boto3_connect_redshift.py` + SP |
| P6  | ``agent_metrics_ingest``| `Amazon Connect/connect_agent_metrics.py` |
| P7  | ``dim_upsert``          | `…/lambda_connect_user_upsert.py`, `…queue_upsert.py` |
| P8  | ``sheet_ingest``        | `Google Sheets/Employee/lambda_legal_employee_upsert.py` + SP |
| P9  | ``goals_upsert``        | `Google Sheets/Goals/lambda_legal_goals_upsert.py` |
| Q1/Q2 | ``queries/agent_metrics`` | `Amazon Connect/Views/*` |
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import schemas as S
from .operators import merge as M
from .sources import batch, rest
from .streaming import ctr as ctr_stream_mod


def salesforce_ingest(
    spark: SparkSession,
    csv_paths: str | Sequence[str],
    object_schema: S.ObjectSchema,
    target: DataFrame,
) -> DataFrame:
    """P1–P3: differential CSV backups → normalize → SCD1 merge.

    One distributed read over ALL new folders (the reference loops
    folders serially, one CSV + one COPY + one MERGE each); the single
    merge at the end replaces N stored-procedure calls. Returns the
    merged table, lazily. The caller commits it
    (``versioned.write_version`` lands it as a new snapshot;
    ``versioned.merge_scd1_version`` does read-merge-commit in one
    step) and only AFTER that commit marks the folders processed
    (``checkpoint.PathCheckpoint.mark_processed``): marked before, a
    failed write would leave them marked and never ingested again.
    """
    src = batch.read_csv_object(spark, csv_paths, object_schema)
    return M.merge_scd1(
        target, src, list(object_schema.key), object_schema.recency_col
    )


def ctr_stream(
    spark: SparkSession,
    input_path: str,
    target_path: str,
    checkpoint_path: str,
    watermark: str = "1 hour",
    trigger_seconds: int | None = None,
):
    """P4: the Firehose CTR stream end-to-end; returns the running
    StreamingQuery."""
    stream = ctr_stream_mod.build_ctr_stream(spark, input_path, watermark=watermark)
    return ctr_stream_mod.start_append_sink(
        stream, target_path, checkpoint_path, trigger_seconds
    )


def previous_interval_bounds(
    now_local: datetime, hours: int = 2
) -> tuple[datetime, datetime, str]:
    """P5 helper — the reference's 2-hour extraction window
    (`…CTR with boto3/lambda_boto3_connect_redshift.py:30-55`), but
    HALF-OPEN [start, end) instead of the reference's overlapping
    ``+1 second`` closed window (SURVEY §7 risk 6 — the overlap relied
    on downstream dedup). Returns (start, end, "HH-HH" label) in the
    input's timezone; midnight wrap matches the reference (22-00).
    """
    anchor = now_local.replace(minute=0, second=0, microsecond=0)
    start = anchor - timedelta(hours=hours)
    label = f"{start.hour:02d}-{anchor.hour:02d}"
    return start, anchor, label


def ctr_backfill(
    spark: SparkSession,
    fetch_page: Callable[[str | None], tuple[list[dict], str | None]],
    fact: DataFrame,
    schema: T.StructType | None = None,
) -> DataFrame:
    """P5: paginated search_contacts fetch → anti-join append into the
    call fact. ``fetch_page(token) -> (rows, next_token)`` abstracts the
    API client (ST6 retry wraps it via ``sources.rest.with_retry``)."""
    rows: list[dict] = []
    token: str | None = None
    while True:
        page, token = fetch_page(token)
        rows.extend(page)
        if not token:
            break
    staged = rest.rows_to_df(spark, rows, schema or S.F_CALLS.spark_schema())
    # P3 analog: incomplete calls (no disconnect) are excluded
    staged = staged.filter(staged.disconn_time.isNotNull())
    return M.append_new(fact, staged, list(S.F_CALLS.key))


def agent_metrics_ingest(
    spark: SparkSession,
    metric_rows: Iterable[dict],
    schema: T.StructType,
    target: DataFrame,
) -> DataFrame:
    """P6: pre-pivoted wide metric rows (one per agent × interval) →
    append. The pivot itself, when starting from long metric rows, is
    the A8 operator (`queries/relational.events_pivot` shape)."""
    staged = rest.rows_to_df(spark, metric_rows, schema)
    return target.unionByName(staged)


def dim_upsert(
    spark: SparkSession,
    rows: Iterable[dict],
    dim_schema: S.ObjectSchema,
    target: DataFrame,
) -> DataFrame:
    """P7: dimension snapshot → SCD1 merge (replaces the reference's
    row-by-row SELECT-then-UPDATE/INSERT probes — never row-at-a-time)."""
    staged = rest.rows_to_df(spark, rows, dim_schema.spark_schema())
    return M.merge_scd1(
        target, staged, list(dim_schema.key), dim_schema.recency_col
    )


def sheet_ingest(
    spark: SparkSession,
    sheet_rows: Iterable[dict],
    target: DataFrame,
) -> DataFrame:
    """P8: Google-Sheets employee rows → normalize (DD/MM/YYYY dates,
    blank→NULL — F9/F10) → SCD1 merge on email."""
    raw = spark.createDataFrame(list(sheet_rows))
    from .transforms import normalize

    staged = normalize(raw, S.EMPLOYEE)
    return M.merge_scd1(target, staged, list(S.EMPLOYEE.key), "lastmodifieddate")


def goals_upsert(
    spark: SparkSession,
    sheet_rows: Iterable[dict],
    target: DataFrame,
) -> DataFrame:
    """P9: composite-key (email, week) update-if-changed upsert."""
    staged = rest.rows_to_df(spark, sheet_rows, S.GOALS.spark_schema())
    return M.upsert_if_changed(
        target, staged, list(S.GOALS.key), compare_cols=["goal"]
    )

