"""Streaming CTR pipeline — the reference's Firehose transform Lambda
(SURVEY §2.8 ST1/ST2; `Amazon Connect/Amazon Connect CTR with Firehose/
lambda_connect_firehose_redshift.py`) as Structured Streaming.

Reference flow per record: base64-decode → JSON parse (malformed →
Dropped) → require ContactId → DynamoDB conditional-put dedup → flatten
Agent/Queue/CustomerEndpoint + parse 8 UTC timestamps → re-encode → Ok.

Spark-first mapping:
- decode/parse/flatten  → one `select` over `from_json` (PERMISSIVE:
  malformed → NULL struct → filtered, the Dropped path)
- DynamoDB dedup        → `withWatermark(...).dropDuplicatesWithinWatermark`
  — state store replaces the external table; the watermark BOUNDS the
  state the reference leaves unbounded (documented semantic delta:
  duplicates older than the horizon pass; configurable). The plain
  `dropDuplicates` would NOT bound state keyed on contact_id alone —
  see `dedup_stream`.
- Firehose buffering    → micro-batch trigger
- Redshift COPY         → `foreachBatch` → per-epoch parquet overwrite
  (`start_append_sink`)

Every transformation is also usable in BATCH mode on a static frame —
`parse_ctr_records`/`flatten_ctr` take any DataFrame with a `data`
column, which is how the oracle-checked tests drive them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import functions as fx
from ..schemas import CTR_JSON_SCHEMA
from .store import overwrite_epoch, start_sink


def parse_ctr_records(records: DataFrame, data_col: str = "data") -> DataFrame:
    """ST1 stage 1 — base64 payloads → parsed JSON struct. Malformed or
    empty payloads yield a NULL struct (PERMISSIVE), preserved here so
    the caller can route them to a dead-letter sink (P4)."""
    return records.withColumn(
        "ctr",
        F.from_json(fx.b64_decode_str(F.col(data_col)), CTR_JSON_SCHEMA),
    )


def _ts(path: str) -> Column:
    """UTC ISO-Z string at struct path → NY-naive timestamp (F7+F8)."""
    return fx.parse_ctr_timestamp(F.col(path))


def flatten_ctr(parsed: DataFrame) -> DataFrame:
    """ST1 stage 2 — nested CTR → the 20-col f_calls shape (F11/F14/F15;
    flatten map at `…/lambda_connect_firehose_redshift.py:91-126`).
    Records without a ContactId are dropped (the reference's second
    Dropped path, `:71-79`)."""
    return parsed.filter(F.col("ctr.ContactId").isNotNull()).select(
        F.col("ctr.ContactId").alias("contact_id"),
        F.col("ctr.InitialContactId").alias("init_contact_id"),
        F.col("ctr.PreviousContactId").alias("prev_contact_id"),
        F.col("ctr.Channel").alias("channel"),
        F.col("ctr.InitiationMethod").alias("init_method"),
        _ts("ctr.InitiationTimestamp").alias("init_time"),
        _ts("ctr.DisconnectTimestamp").alias("disconn_time"),
        _ts("ctr.Agent.ConnectedToAgentTimestamp").alias("agent_conn"),
        fx.id_from_arn(F.col("ctr.Agent.ARN")).alias("agent_id"),
        F.col("ctr.Agent.Username").alias("agent_username"),
        _ts("ctr.Agent.AfterContactWorkStartTimestamp").alias("agent_afw_start"),
        _ts("ctr.Agent.AfterContactWorkEndTimestamp").alias("agent_afw_end"),
        fx.with_default(F.col("ctr.Agent.AfterContactWorkDuration"), 0).alias(
            "agent_afw_duration"
        ),
        fx.with_default(F.col("ctr.Agent.AgentInteractionDuration"), 0).alias(
            "agent_interact_duration"
        ),
        fx.with_default(F.col("ctr.Agent.NumberOfHolds"), 0).alias("agent_holds"),
        fx.with_default(F.col("ctr.Agent.LongestHoldDuration"), 0).alias(
            "agent_longest_hold"
        ),
        fx.with_default(F.col("ctr.Agent.CustomerHoldDuration"), 0).alias(
            "customer_hold_duration"
        ),
        fx.id_from_arn(F.col("ctr.Queue.ARN"), "/queue/").alias("queue_id"),
        F.col("ctr.CustomerEndpoint.Address").alias("customer_phone"),
        fx.epoch_diff(
            _ts("ctr.DisconnectTimestamp"), _ts("ctr.InitiationTimestamp")
        ).cast("double").alias("contact_duration"),
    )


def dedup_stream(
    flat: DataFrame,
    watermark: str = "1 hour",
    event_time_col: str = "init_time",
) -> DataFrame:
    """ST2 — exactly-once-per-ContactId within the watermark horizon
    (replaces the DynamoDB conditional put, `:9-28`; horizon bounds the
    state the reference leaves unbounded).

    Uses ``dropDuplicatesWithinWatermark`` (Spark 3.5+), NOT
    ``dropDuplicates``: with a plain dropDuplicates the watermark only
    evicts dedup state when the event-time column is part of the key
    subset — keyed on contact_id alone the state store grows without
    bound, the exact failure the horizon exists to prevent. The
    WithinWatermark variant keys on contact_id and still expires each
    entry once the watermark passes its event time, so state is
    O(contacts per horizon) at any input scale. In batch mode (static
    frames in tests) it degrades to plain key-dedup semantics."""
    wm = flat.withWatermark(event_time_col, watermark)
    if flat.isStreaming:
        return wm.dropDuplicatesWithinWatermark(["contact_id"])
    return wm.dropDuplicates(["contact_id"])


def build_ctr_stream(
    spark,
    input_path: str,
    schema: str = "data string",
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """ST1 end-to-end on a file stream (Firehose stand-in: each file is
    a buffered batch of base64 records)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    records = reader.json(input_path)
    return dedup_stream(flatten_ctr(parse_ctr_records(records)), watermark)


def synth_ctr_payload(value: Column, ts: Column) -> Column:
    """Deterministic base64 CTR record from a rate-source row — the
    SAME wire format the Firehose Lambda receives (base64 JSON), so the
    full parse → flatten → dedup path runs unmodified against an
    unbounded source."""
    body = F.format_string(
        '{"ContactId":"c-%08d","Channel":"VOICE",'
        '"InitiationMethod":"INBOUND","InitiationTimestamp":"%s"}',
        value,
        F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'"),
    )
    return F.base64(body.cast("binary"))


def build_ctr_rate_stream(
    spark,
    rows_per_second: int = 100,
    dup_every: int = 10,
    watermark: str = "1 hour",
    num_partitions: int | None = None,
) -> DataFrame:
    """ST1 over a TRUE unbounded source (S10 — the Firehose semantics
    the file stand-in can't exercise): Spark's rate source drives
    trigger scheduling and backpressure (`rowsPerSecond` is the
    admission cap — the micro-batch engine sizes batches to it, the
    direct analog of Firehose buffer tuning; `numPartitions` the
    source-side parallelism). Every ``dup_every``-th record reuses the
    previous ContactId so the stateful dedup path is continuously
    exercised, not just on replays."""
    reader = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
    )
    if num_partitions:
        reader = reader.option("numPartitions", num_partitions)
    raw = reader.load()  # (timestamp, value)
    contact_no = F.when(
        (F.col("value") % dup_every == 0) & (F.col("value") > 0),
        F.col("value") - 1,
    ).otherwise(F.col("value"))
    records = raw.select(
        synth_ctr_payload(contact_no, F.col("timestamp")).alias("data")
    )
    return dedup_stream(flatten_ctr(parse_ctr_records(records)), watermark)


def start_append_sink(
    stream: DataFrame,
    target_path: str,
    checkpoint_path: str,
    trigger_seconds: int | None = None,
):
    """ST1 stage 3 — the COPY analog (`…/README.md:59-97`). Each
    micro-batch overwrites partition ``epoch=<id>`` of the fact (so the
    fact carries an ``epoch`` partition column): a batch the checkpoint
    replays after a crash lands once. A fact written from another
    checkpoint is refused (`store.StoreCheckpointMismatch`)."""

    def append(batch_df: DataFrame, epoch_id: int) -> None:
        overwrite_epoch(batch_df, target_path, epoch_id)

    return start_sink(stream, checkpoint_path, append, trigger_seconds,
                      epoch_store=target_path)
