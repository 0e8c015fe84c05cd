"""Testdata table access.

All queries take an ``sf_dir`` pointing at the driver's parquet tables
(TESTDATA.md). Reads are bare ``spark.read.parquet`` — schema lives in
the footer, and Catalyst handles column pruning + predicate pushdown, so
a query that touches 2 columns scans 2 columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Columns stored as TIMESTAMP(NANOS) in the driver parquet. Spark's
# reader has no nanos type, so the session sets
# `spark.sql.legacy.parquet.nanosAsLong` and we convert here —
# floor-division to micros, the same truncation DuckDB applies.
_NANOS_TS = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def _ensure_conf(spark: SparkSession) -> None:
    """Make a caller-provided session (e.g. the driver's) read the
    testdata correctly: nanos timestamps as long (converted below) and
    UTC session timezone so wall-clock values match the DuckDB oracle.
    Both are runtime-settable SQL confs."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# Per-session plan memo (r13 optimization, guide §6 "file listing" /
# §1.2 per-task work at the driver): `spark.read.parquet` re-infers the
# footer schema on EVERY call (~85 ms/table measured — ~1 s for a
# 10-table register_tables), and the bench/driver call `load` a few
# hundred times per run. The memo keys on the session's applicationId,
# so a stopped-and-restarted session never sees a stale plan, and it
# stores only the ANALYZED PLAN (schema + file listing) — never data:
# every action against the returned frame still scans the parquet
# files, so this is a catalog, not a result cache. Testdata is
# immutable within a driver/bench session by contract (TESTDATA.md).
# A miss drops the entries of stopped applications (`keep_live`).
_LOAD_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def keep_live(memo: dict, app_id: str) -> None:
    """Drop from ``memo`` (keyed on tuples that start with an
    application id) every entry of an application other than
    ``app_id``. A Python process runs one SparkContext at a time, so
    those entries belong to stopped sessions and can never hit again."""
    for key in list(memo):
        if key[0] != app_id:
            memo.pop(key, None)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir.rstrip("/"), name)
    _ensure_conf(spark)  # cheap; every load() kept this side effect
    hit = _LOAD_MEMO.get(key)
    if hit is not None:
        return hit
    keep_live(_LOAD_MEMO, key[0])
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    for col in _NANOS_TS.get(name, ()):
        dt = df.schema[col].dataType
        if isinstance(dt, T.LongType):
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"`{col}` div 1000"))
            )
        elif isinstance(dt, T.TimestampNTZType):
            # writer-dependent: some testdata generations store micros
            # NTZ instead of nanos-long. Canonicalize to TIMESTAMP so
            # every downstream epoch/tz function sees one type; session
            # tz is UTC, so the wall-clock value is preserved.
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    _LOAD_MEMO[key] = df
    return df
