"""Scalar function layer — the reference's entire scalar surface
(SURVEY §2.6 F1–F17) as composable Column functions.

Every one of these compiles to built-in Catalyst expressions (JVM-side,
whole-stage-codegen'd). No Python UDFs anywhere — the reference's custom
Python scalar logic (`parse_datetime`, `convert_date`, `handle_empty`,
truthy-set booleans) is all expressible as built-in compositions
(SURVEY §2.9).

The six per-class coercion rules (T1 and T3–T7) are written once, as SQL
templates over one operand ``{0}`` (a `quote`d column name or any SQL
expression): `transforms.normalize` pastes them into one ``selectExpr``
for a whole object. Text rather than Column algebra because every ``F.*`` call is several py4j round trips (PySpark
records the call site of each one); a 120-column Matter projection built
column by column cost ~10,000 round trips and more than a second of
planning time in Python before any job ran.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Canonical truthy set — `Salesforce/Matter/lambda_litify_matter.py:286-288`
# (variant B; SURVEY documents the task/user `astype(bool)` variant A as a
# reference bug where the string 'false' became 1 — not replicated).
TRUTHY = ("t", "T", "True", "true", "1")


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --- F1/F2: date parts -----------------------------------------------------

def date_of(col: Column | str) -> Column:
    """CAST(ts AS DATE) — `view_agent_metrics.sql:3`."""
    return F.to_date(_c(col))


def month_of(col: Column | str) -> Column:
    return F.month(_c(col)).cast("long")


def day_of(col: Column | str) -> Column:
    return F.dayofmonth(_c(col)).cast("long")


def hour_of(col: Column | str) -> Column:
    return F.hour(_c(col)).cast("long")


# --- F3/F16: epoch difference ---------------------------------------------

def epoch_diff(end: Column | str, start: Column | str) -> Column:
    """EXTRACT(EPOCH FROM a - b) — `view_agent_metrics.sql:19`,
    `…CTR with boto3/lambda_boto3_connect_redshift.py:141`."""
    return (F.unix_timestamp(_c(end)) - F.unix_timestamp(_c(start))).cast("long")


# --- F4: concat with Redshift || NULL semantics ---------------------------

def concat_strict(*cols: Column | str, sep: str = " ") -> Column:
    """Redshift ``a || ' ' || b``: NULL if any operand NULL —
    `view_agent_metrics.sql:9`. (Spark's concat_ws skips NULLs; concat
    propagates them, matching Redshift.)"""
    parts: list[Column] = []
    for i, col in enumerate(cols):
        if i:
            parts.append(F.lit(sep))
        parts.append(_c(col))
    return F.concat(*parts)


def concat_skip_nulls(*cols: Column | str, sep: str = " ") -> Column:
    """NULL-skipping variant (engine-canonical for display names)."""
    return F.concat_ws(sep, *[_c(c) for c in cols])


# --- F5/F6: round / typed division ----------------------------------------

def seconds_to_hours(col: Column | str) -> Column:
    """ROUND(x/3600::FLOAT, 2) — `view_agent_metrics.sql:16`."""
    return F.round(_c(col) / F.lit(3600.0), 2)


def seconds_to_minutes(col: Column | str) -> Column:
    """x/60::INT (truncating int division) — `view_agent_metrics.sql:17`."""
    return F.floor(_c(col) / F.lit(60)).cast("long")


# --- F7/F8: timestamp parse + timezone shift ------------------------------

ISO_Z = "yyyy-MM-dd'T'HH:mm:ss'Z'"


def parse_utc_iso(col: Column | str) -> Column:
    """Fixed-format UTC parse, invalid → NULL —
    `…CTR with Firehose/lambda_connect_firehose_redshift.py:30-39`.
    (try_ variant: Spark 4 runs ANSI mode, where to_timestamp throws.)"""
    return F.try_to_timestamp(_c(col), F.lit(ISO_Z))


def utc_to_local(col: Column | str, tz: str = "America/New_York") -> Column:
    """UTC → local wall-clock, tz dropped —
    `Amazon Connect/connect_agent_metrics.py:94-95`."""
    return F.from_utc_timestamp(_c(col), tz)


def parse_ctr_timestamp(col: Column | str, tz: str = "America/New_York") -> Column:
    """The composed reference ``parse_datetime``: ISO-Z parse then NY shift."""
    return utc_to_local(parse_utc_iso(col), tz)


# --- F11: substring after delimiter ---------------------------------------

def id_from_arn(col: Column | str, marker: str = "/agent/") -> Column:
    """`…CTR with Firehose/lambda_connect_firehose_redshift.py:107,116`
    (``arn.split("/agent/")[-1]``)."""
    return F.element_at(F.split(_c(col), marker), -1)


# --- F13: base64 -----------------------------------------------------------

def b64_decode_str(col: Column | str) -> Column:
    return F.unbase64(_c(col)).cast("string")


def b64_encode_str(col: Column | str) -> Column:
    return F.base64(_c(col).cast("binary"))


# --- F15: default-on-missing ----------------------------------------------

def with_default(col: Column | str, default) -> Column:
    """dict.get(k, default) — `…CTR with Firehose/…:109-125`."""
    return F.coalesce(_c(col), F.lit(default))


# --- T1, T3–T7: per-class coercion rules, as SQL templates ----------------

def quote(name: str) -> str:
    """A column name as a SQL identifier: backticked, with any backtick
    inside the name doubled."""
    return "`" + name.replace("`", "``") + "`"


# T1 — pd.to_datetime(errors='coerce') analog: ISO-ish parse, invalid → NULL
TS_OR_NULL_SQL = "TRY_CAST({0} AS TIMESTAMP)"
# T3 — truthy-set boolean → int 0/1
BOOL01_SQL = (
    "CASE WHEN CAST({0} AS STRING) IN ("
    + ", ".join(f"'{t}'" for t in TRUTHY)
    + ") THEN 1 ELSE 0 END"
)
# T4 — NaN/invalid → 0 (try_cast keeps garbage → NULL → 0; the second
# try_cast sends 'NaN', '±Infinity' and out-of-range values to 0 too,
# where an ANSI cast to BIGINT would fail the whole load)
INT0_SQL = "coalesce(TRY_CAST(TRY_CAST({0} AS DOUBLE) AS BIGINT), 0)"
# T5 — NaN/invalid → 0.0 (nanvl: the string 'NaN' casts to NaN, not NULL)
FLOAT0_SQL = "coalesce(nanvl(TRY_CAST({0} AS DOUBLE), NULL), 0.0D)"
# F9 — `Google Sheets/Employee/lambda_legal_employee_upsert.py:41-49`;
# invalid → NULL
DDMMYYYY_SQL = "CAST(try_to_timestamp({0}, 'd/M/yyyy') AS DATE)"
# F10/T6 — trim, empty/whitespace → NULL
# (`Google Sheets/Employee/lambda_legal_employee_upsert.py:51-55`)
NULL_IF_BLANK_SQL = "CASE WHEN trim({0}) = '' THEN NULL ELSE trim({0}) END"

