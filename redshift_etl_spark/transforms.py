"""Normalize layer — the reference's transform stage (SURVEY §2.2 P1/P2,
§2.7 T1–T7) as one declarative operator.

The reference does this per-object in pandas: project a keep-list,
lowercase headers, coerce datetimes/booleans/numerics/strings
(`Salesforce/Task/lambda_litify_task.py:59-114`,
`Salesforce/Matter/lambda_litify_matter.py:74-303`). Here it is a single
``normalize(df, schema)`` that emits one projection — one node Catalyst
pushes into the scan, no per-column withColumn chains — and builds it as
SQL text in ONE ``selectExpr`` call from the per-class templates in
`functions`. Column algebra would cost several py4j round trips per
``F.*`` call (PySpark records each call site): ~10,000 round trips and
1.2–1.6 s of Python-side planning for a 120-column object, against one
call here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import functions as fx
from .schemas import (
    BOOL01,
    DATE_DDMMYYYY,
    FLOAT0,
    INT0,
    STRING,
    TIMESTAMP,
    ObjectSchema,
)

_COERCE_SQL = {
    TIMESTAMP: fx.TS_OR_NULL_SQL,
    BOOL01: fx.BOOL01_SQL,
    INT0: fx.INT0_SQL,
    FLOAT0: fx.FLOAT0_SQL,
    DATE_DDMMYYYY: fx.DDMMYYYY_SQL,
    # '' → NULL end-to-end (T6 + COPY EMPTYASNULL)
    STRING: fx.NULL_IF_BLANK_SQL,
}


def lowercase_columns(df: DataFrame) -> DataFrame:
    """P2 — `Salesforce/Task/lambda_litify_task.py:113`."""
    return df.toDF(*[c.lower() for c in df.columns])


def normalize(df: DataFrame, schema: ObjectSchema, strict: bool = False) -> DataFrame:
    """Project to the schema's keep-list (P1), lowercase (P2), and coerce
    every column per its class (T1–T7) in ONE select, built as SQL text
    (identifiers backtick-quoted, so any source header works).

    Missing source columns are tolerated (the reference guards each
    boolean with ``if field in df.columns``,
    `Salesforce/Matter/lambda_litify_matter.py:287`): absent → typed NULL
    column unless ``strict``.
    """
    present = {c.lower(): c for c in df.columns}
    exprs: list[str] = []
    for name, cls in schema.fields.items():
        if name in present:
            operand = fx.quote(present[name])
        elif strict:
            raise ValueError(f"{schema.name}: missing required column {name!r}")
        else:
            # absent column ⇒ coerce a NULL through the class rules, so
            # defaults apply (bool→0, int→0, float→0.0, string/ts→NULL)
            operand = "CAST(NULL AS STRING)"
        exprs.append(f"{_COERCE_SQL[cls].format(operand)} AS {fx.quote(name)}")
    return df.selectExpr(*exprs)


def observed(
    df: DataFrame,
    name: str,
    null_cols: tuple[str, ...] = (),
):
    """Attach zero-cost pipeline metrics: row count plus a null count
    per requested column, gathered DURING the next action on the
    returned frame — no second scan, no collect.

    This is the engine's replacement for the reference's print-based
    observability (`Procesando CSV: {key}` + row-count prints, SURVEY
    §5): the reference pays a pandas `len(df)` on the driver; `observe`
    rides the existing job as accumulator-style metrics, which is the
    only observability pattern that survives a 1000-executor run.

    Returns ``(df, observation)``; read ``observation.get`` after an
    action. Works in batch; for streams use the listener-based variant
    of the same API.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c in null_cols:
        metrics.append(
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"n_null_{c}")
        )
    return df.observe(obs, *metrics), obs
