"""Operator query catalog — one oracle-checked query per relational
operator family from SURVEY §2 (scans S, projections/filters P, joins J,
aggregations A, window/sort, scalar functions F, coercions T), expressed
over the driver testdata.

Each entry has a DataFrame builder (Spark-first, built-ins only) and an
ANSI-SQL oracle twin with IDENTICAL column names and canonical
semantics. Float policy (see queries/agent_metrics.py docstring):
per-row scalars need no rounding (bit-identical inputs); aggregate sums
are rounded at the data's native decimal granularity; ratios divide
already-rounded sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import merge as M
from ..operators import rangejoin as RJ
from ..operators import skew as SK
from .tables import load

QUERIES = {}
ORACLES = {}


def _q(name: str, oracle: str | None):
    # Bare dict writes silently shadow an earlier same-name query (this
    # bit three rounds running: shard_manifest, cdc_apply, and two dead
    # module-level defs) — collisions must fail at import time.
    def deco(fn):
        if name in QUERIES:  # raise, not assert: -O must not disable this
            raise ValueError(f"duplicate query registration: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# A2/A3/A6 — pricing summary (TPC-H Q1 shape; `view_agent_metrics.sql:15-35`
# aggregate family: SUM/AVG/MIN/MAX/COUNT + derived expressions)
# ---------------------------------------------------------------------------

@_q(
    "pricing_summary",
    """
SELECT
  l_returnflag,
  l_linestatus,
  ROUND(SUM(l_quantity), 2)                              AS sum_qty,
  ROUND(SUM(l_extendedprice), 2)                         AS sum_base_price,
  CAST(CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000)
       AS BIGINT)) AS BIGINT) AS DOUBLE) / 10000 AS sum_disc_price,
  CAST((CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax)
       * 1000000) AS BIGINT)) AS BIGINT) + 50) // 100 AS DOUBLE) / 10000
                                                         AS sum_charge,
  ROUND(SUM(l_quantity), 2) / COUNT(*)                   AS avg_qty,
  ROUND(SUM(l_extendedprice), 2) / COUNT(*)              AS avg_price,
  ROUND(SUM(l_discount), 2) / COUNT(*)                   AS avg_disc,
  COUNT(*)                                               AS count_order,
  COUNT(DISTINCT l_orderkey)                             AS n_orders
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rounding policy nuance (learned from a cross-SF parity sweep):
    # ROUND(double SUM, native granularity) is ulp-safe — the true sum
    # is ON the rounding grid, so any sub-half-grid float error recovers
    # it on every engine (sum_qty/base_price: 2-decimal data, round 2).
    # But rounding BELOW native granularity is NOT: charge carries 6
    # native decimals, so its true sum can land exactly ON a 4-decimal
    # rounding midpoint, where each engine's order-dependent float error
    # picks a different side (observed at sf0.001: ...886050 → .8860 vs
    # .8861). disc_price (4 native decimals) and charge therefore sum
    # as SCALED LONGS at native granularity (per-row quantization is
    # exact: the true value is an on-grid integer and the double sits
    # ~1e-4 off it; both engines compute identical doubles anyway), and
    # charge's half-up to 4 decimals happens in integer space —
    # (s+50) div 100 — so both engines round the same exact integer
    # with the same tie rule. Codegen-fast (long sums, no decimal ops);
    # headroom 2⁶³/1.2e11 ≈ 7.7e7 rows per GROUP — beyond that, cast
    # the quantized values to DECIMAL(27,6) before summing (identical
    # semantics, ~2× agg cost).
    li = load(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))

    disc4 = F.sum(F.round(disc_price * 10000, 0).cast("long"))
    charge6 = F.sum(F.round(charge * 1000000, 0).cast("long"))

    agged = (
        li.filter(F.col("l_shipdate") <= "1998-09-02 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            disc4.alias("__disc4"),
            charge6.alias("__charge6"),
            (F.round(F.sum("l_quantity"), 2) / n).alias("avg_qty"),
            (F.round(F.sum("l_extendedprice"), 2) / n).alias("avg_price"),
            (F.round(F.sum("l_discount"), 2) / n).alias("avg_disc"),
            n.alias("count_order"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
    )
    return agged.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        (F.col("__disc4").cast("double") / F.lit(10000.0)).alias(
            "sum_disc_price"
        ),
        # half-up in LONG space (`div` is integral division, so the
        # quotient stays exact however large the sum), double only at
        # the final 1e-4 descale
        (
            F.expr("CAST((__charge6 + 50) div 100 AS DOUBLE)")
            / F.lit(10000.0)
        ).alias("sum_charge"),
        "avg_qty",
        "avg_price",
        "avg_disc",
        "count_order",
        "n_orders",
    ).orderBy("l_returnflag", "l_linestatus")


# ---------------------------------------------------------------------------
# P1/P3/P5 + J3 — star projection/filter (filter + column pruning reach the
# parquet scan; dims broadcast)
# ---------------------------------------------------------------------------

@_q(
    "star_filter_project",
    """
SELECT
  l.l_orderkey,
  l.l_linenumber,
  l.l_quantity,
  p.p_name,
  p.p_brand,
  s.s_name
FROM lineitem l
LEFT JOIN part     p ON l.l_partkey = p.p_partkey
LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE l.l_quantity > 45 AND p.p_size < 10
""",
)
def star_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    supp = load(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left")
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey, "left")
        .filter((F.col("l_quantity") > 45) & (F.col("p_size") < 10))
        .select(
            "l_orderkey", "l_linenumber", "l_quantity", "p_name", "p_brand", "s_name"
        )
    )


# ---------------------------------------------------------------------------
# Window — latest-per-key dedup (SURVEY §2.5; the explicit row_number the
# reference's SCD1 needs)
# ---------------------------------------------------------------------------

@_q(
    "latest_order_per_customer",
    """
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
FROM (
  SELECT *,
         row_number() OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate DESC, o_orderkey DESC
         ) AS rn
  FROM orders
) WHERE rn = 1
""",
)
def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return M.latest_per_key(
        orders, "o_custkey", "o_orderdate", tiebreakers=("o_orderkey",)
    ).select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")


# ---------------------------------------------------------------------------
# J4 — SCD Type 1 merge as a deterministic query
# (`Salesforce/Task/SP_litify_task.sql:14-77`): target = orders with
# key%3≠0; source = modified copy of orders with key%2=0, one day newer →
# every overlapping key is overwritten, new keys inserted.
# ---------------------------------------------------------------------------

_SCD1_ORACLE = """
WITH target AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         o_orderpriority
  FROM orders WHERE o_orderkey % 3 <> 0
), source AS (
  SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus,
         ROUND(o_totalprice + 10.0, 2) AS o_totalprice,
         o_orderdate + INTERVAL 1 DAY AS o_orderdate,
         o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
), unioned AS (
  SELECT *, 2 AS __pri FROM source
  UNION ALL
  SELECT *, 1 AS __pri FROM target
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey ORDER BY o_orderdate DESC, __pri DESC
  ) AS rn
  FROM unioned
)
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority
FROM ranked WHERE rn = 1
"""


def _scd1_frames(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    target = orders.filter(F.col("o_orderkey") % 3 != 0)
    source = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("R").alias("o_orderstatus"),
        F.round(F.col("o_totalprice") + 10.0, 2).alias("o_totalprice"),
        (F.col("o_orderdate") + F.expr("INTERVAL 1 DAY")).alias("o_orderdate"),
        "o_orderpriority",
    )
    return target, source


@_q("scd1_merge", _SCD1_ORACLE)
def scd1_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    target, source = _scd1_frames(spark, sf_dir)
    return M.merge_scd1(target, source, "o_orderkey", "o_orderdate")


# ---------------------------------------------------------------------------
# J4 at real width — the reference's widest merge is ~250 columns
# (`Salesforce/Matter/SP_litify_matter.sql:307-595`). Same scd1 fixture,
# widened with 244 generated columns (bigint / varchar / date cycling)
# derived from the base columns AFTER the source modifications, so
# updated rows genuinely carry 250 changed-column payloads through the
# merge. Proves merge_scd1 is schema-driven at Matter width and that
# plan build / codegen survive a 250-column window + anti-join.
# ---------------------------------------------------------------------------

_WIDE_N = 244
# width is the thing under test, not volume: restrict the fixture to a
# fifth of orders so the driver-run cost stays proportionate (the
# 250-col × full-table variant was ~5× slower for zero extra coverage)
_WIDE_SLICE = "o_orderkey % 5 = 0"


def _wide_exprs() -> list[str]:
    """244 generated column exprs as SQL text, valid in BOTH Spark SQL
    and DuckDB — one selectExpr round-trip Spark-side (244 Column
    objects cost ~5 s of pure py4j driver time; one string batch is
    ~free), and the literal same text feeds the oracle."""
    sql_cols = []
    for i in range(_WIDE_N):
        name = f"w{i:03d}"
        t = i % 3
        if t == 0:
            sql_cols.append(f"o_orderkey * 1000 + {i} AS {name}")
        elif t == 1:
            sql_cols.append(f"o_orderstatus || '_' || '{i}' AS {name}")
        else:
            d = i % 28 + 1
            sql_cols.append(f"o_orderdate + INTERVAL {d} DAY AS {name}")
    return sql_cols


_BASE_COLS = (
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
    "o_orderpriority"
)


def _scd1_wide_oracle() -> str:
    sql_cols = _wide_exprs()
    wide = ",\n         ".join(sql_cols)
    all_cols = _BASE_COLS + ", " + ", ".join(
        f"w{i:03d}" for i in range(_WIDE_N)
    )
    return f"""
WITH tgt_base AS (
  SELECT {_BASE_COLS}
  FROM orders WHERE {_WIDE_SLICE} AND o_orderkey % 3 <> 0
), src_base AS (
  SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus,
         ROUND(o_totalprice + 10.0, 2) AS o_totalprice,
         o_orderdate + INTERVAL 1 DAY AS o_orderdate,
         o_orderpriority
  FROM orders WHERE {_WIDE_SLICE} AND o_orderkey % 2 = 0
), target AS (
  SELECT *, {wide} FROM tgt_base
), source AS (
  SELECT *, {wide} FROM src_base
), unioned AS (
  SELECT *, 2 AS __pri FROM source
  UNION ALL
  SELECT *, 1 AS __pri FROM target
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey ORDER BY o_orderdate DESC, __pri DESC
  ) AS rn
  FROM unioned
)
SELECT {all_cols}
FROM ranked WHERE rn = 1
"""


@_q("scd1_merge_wide", _scd1_wide_oracle())
def scd1_merge_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    sql_cols = _wide_exprs()
    tgt_base, src_base = _scd1_frames(spark, sf_dir)
    target = tgt_base.filter(F.expr(_WIDE_SLICE)).selectExpr("*", *sql_cols)
    source = src_base.filter(F.expr(_WIDE_SLICE)).selectExpr("*", *sql_cols)
    return M.merge_scd1(target, source, "o_orderkey", "o_orderdate")


# ---------------------------------------------------------------------------
# J2/P7 — insert-only anti-join append
# (`…CTR with boto3/SP_boto3_connect_redshift.sql:15-26`)
# ---------------------------------------------------------------------------

@_q(
    "append_new",
    """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority
FROM orders
WHERE o_orderkey % 3 = 0 OR o_orderkey % 5 = 0
""",
)
def append_new_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") % 3 == 0)
    source = orders.filter(F.col("o_orderkey") % 5 == 0)
    return M.append_new(target, source, "o_orderkey")


# ---------------------------------------------------------------------------
# P6/J1 — new-or-newer change detection
# (`Salesforce/Task/SP_litify_task.sql:6-11`)
# ---------------------------------------------------------------------------

@_q(
    "changed_or_new",
    """
WITH tgt AS (
  SELECT o_custkey, max(o_orderdate) AS o_orderdate
  FROM orders
  WHERE o_custkey % 2 = 0 AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
  GROUP BY o_custkey
)
SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, o.o_totalprice
FROM orders o
LEFT JOIN tgt t ON o.o_custkey = t.o_custkey
WHERE t.o_custkey IS NULL OR o.o_orderdate > t.o_orderdate
""",
)
def changed_or_new_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    target = (
        orders.filter(
            (F.col("o_custkey") % 2 == 0)
            & (F.col("o_orderdate") < "1999-01-01 00:00:00")
        )
        .groupBy("o_custkey")
        .agg(F.max("o_orderdate").alias("o_orderdate"))
    )
    return M.changed_or_new(
        orders, target, "o_custkey", "o_orderdate"
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")


# ---------------------------------------------------------------------------
# A5 — gap-free conditional-count histogram (`view_agent_metrics.sql:36-65`,
# canonicalized per SURVEY §7 risk 6)
# ---------------------------------------------------------------------------

@_q(
    "quantity_histogram",
    """
SELECT
  l_returnflag,
  COUNT(CASE WHEN l_quantity < 10 THEN 1 END)                      AS q_00_10,
  COUNT(CASE WHEN l_quantity >= 10 AND l_quantity < 20 THEN 1 END) AS q_10_20,
  COUNT(CASE WHEN l_quantity >= 20 AND l_quantity < 30 THEN 1 END) AS q_20_30,
  COUNT(CASE WHEN l_quantity >= 30 AND l_quantity < 40 THEN 1 END) AS q_30_40,
  COUNT(CASE WHEN l_quantity >= 40 THEN 1 END)                     AS q_40_up,
  COUNT(*)                                                         AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def quantity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")

    def b(pred):
        return F.count(F.when(pred, 1))

    return (
        li.groupBy("l_returnflag")
        .agg(
            b(q < 10).alias("q_00_10"),
            b((q >= 10) & (q < 20)).alias("q_10_20"),
            b((q >= 20) & (q < 30)).alias("q_20_30"),
            b((q >= 30) & (q < 40)).alias("q_30_40"),
            b(q >= 40).alias("q_40_up"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# A8 — pivot to wide row (`Amazon Connect/connect_agent_metrics.py:139-158`:
# metric list → one wide row per entity)
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

@_q(
    "events_pivot",
    """
SELECT
  user_id,
  ROUND(SUM(CASE WHEN event_type = 'click'    THEN value END), 2) AS click,
  ROUND(SUM(CASE WHEN event_type = 'view'     THEN value END), 2) AS "view",
  ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
  ROUND(SUM(CASE WHEN event_type = 'signup'   THEN value END), 2) AS signup,
  ROUND(SUM(CASE WHEN event_type = 'error'    THEN value END), 2) AS error
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.round(F.sum("value"), 2))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# F1–F6, F10–F12, F15 — scalar function suite (per-row; no float rounding
# needed: inputs are bit-identical parquet values)
# ---------------------------------------------------------------------------

@_q(
    "scalar_suite",
    """
SELECT
  o_orderkey,
  CAST(o_orderdate AS DATE)                       AS order_date,
  EXTRACT(month FROM o_orderdate)                 AS order_month,
  EXTRACT(day FROM o_orderdate)                   AS order_day,
  EXTRACT(hour FROM o_orderdate)                  AS order_hour,
  CAST(epoch(o_orderdate) AS BIGINT)              AS epoch_s,
  o_orderstatus || '-' || o_orderpriority         AS status_priority,
  lower(o_orderpriority)                          AS priority_lower,
  split_part(o_orderpriority, '-', 2)             AS priority_word,
  o_totalprice / 60.0                             AS price_per_min,
  COALESCE(NULLIF(o_orderstatus, 'O'), 'open')    AS status_defaulted,
  length(o_orderpriority)                         AS priority_len
FROM orders
""",
)
def scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("order_date"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("order_day"),
        F.hour("o_orderdate").cast("long").alias("order_hour"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
        F.concat(
            F.col("o_orderstatus"), F.lit("-"), F.col("o_orderpriority")
        ).alias("status_priority"),
        F.lower("o_orderpriority").alias("priority_lower"),
        F.split(F.col("o_orderpriority"), "-").getItem(1).alias("priority_word"),
        (F.col("o_totalprice") / F.lit(60.0)).alias("price_per_min"),
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open")
        ).alias("status_defaulted"),
        F.length("o_orderpriority").cast("long").alias("priority_len"),
    )


# ---------------------------------------------------------------------------
# F14 — JSON parse + nested field access
# (`…CTR with Firehose/lambda_connect_firehose_redshift.py:59,91-126`)
# ---------------------------------------------------------------------------

@_q(
    "json_extract",
    """
SELECT
  event_id,
  CAST(props->>'$.k' AS BIGINT)  AS prop_k,
  COALESCE(CAST(props->>'$.missing' AS BIGINT), -1) AS prop_missing
FROM events
""",
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
        F.coalesce(
            F.get_json_object("props", "$.missing").cast("long"), F.lit(-1)
        ).alias("prop_missing"),
    )


# ---------------------------------------------------------------------------
# T1–T7 — type-coercion layer (truthy-set booleans, try-cast numerics,
# blank→NULL strings) — `Salesforce/Matter/lambda_litify_matter.py:286-297`
# ---------------------------------------------------------------------------

@_q(
    "type_coercion",
    """
SELECT
  o_orderkey,
  CASE WHEN CASE WHEN o_orderstatus = 'O' THEN 'true' ELSE 'f' END
            IN ('t', 'T', 'True', 'true', '1') THEN 1 ELSE 0 END AS is_open01,
  COALESCE(TRY_CAST(o_orderpriority AS DOUBLE), 0.0)       AS pri_num,
  COALESCE(CAST(TRY_CAST(split_part(o_orderpriority, '-', 1) AS DOUBLE) AS BIGINT), 0)
                                                           AS pri_int,
  CASE WHEN trim(o_orderstatus) = '' THEN NULL
       ELSE trim(o_orderstatus) END                        AS status_clean,
  TRY_CAST(o_orderpriority AS TIMESTAMP)                   AS bad_ts
FROM orders
""",
)
def type_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import functions as fx

    o = load(spark, sf_dir, "orders")
    truthyish = "CASE WHEN o_orderstatus = 'O' THEN 'true' ELSE 'f' END"
    head = "split(o_orderpriority, '-')[0]"
    return o.selectExpr(
        "o_orderkey",
        f"{fx.BOOL01_SQL.format(truthyish)} AS is_open01",
        f"{fx.FLOAT0_SQL.format('o_orderpriority')} AS pri_num",
        f"{fx.INT0_SQL.format(head)} AS pri_int",
        f"{fx.NULL_IF_BLANK_SQL.format('o_orderstatus')} AS status_clean",
        f"{fx.TS_OR_NULL_SQL.format('o_orderpriority')} AS bad_ts",
    )


# ---------------------------------------------------------------------------
# ST2 (batch algebra) — stream dedup by key, earliest-event-wins
# (`…CTR with Firehose/lambda_connect_firehose_redshift.py:9-28`)
# ---------------------------------------------------------------------------

@_q(
    "stream_dedup_batch",
    """
SELECT event_id, ts, user_id, event_type, value
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id, event_type ORDER BY ts ASC, event_id ASC
  ) AS rn
  FROM events
) WHERE rn = 1
""",
)
def stream_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


# ---------------------------------------------------------------------------
# J5 — composite-key update-if-changed upsert
# (`Google Sheets/Goals/lambda_legal_goals_upsert.py:48-77`): target =
# earliest value per (user, type), source = latest; source wins where
# present, target rows survive otherwise.
# ---------------------------------------------------------------------------

_GOALS_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_type, value, ts,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts ASC, event_id ASC) AS rn_first,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn_last
  FROM events
),
tgt AS (SELECT user_id, event_type, value FROM ranked WHERE rn_first = 1),
src AS (SELECT user_id, event_type, value FROM ranked
        WHERE rn_last = 1 AND user_id % 2 = 0)
SELECT user_id, event_type, value FROM src
UNION ALL
SELECT t.user_id, t.event_type, t.value
FROM tgt t LEFT JOIN src s
  ON t.user_id = s.user_id AND t.event_type = s.event_type
WHERE s.user_id IS NULL
"""


@_q("upsert_if_changed", _GOALS_ORACLE)
def upsert_if_changed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    first = M.latest_per_key(
        ev.withColumn("__neg_ts", -F.unix_micros("ts"))
          .withColumn("__neg_id", -F.col("event_id")),
        ["user_id", "event_type"], "__neg_ts", tiebreakers=("__neg_id",),
    ).select("user_id", "event_type", "value")
    last = M.latest_per_key(
        ev, ["user_id", "event_type"], "ts", tiebreakers=("event_id",)
    ).select("user_id", "event_type", "value")
    src = last.filter(F.col("user_id") % 2 == 0)
    return M.upsert_if_changed(
        first, src, ["user_id", "event_type"], compare_cols=["value"]
    )


# ---------------------------------------------------------------------------
# Set ops — the reference's implicit UNION ALL across per-folder CSVs
# (`Salesforce/Task/lambda_litify_task.py:153-164`)
# ---------------------------------------------------------------------------

@_q(
    "union_slices",
    """
SELECT l_returnflag, COUNT(*) AS n_rows, ROUND(SUM(l_quantity), 2) AS sum_qty
FROM (
  SELECT l_returnflag, l_quantity FROM lineitem WHERE l_orderkey % 4 = 0
  UNION ALL
  SELECT l_returnflag, l_quantity FROM lineitem WHERE l_quantity > 40
) GROUP BY l_returnflag
""",
)
def union_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity",
                                                "l_orderkey")
    a = li.filter(F.col("l_orderkey") % 4 == 0)
    b = li.filter(F.col("l_quantity") > 40)
    return (
        a.select("l_returnflag", "l_quantity")
        .unionByName(b.select("l_returnflag", "l_quantity"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# ST3/ST5 (batch algebra) — tumbling-window aggregation
# (`…CTR with boto3/lambda_boto3_connect_redshift.py:30-55` 2-hour
# windows; canonical half-open windows per SURVEY §7 risk 6)
# ---------------------------------------------------------------------------

@_q(
    "windowed_agg",
    """
SELECT
  date_trunc('hour', ts)     AS window_start,
  event_type,
  COUNT(*)                   AS n_events,
  ROUND(SUM(value), 2)       AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Top-k per group (window + rank — the guide's canonical OLAP pattern)
# ---------------------------------------------------------------------------

@_q(
    "topk_per_group",
    """
SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (
           PARTITION BY o_orderpriority
           ORDER BY o_totalprice DESC, o_orderkey ASC
         ) AS rank
  FROM orders
) WHERE rank <= 3
""",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "o_orderpriority", "o_orderkey", "o_totalprice",
            F.col("rank").cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# ROLLUP — hierarchical totals (beyond the reference; free via Catalyst)
# ---------------------------------------------------------------------------

@_q(
    "rollup_totals",
    """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
       COUNT(*) AS n_rows, ROUND(SUM(l_extendedprice), 2) AS sum_price
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
""",
)
def rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("long").alias("g_flag"),
        F.grouping("l_linestatus").cast("long").alias("g_status"),
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# Sessionization — lag + cumulative gap count (guide pattern; the batch
# analog of streaming session windows)
# ---------------------------------------------------------------------------

_SESSION_ORACLE = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
s AS (
  SELECT user_id, ts, event_id,
         SUM(is_new) OVER (PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       COUNT(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM s GROUP BY 1, 2
"""


@_q("sessionization", _SESSION_ORACLE)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    is_new = F.when(
        F.lag("ts").over(w).isNull() | (gap > 1800), 1
    ).otherwise(0)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        ev.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(cum).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


# ---------------------------------------------------------------------------
# As-of join (custom operator — Spark lacks a native one; single-shuffle
# union+window implementation in operators/asof.py). Semantics anchored
# to DuckDB's ASOF JOIN: previous order per customer, strictly before.
# ---------------------------------------------------------------------------

_ASOF_ORACLE = """
WITH r AS (
  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
    SELECT *, row_number() OVER (
      PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC
    ) AS rn FROM orders
  ) WHERE rn = 1
)
SELECT l.o_orderkey, l.o_custkey, l.o_orderdate,
       r.o_orderkey AS prev_order_key, r.o_totalprice AS prev_order_price
FROM orders l
ASOF LEFT JOIN r
  ON l.o_custkey = r.o_custkey AND l.o_orderdate > r.o_orderdate
"""


@_q("asof_prev_order", _ASOF_ORACLE)
def asof_prev_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    orders = load(spark, sf_dir, "orders")
    right = M.latest_per_key(
        orders, ["o_custkey", "o_orderdate"], "o_orderkey"
    ).select(
        "o_custkey",
        F.col("o_orderdate").alias("r_time"),
        F.col("o_orderkey").alias("prev_order_key"),
        F.col("o_totalprice").alias("prev_order_price"),
    )
    left = orders.select("o_custkey", "o_orderdate", "o_orderkey")
    return asof_join(
        left,
        right,
        on="o_custkey",
        left_time="o_orderdate",
        right_time="r_time",
        value_cols=["prev_order_key", "prev_order_price"],
        inclusive=False,
    ).select(
        "o_orderkey", "o_custkey", "o_orderdate",
        "prev_order_key", "prev_order_price",
    )


# ---------------------------------------------------------------------------
# F11/F12/F13 + more string scalars — suite 2 (base64, case, replace,
# substring, regexp_extract, instr)
# ---------------------------------------------------------------------------

@_q(
    "scalar_suite2",
    """
SELECT
  o_orderkey,
  base64(encode(o_orderstatus))                  AS status_b64,
  upper(o_orderpriority)                         AS priority_upper,
  replace(o_orderpriority, '-', '_')             AS priority_snake,
  substr(o_orderpriority, 1, 3)                  AS priority_prefix,
  regexp_extract(o_orderpriority, '[0-9]+')      AS priority_digits,
  CAST(instr(o_orderpriority, '-') AS BIGINT)    AS dash_pos,
  lpad(o_orderstatus, 3, '.')                    AS status_padded,
  reverse(o_orderstatus)                         AS status_rev
FROM orders
""",
)
def scalar_suite2(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.base64(F.col("o_orderstatus").cast("binary")).alias("status_b64"),
        F.upper("o_orderpriority").alias("priority_upper"),
        F.replace(
            F.col("o_orderpriority"), F.lit("-"), F.lit("_")
        ).alias("priority_snake"),
        F.substring("o_orderpriority", 1, 3).alias("priority_prefix"),
        F.regexp_extract(F.col("o_orderpriority"), "[0-9]+", 0).alias(
            "priority_digits"
        ),
        F.instr(F.col("o_orderpriority"), "-").cast("long").alias("dash_pos"),
        F.lpad(F.col("o_orderstatus"), 3, ".").alias("status_padded"),
        F.reverse(F.col("o_orderstatus")).alias("status_rev"),
    )


# ---------------------------------------------------------------------------
# P4 — malformed-record filter: PERMISSIVE from_json → NULL → dropped
# (`…CTR with Firehose/lambda_connect_firehose_redshift.py:46-79`).
# Every 10th record is corrupted (truncated JSON) to exercise the path.
# ---------------------------------------------------------------------------

@_q(
    "malformed_json_filter",
    """
WITH raw AS (
  SELECT event_id,
         CASE WHEN event_id % 10 = 0 THEN substr(props, 1, 3) ELSE props END
           AS payload
  FROM events
)
SELECT event_id, CAST(payload->>'$.k' AS BIGINT) AS prop_k
FROM raw
WHERE json_valid(payload)
""",
)
def malformed_json_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    payload = F.when(
        F.col("event_id") % 10 == 0, F.substring("props", 1, 3)
    ).otherwise(F.col("props"))
    # PERMISSIVE from_json yields an all-NULL struct (not a NULL struct)
    # for corrupt input; the declared _corrupt_record column is the
    # precise validity signal
    parsed = ev.select(
        "event_id",
        F.from_json(payload, "k bigint, _corrupt_record string").alias("p"),
    )
    return parsed.filter(F.col("p._corrupt_record").isNull()).select(
        "event_id", F.col("p.k").alias("prop_k")
    )


# ---------------------------------------------------------------------------
# Semi / full-outer joins + deterministic LIMIT (beyond the reference's
# left/anti surface — free via df.join(how=...), declared for coverage)
# ---------------------------------------------------------------------------

@_q(
    "semi_join_customers",
    """
SELECT c.c_custkey, c.c_name, c.c_acctbal
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
)
""",
)
def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_acctbal")


@_q(
    "full_outer_join",
    """
WITH big_cust AS (
  SELECT c_custkey, c_name FROM customer WHERE c_custkey % 7 = 0
),
big_orders AS (
  SELECT o_custkey, COUNT(*) AS n_orders FROM orders
  WHERE o_custkey % 5 = 0 GROUP BY o_custkey
)
SELECT
  COALESCE(c.c_custkey, o.o_custkey) AS custkey,
  c.c_name,
  o.n_orders
FROM big_cust c FULL OUTER JOIN big_orders o ON c.c_custkey = o.o_custkey
""",
)
def full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 7 == 0
    ).select("c_custkey", "c_name")
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 5 == 0)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "full").select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        "c_name",
        "n_orders",
    )


@_q(
    "ordered_limit",
    """
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
""",
)
def ordered_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LIMIT is only deterministic under a total order — tie-broken here
    # (TopK via sort+limit compiles to TakeOrderedAndProject: no full
    # sort materialization at scale)
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
        .select("o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Salted aggregation — the skew pattern: pre-aggregate on (key, salt),
# then final-aggregate on key. Result ≡ plain GROUP BY (the oracle), but
# a hot key's partial rows spread over `salt` reducers first. (For joins
# the same salt trick applies to the build side; AQE skew-join covers
# the runtime case.)
# ---------------------------------------------------------------------------

@_q(
    "salted_aggregation",
    """
SELECT l_returnflag AS flag, COUNT(*) AS n_rows,
       ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY l_returnflag
""",
)
def salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    salted = li.withColumn(
        "__salt", (F.col("l_orderkey") % 16).cast("int")
    )
    partial = salted.groupBy("l_returnflag", "__salt").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("l_quantity").alias("__q"),
    )
    return partial.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.sum("__n").alias("n_rows"),
        F.round(F.sum("__q"), 2).alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# Exact percentiles (continuous interpolation — identical formula in
# both engines). The approximate path (`approx_quantiles` below) is
# oracle-checked through a bracket contract, approx_distinct-style.
# ---------------------------------------------------------------------------

@_q(
    "percentiles",
    """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.5)  AS median_qty,
       quantile_cont(l_quantity, 0.9)  AS p90_qty,
       quantile_cont(l_extendedprice, 0.5) AS median_price
FROM lineitem GROUP BY l_returnflag
""",
)
def percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.5).alias("median_qty"),
        F.percentile("l_quantity", 0.9).alias("p90_qty"),
        F.percentile("l_extendedprice", 0.5).alias("median_price"),
    )


# ---------------------------------------------------------------------------
# Approximate quantiles (the 100 TB path: percentile_approx's
# mergeable KLL-style sketch instead of an exact per-group sort).
# Sketch internals are engine-specific, so the portable contract is a
# BRACKET: at accuracy 1000 the rank error is ≤ 1/1000, so the
# estimate must land between the exact 45th and 55th percentiles —
# both engines hash-match on (exact median, TRUE) while the Spark side
# genuinely runs the sketch.
# ---------------------------------------------------------------------------


@_q(
    "approx_quantiles",
    """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.5) AS median_qty,
       TRUE AS approx_in_bracket
FROM lineitem GROUP BY l_returnflag
""",
)
def approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", 0.5).alias("median_qty"),
            F.percentile_approx("l_quantity", 0.5, 1000).alias("__a"),
            F.percentile("l_quantity", 0.45).alias("__lo"),
            F.percentile("l_quantity", 0.55).alias("__hi"),
        )
        .select(
            "l_returnflag",
            "median_qty",
            (
                (F.col("__a") >= F.col("__lo"))
                & (F.col("__a") <= F.col("__hi"))
            ).alias("approx_in_bracket"),
        )
    )


# ---------------------------------------------------------------------------
# Range join (point-in-interval) — `operators/rangejoin.range_join`
# bucketed rewrite; a naive non-equi join would plan as
# BroadcastNestedLoopJoin (O(|P|·|I|) at scale). Workload: each 'error'
# event opens a 1-hour incident window; aggregate the events landing in
# each window. Timestamps become epoch-second doubles for bucketing AND
# the exact predicate — the cast is monotone and injective at micro-
# second precision, so the comparison is identical to the oracle's
# native timestamp comparison.
# ---------------------------------------------------------------------------

@_q(
    "range_join_incidents",
    """
WITH inc AS (
  SELECT event_id AS incident_id, ts AS start_ts,
         ts + INTERVAL 1 HOUR AS end_ts
  FROM events WHERE event_type = 'error'
)
SELECT incident_id, COUNT(*) AS n_events, ROUND(SUM(e.value), 2) AS sum_value
FROM inc JOIN events e ON e.ts >= inc.start_ts AND e.ts < inc.end_ts
GROUP BY incident_id
""",
)
def range_join_incidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")

    # belt-and-suspenders over load(): tables.py already canonicalizes
    # events.ts (NTZ or nanos-long parquet) to TIMESTAMP, so the hop
    # through TIMESTAMP is a no-op today — kept so this query stays
    # correct if handed a frame that bypassed load()'s canonicalization
    # (NTZ has no direct cast to double; session tz is UTC).
    def _epoch_s(c: F.Column) -> F.Column:
        return c.cast("timestamp").cast("double")

    intervals = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        _epoch_s(F.col("ts")).alias("start_s"),
        _epoch_s(F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end_s"),
    )
    points = ev.select(_epoch_s(F.col("ts")).alias("pt_s"), "value")
    joined = RJ.range_join(
        points,
        intervals,
        point_on="pt_s",
        start_on="start_s",
        end_on="end_s",
        bucket_width=3600,
    )
    return joined.groupBy("incident_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# CUBE (full grouping sets; completes ROLLUP above) — every combination
# of the two dimensions plus both margins and the grand total
# ---------------------------------------------------------------------------

@_q(
    "cube_totals",
    """
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus) AS g_status, GROUPING(o_orderpriority) AS g_prio,
       COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
""",
)
def cube_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("o_orderpriority").cast("long").alias("g_prio"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# Sliding (hopping) windows — 1-hour windows every 30 min: each event
# lands in exactly window/slide = 2 windows. Spark assigns them inside
# one hash aggregate (the window expression expands to the overlap
# set); the oracle materializes the same two starts per event.
# ---------------------------------------------------------------------------

@_q(
    "sliding_window_agg",
    """
SELECT window_start, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
FROM (
  SELECT time_bucket(INTERVAL '30 minutes', ts)
           - u.off * INTERVAL '30 minutes' AS window_start,
         value
  FROM events, (SELECT UNNEST([0, 1]) AS off) u
)
GROUP BY 1
""",
)
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "n_events", "sum_value"
        )
    )


# ---------------------------------------------------------------------------
# Correlated scalar subquery (TPC-H Q17 shape) — revenue from
# small-quantity orders: l_quantity < 0.2 * AVG(l_quantity) per part.
# The reference has no subqueries, but its change-detection predicate
# (SURVEY §2.2 P6) is the same decorrelation class. Spark plan: filter
# part on brand → broadcast-join to PRUNE lineitem first (the
# correlated subquery never scans the full table), then the per-part
# threshold is a windowed AVG over the pruned rows — one shuffle by
# l_partkey, no self-join, no re-aggregation. l_quantity is integral so
# the AVG is order-independent (exact int sum / n) — safe to compare
# against the oracle's correlated form bit-for-bit.
# ---------------------------------------------------------------------------

@_q(
    "small_qty_revenue",
    """
SELECT ROUND(SUM(l.l_extendedprice), 2) / 7.0 AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#4'
  AND l.l_quantity < (
    SELECT 0.2 * AVG(l2.l_quantity)
    FROM lineitem l2
    WHERE l2.l_partkey = l.l_partkey)
""",
)
def small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#4")
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    pruned = li.join(F.broadcast(p), "l_partkey")
    w = Window.partitionBy("l_partkey")
    return (
        pruned.withColumn("qty_thresh", 0.2 * F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg((F.round(F.sum("l_extendedprice"), 2) / 7.0).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# Quantile bucketing — NTILE(4) per nation over account balance.
# Partitioned window (never a global single-partition sort): each
# nation's customers sort independently, so the operator scales with
# the number of groups. Tie-break on c_custkey makes the bucket
# assignment deterministic in both engines.
# ---------------------------------------------------------------------------

@_q(
    "ntile_quartiles",
    """
SELECT c_nationkey, quartile,
       COUNT(*) AS n_customers,
       ROUND(SUM(c_acctbal), 2) AS sum_bal
FROM (
  SELECT c_nationkey, c_acctbal,
         NTILE(4) OVER (PARTITION BY c_nationkey
                        ORDER BY c_acctbal, c_custkey) AS quartile
  FROM customer
)
GROUP BY c_nationkey, quartile
""",
)
def ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return (
        cust.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("c_nationkey", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
        )
    )


# ---------------------------------------------------------------------------
# Window FRAMES (running / moving aggregates) — the one window family the
# catalog lacked: SUM over ROWS UNBOUNDED PRECEDING (running total),
# SUM/COUNT over ROWS 6 PRECEDING (trailing-7 average — divided from the
# rounded sum per the float policy), first_value, and a lag delta. All
# share ONE partitioned sort (o_custkey; orderdate+orderkey total order)
# so the physical plan is a single shuffle + a single Window operator —
# per-customer state is O(frame), never O(partition), at any scale.
# ---------------------------------------------------------------------------

@_q(
    "window_frames",
    """
SELECT
  o_custkey,
  o_orderkey,
  ROUND(SUM(o_totalprice) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
  ROUND(SUM(o_totalprice) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2)
  / COUNT(*) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)              AS avg_last7,
  first_value(o_totalprice) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)      AS first_price,
  o_totalprice - lag(o_totalprice) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS price_delta
FROM orders
""",
)
def window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    ordering = [F.col("o_orderdate"), F.col("o_orderkey")]
    base = Window.partitionBy("o_custkey").orderBy(*ordering)
    running = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    trailing7 = base.rowsBetween(-6, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(running), 2).alias("running_spend"),
        (
            F.round(F.sum("o_totalprice").over(trailing7), 2)
            / F.count(F.lit(1)).over(trailing7)
        ).alias("avg_last7"),
        F.first("o_totalprice").over(running).alias("first_price"),
        (
            F.col("o_totalprice") - F.lag("o_totalprice").over(base)
        ).alias("price_delta"),
    )


# ---------------------------------------------------------------------------
# Shipping priority (TPC-H Q3 shape) — the catalog's multi-way JOIN +
# AGG + TOP-K pipeline in one query: selective dim filter broadcast into
# the fact-fact join, partial aggregation before the group-by shuffle,
# and TakeOrderedAndProject for the limit (no global sort). customer is
# the only broadcast side; orders⋈lineitem shuffles on the join key and
# AQE picks the final strategy from runtime sizes.
# ---------------------------------------------------------------------------

@_q(
    "shipping_priority",
    """
SELECT
  l.l_orderkey,
  ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
  o.o_orderdate,
  o.o_orderpriority
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l.l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01 00:00:00"
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-01-01 00:00:00"
    )
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Skew-salted join — operators/skew.salted_join: lineitem's l_orderkey
# scattered over 8 sub-keys, orders replicated 8×, joined on
# (key, salt). The aggregate collapses the salt again, so the result is
# the plain join's (the oracle); only the shuffle-time distribution
# differs. The salt column never escapes the operator.
# ---------------------------------------------------------------------------

@_q(
    "salted_join",
    """
SELECT o.o_orderpriority,
       COUNT(*) AS n_lines,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
""",
)
def salted_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"),
        "l_linenumber",
        "l_extendedprice",
        "l_discount",
    )
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    joined = SK.salted_join(li, o, key="k", salt_from="l_linenumber", salts=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Session windows (native) — F.session_window groups events whose gaps
# stay under 5 minutes; the window closes at last_event + gap
# (half-open, so a row at exactly prev+5min starts a NEW session). The
# oracle derives identical islands from a strict-< lag test + running
# sum. Complements `sessionization` (the manual lag+cumsum form): this
# is the built-in operator Structured Streaming shares, so the same
# query runs on a stream with state eviction for free.
# ---------------------------------------------------------------------------

@_q(
    "session_window_agg",
    """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   < INTERVAL 5 MINUTE
              THEN 0 ELSE 1 END AS new_sess
  FROM events
),
sess AS (
  SELECT user_id, ts, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM sess
GROUP BY user_id, sid
""",
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Ranking-function suite — rank / dense_rank / percent_rank / cume_dist
# / lead over ONE shared window spec (one shuffle, one sort, one Window
# operator). The (o_totalprice, o_orderkey) order is a total order, so
# every ranking value is deterministic.
# ---------------------------------------------------------------------------

@_q(
    "rank_suite",
    """
SELECT o_custkey, o_orderkey,
       rank()         OVER w AS rnk,
       dense_rank()   OVER w AS drnk,
       percent_rank() OVER w AS prnk,
       cume_dist()    OVER w AS cdist,
       lead(o_orderkey) OVER w AS next_ok
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
""",
)
def rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
        F.lead("o_orderkey").over(w).alias("next_ok"),
    )


# ---------------------------------------------------------------------------
# Array aggregation — collect per-group lists, operate on them with
# array functions, and REDUCE to scalars before output (the driver's
# value-hash compares scalar cells; the array machinery is what's under
# test). sort_array makes collect_list order-insensitive →
# deterministic under any shuffle schedule.
# ---------------------------------------------------------------------------

@_q(
    "array_agg_suite",
    """
SELECT o_custkey,
       CAST(len(list_sort(list(o_orderkey))) AS BIGINT)  AS n_orders,
       list_sort(list(o_orderkey))[1]                    AS first_order,
       list_sort(list(o_orderkey))[-1]                   AS last_order,
       array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys
FROM orders
GROUP BY o_custkey
""",
)
def array_agg_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    arr = F.sort_array(F.collect_list("o_orderkey"))
    return o.groupBy("o_custkey").agg(
        F.size(arr).cast("long").alias("n_orders"),
        F.element_at(arr, 1).alias("first_order"),
        F.element_at(arr, -1).alias("last_order"),
        F.concat_ws(
            ",", F.transform(arr, lambda x: x.cast("string"))
        ).alias("order_keys"),
    )


# ---------------------------------------------------------------------------
# GROUPING SETS (explicit, via the spark.sql surface) — the engine's
# queries are DataFrame-native, but spark.sql is an equal entry point
# (same Catalyst plan); this declares the two-margins shape ROLLUP/CUBE
# can't express: each dimension's margin WITHOUT the cross cells.
# ---------------------------------------------------------------------------

@_q(
    "grouping_sets_margins",
    """
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus) AS g_status,
       GROUPING(o_orderpriority) AS g_prio,
       COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
""",
)
def grouping_sets_margins(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("__gs_orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS sum_price
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """)


# ---------------------------------------------------------------------------
# UNPIVOT (wide → long, the inverse of A8's pivot) — three measure
# columns melt into (measure, value) rows. Spark's unpivot/melt is a
# zero-shuffle Expand: each input row emits one output row per measure
# in place. The oracle spells the same relation as a UNION ALL of
# per-measure projections (portable to any engine).
# ---------------------------------------------------------------------------

@_q(
    "lineitem_unpivot",
    """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
FROM lineitem WHERE l_orderkey % 50 = 0
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
FROM lineitem WHERE l_orderkey % 50 = 0
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
FROM lineitem WHERE l_orderkey % 50 = 0
""",
)
def lineitem_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "value",
    )


# ---------------------------------------------------------------------------
# NULL-semantics suite — the classic engine-parity traps declared as
# one query: null-safe equality (<=> ≡ IS NOT DISTINCT FROM), NULL
# propagation through arithmetic/concat vs coalesce defaults, and
# NULL-aware conditionals. Every third supplier comment is nulled to
# exercise the paths. (Sort-order NULL placement is pinned separately:
# Spark default NULLS FIRST asc, DuckDB NULLS LAST — any ORDER BY over
# nullable keys in this catalog says NULLS FIRST/LAST explicitly.)
# ---------------------------------------------------------------------------

@_q(
    "null_semantics",
    """
WITH s AS (
  SELECT s_suppkey,
         CASE WHEN s_suppkey % 3 = 0 THEN NULL ELSE s_acctbal END AS bal,
         CASE WHEN s_suppkey % 2 = 0 THEN NULL ELSE s_name END    AS nm
  FROM supplier
)
SELECT s_suppkey,
       bal IS NOT DISTINCT FROM 0.0       AS null_safe_zero,
       (bal + 1.0) IS NULL                AS arith_propagates,
       COALESCE(bal, -1.0)                AS bal_default,
       nm || '!'                          AS nm_bang,
       COALESCE(nm, 'anon') || '!'        AS nm_bang_default,
       CASE WHEN bal IS NULL THEN 'missing'
            WHEN bal < 0 THEN 'negative'
            ELSE 'ok' END                 AS bal_class
FROM s
""",
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.when(F.col("s_suppkey") % 3 == 0, None)
        .otherwise(F.col("s_acctbal"))
        .alias("bal"),
        F.when(F.col("s_suppkey") % 2 == 0, None)
        .otherwise(F.col("s_name"))
        .alias("nm"),
    )
    return s.select(
        "s_suppkey",
        F.col("bal").eqNullSafe(F.lit(0.0)).alias("null_safe_zero"),
        (F.col("bal") + 1.0).isNull().alias("arith_propagates"),
        F.coalesce("bal", F.lit(-1.0)).alias("bal_default"),
        F.concat(F.col("nm"), F.lit("!")).alias("nm_bang"),
        F.concat(F.coalesce("nm", F.lit("anon")), F.lit("!")).alias(
            "nm_bang_default"
        ),
        F.when(F.col("bal").isNull(), "missing")
        .when(F.col("bal") < 0, "negative")
        .otherwise("ok")
        .alias("bal_class"),
    )


# ---------------------------------------------------------------------------
# Datetime suite (extends F1–F3/F7–F9): trunc-to-month/week, month
# arithmetic, day diffs, last-day-of-month, epoch extraction, and
# date_part — per-row projections, each spelled identically enough in
# both engines to compare bit-for-bit. Spark's datediff(end, start)
# argument order matches DuckDB's date_diff('day', start, end) with the
# operands swapped — pinned here so no other query trips on it.
# ---------------------------------------------------------------------------

@_q(
    "datetime_suite",
    """
SELECT o_orderkey,
       date_trunc('month', o_orderdate)                   AS month_start,
       date_trunc('week', o_orderdate)                    AS week_start,
       o_orderdate + INTERVAL 3 MONTH                     AS plus_3m,
       CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)
            AS BIGINT)                                    AS days_since_epoch0,
       last_day(CAST(o_orderdate AS DATE))                AS month_end,
       CAST(extract(epoch FROM o_orderdate) AS BIGINT)    AS epoch_s,
       CAST(extract(quarter FROM o_orderdate) AS BIGINT)  AS qtr,
       CAST(extract(dow FROM o_orderdate) AS BIGINT)      AS dow_sunday0
FROM orders
""",
)
def datetime_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        # DuckDB date_trunc returns DATE for day-or-coarser precision;
        # Spark returns TIMESTAMP — cast to the common type
        F.date_trunc("month", d).cast("date").alias("month_start"),
        F.date_trunc("week", d).cast("date").alias("week_start"),
        (d + F.expr("INTERVAL 3 MONTH")).alias("plus_3m"),
        F.datediff(d, F.lit("1995-01-01").cast("timestamp"))
        .cast("long")
        .alias("days_since_epoch0"),
        F.last_day(d.cast("date")).alias("month_end"),
        F.unix_timestamp(d).alias("epoch_s"),
        F.quarter(d).cast("long").alias("qtr"),
        # Spark dayofweek: Sunday=1; DuckDB dow: Sunday=0
        (F.dayofweek(d) - 1).cast("long").alias("dow_sunday0"),
    )


# ---------------------------------------------------------------------------
# SCD Type 2 merge — operators/merge.merge_scd2. Scenario: current
# versions for key%3≠0 (plus an already-closed history version for
# key%7=0), staged updates for key%2=0 one day newer where only key%4=0
# rows actually change price. Exercises every path: close+reopen
# (changed), no-op (newer but identical), fresh insert (unseen key),
# and untouched history.
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH base AS (
  SELECT o_orderkey AS k, o_totalprice AS price, o_orderdate AS d FROM orders
),
cur AS (
  SELECT k, price, d AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to
  FROM base WHERE k % 3 <> 0
),
hist AS (
  SELECT k, ROUND(price - 50, 2) AS price,
         d - INTERVAL 30 DAY AS valid_from, d AS valid_to
  FROM base WHERE k % 7 = 0 AND k % 3 <> 0
),
src AS (
  SELECT k,
         CASE WHEN k % 4 = 0 THEN ROUND(price + 10, 2) ELSE price END AS price,
         d + INTERVAL 1 DAY AS ts
  FROM base WHERE k % 2 = 0
),
upd AS (
  SELECT t.k, t.price, t.valid_from, s.ts
  FROM cur t JOIN src s ON t.k = s.k
  WHERE s.ts > t.valid_from AND s.price IS DISTINCT FROM t.price
),
closed AS (SELECT k, price, valid_from, ts AS valid_to FROM upd),
kept AS (
  SELECT c.k, c.price, c.valid_from, c.valid_to
  FROM cur c LEFT JOIN upd u ON c.k = u.k WHERE u.k IS NULL
),
opened AS (
  SELECT s.k, s.price, s.ts AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to
  FROM src s LEFT JOIN cur c ON s.k = c.k LEFT JOIN upd u ON s.k = u.k
  WHERE c.k IS NULL OR u.k IS NOT NULL
)
SELECT k AS o_orderkey, price AS o_totalprice, valid_from, valid_to FROM hist
UNION ALL SELECT k, price, valid_from, valid_to FROM closed
UNION ALL SELECT k, price, valid_from, valid_to FROM kept
UNION ALL SELECT k, price, valid_from, valid_to FROM opened
"""


@_q("scd2_merge", _SCD2_ORACLE)
def scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey"), F.col("o_totalprice"), F.col("o_orderdate")
    )
    cur = base.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderdate").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    hist = base.filter(
        (F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") % 3 != 0)
    ).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") - 50, 2).alias("o_totalprice"),
        (F.col("o_orderdate") - F.expr("INTERVAL 30 DAY")).alias("valid_from"),
        F.col("o_orderdate").alias("valid_to"),
    )
    target = cur.unionByName(hist)
    source = base.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 4 == 0,
            F.round(F.col("o_totalprice") + 10, 2),
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        (F.col("o_orderdate") + F.expr("INTERVAL 1 DAY")).alias("ts"),
    )
    return M.merge_scd2(target, source, "o_orderkey", "ts")


# ---------------------------------------------------------------------------
# Math suite — the arithmetic scalars that are BIT-EXACT across engines:
# abs/sign/floor/ceil/round, integer modulo and division, greatest/
# least, square via multiplication, IEEE sqrt, and bit ops. (exp/ln/pow
# are deliberately absent: they are libm-dependent and differ in the
# last ulp between runtimes — any future query needing them must round.)
# ---------------------------------------------------------------------------

@_q(
    "math_suite",
    """
SELECT o_orderkey,
       abs(o_totalprice - 200000.0)          AS abs_centered,
       CAST(sign(o_totalprice - 200000.0) AS BIGINT) AS sign_centered,
       CAST(floor(o_totalprice) AS BIGINT)   AS price_floor,
       CAST(ceil(o_totalprice) AS BIGINT)    AS price_ceil,
       ROUND(o_totalprice, 1)                AS price_1dp,
       o_orderkey % 97                       AS key_mod,
       CAST(o_orderkey // 97 AS BIGINT)      AS key_div,
       greatest(o_totalprice, 100000.0)      AS at_least_100k,
       least(o_totalprice, 100000.0)         AS at_most_100k,
       o_totalprice * o_totalprice           AS price_sq,
       sqrt(o_totalprice)                    AS price_sqrt,
       xor(o_orderkey, 255)                  AS key_xor,
       o_orderkey << 2                       AS key_shl
FROM orders
""",
)
def math_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        F.abs(p - 200000.0).alias("abs_centered"),
        # Spark signum → DOUBLE, DuckDB sign → INT: settle on BIGINT
        F.signum(p - 200000.0).cast("long").alias("sign_centered"),
        F.floor(p).cast("long").alias("price_floor"),
        F.ceil(p).cast("long").alias("price_ceil"),
        F.round(p, 1).alias("price_1dp"),
        (k % 97).alias("key_mod"),
        F.floor(k / 97).cast("long").alias("key_div"),
        F.greatest(p, F.lit(100000.0)).alias("at_least_100k"),
        F.least(p, F.lit(100000.0)).alias("at_most_100k"),
        (p * p).alias("price_sq"),
        F.sqrt(p).alias("price_sqrt"),
        k.bitwiseXOR(F.lit(255)).alias("key_xor"),
        F.shiftleft(k, 2).alias("key_shl"),
    )


# ---------------------------------------------------------------------------
# EXISTS semi-join + priority rollup (TPC-H Q4 shape; the reference's
# not-exists/exists family, `SP_upsert_*.sql` WHERE EXISTS guards).
# Spark: LEFT SEMI join — the probe side never duplicates rows, so no
# distinct-before-count is needed; at scale the semi join shuffles only
# the (orderkey) pairs, never the payload.
# ---------------------------------------------------------------------------

@_q(
    "exists_priority",
    """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.05)
GROUP BY o_orderpriority
""",
)
def exists_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.05)
    return (
        orders.join(
            li, orders.o_orderkey == li.l_orderkey, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# Order-count distribution with a zero bucket (TPC-H Q13 shape): LEFT
# join with the filter INSIDE the join condition (not a WHERE — that
# would drop the zero-order customers), then a two-level aggregate.
# Both aggs are on already-shuffled keys; the second input is one row
# per customer, so the second shuffle is tiny.
# ---------------------------------------------------------------------------

@_q(
    "custdist",
    """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderstatus <> 'F'
  GROUP BY c.c_custkey
)
GROUP BY c_count
""",
)
def custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") != "F"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


# ---------------------------------------------------------------------------
# HAVING-filtered join-back (TPC-H Q18 shape): orders whose total
# quantity clears a threshold, enriched with the customer dim. The
# HAVING survivor set is small, so it broadcasts back onto orders —
# the orders/customer sides never shuffle.
# ---------------------------------------------------------------------------

@_q(
    "large_orders",
    """
SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       ROUND(q.sum_qty, 2) AS sum_qty
FROM (
  SELECT l_orderkey, SUM(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 180
) q
JOIN orders o ON o.o_orderkey = q.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
""",
)
def large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    q = (
        li.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.sum("l_quantity").alias("__sq"))
        .filter(F.col("__sq") > 180)
    )
    return (
        orders.join(F.broadcast(q), "o_orderkey")
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round("__sq", 2).alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Anti-join + global scalar subquery (TPC-H Q22 shape): dormant
# high-balance customers — balance above the (rounded) positive-balance
# mean, no order in the final year. The scalar is a 1-row broadcast
# cross join; the recent-orders probe is a LEFT ANTI join (projected to
# the key only before shuffling).
# ---------------------------------------------------------------------------

@_q(
    "dormant_customers",
    """
SELECT c_nationkey, COUNT(*) AS n_custs,
       ROUND(SUM(c_acctbal), 2) AS total_bal
FROM customer c
WHERE c.c_acctbal > (
    SELECT ROUND(AVG(c_acctbal), 2) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
GROUP BY c_nationkey
""",
)
def dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    recent = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2001-01-01 00:00:00")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    thresh = cust.filter(F.col("c_acctbal") > 0).agg(
        F.round(F.avg("c_acctbal"), 2).alias("__avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(recent, "c_custkey", "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# Per-key z-score anomaly detection over the event stream — flag events
# more than 3σ from their user's mean. Variance comes from rounded
# first/second moments (ROUND(SUM,·) at native granularity), so every
# derived quantity — mean, var, z — is the identical IEEE double on
# both engines; never stddev_samp() directly (Welford accumulation
# order diverges across engines in the last ulp, and a last-ulp z at
# the 3σ boundary would flip the filter). One shuffle for the moments,
# one to join them back (at scale the per-key stats table is data-
# sized, so no broadcast).
# ---------------------------------------------------------------------------

@_q(
    "zscore_anomalies",
    """
WITH stats AS (
  SELECT user_id, COUNT(*) AS n,
         ROUND(SUM(value), 2) AS sum_v,
         ROUND(SUM(value * value), 4) AS sum_sq
  FROM events GROUP BY user_id
),
z AS (
  SELECT e.event_id, e.user_id, e.value,
         (e.value - sum_v / n)
           / sqrt((sum_sq - n * (sum_v / n) * (sum_v / n)) / (n - 1)) AS z
  FROM events e JOIN stats s USING (user_id)
  WHERE n > 1
    AND (sum_sq - n * (sum_v / n) * (sum_v / n)) / (n - 1) > 0
)
SELECT event_id, user_id, value, z FROM z WHERE ABS(z) > 3
""",
)
def zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    stats = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_v"),
        F.round(F.sum(F.col("value") * F.col("value")), 4).alias("sum_sq"),
    )
    mean = F.col("sum_v") / F.col("n")
    var = (F.col("sum_sq") - F.col("n") * mean * mean) / (F.col("n") - 1)
    return (
        ev.join(stats, "user_id")
        .filter((F.col("n") > 1) & (var > 0))
        .withColumn("z", (F.col("value") - mean) / F.sqrt(var))
        .filter(F.abs(F.col("z")) > 3)
        .select("event_id", "user_id", "value", "z")
    )


# ---------------------------------------------------------------------------
# Snapshot diff — CDC-style classification of what changed between two
# loads (the reference merges blindly; this is the audit around it).
# Old = orders loaded before 2000-01-01. New = the next load: through
# 2000-07-01, 'F' orders purged, 'O' orders repriced +10%. One full
# outer join on the key; the compare is a null-safe projection.
# ---------------------------------------------------------------------------

@_q(
    "snapshot_diff",
    """
WITH old AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
),
new AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderstatus = 'O'
              THEN ROUND(o_totalprice * 1.1, 2) ELSE o_totalprice END
           AS o_totalprice
  FROM orders
  WHERE o_orderdate < TIMESTAMP '2000-07-01 00:00:00'
    AND o_orderstatus <> 'F'
)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            WHEN (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
              OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
            THEN 'changed' END AS change_type
FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
WHERE CASE WHEN o.o_orderkey IS NULL THEN 'added'
           WHEN n.o_orderkey IS NULL THEN 'removed'
           WHEN (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
             OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
           THEN 'changed' END IS NOT NULL
""",
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import quality as QA

    orders = load(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderdate") < "2000-01-01 00:00:00")
    new = (
        orders.filter(
            (F.col("o_orderdate") < "2000-07-01 00:00:00")
            & (F.col("o_orderstatus") != "F")
        )
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderstatus") == "O",
                F.round(F.col("o_totalprice") * 1.1, 2),
            ).otherwise(F.col("o_totalprice")),
        )
    )
    return QA.snapshot_diff(
        old, new, "o_orderkey", ["o_orderstatus", "o_totalprice"]
    )


# ---------------------------------------------------------------------------
# Data-quality audit — one-row load health report: volume, key
# uniqueness, required-column null counts, FK orphans. Single-table
# metrics in ONE hash aggregate; the orphan probe is an anti-join whose
# 1-row count broadcasts back.
# ---------------------------------------------------------------------------

@_q(
    "dq_audit",
    """
SELECT COUNT(*) AS n_rows,
       COUNT(*) - COUNT(DISTINCT o_orderkey) AS n_dup_keys,
       COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_null_o_custkey,
       COUNT(CASE WHEN o_orderdate IS NULL THEN 1 END) AS n_null_o_orderdate,
       (SELECT COUNT(*) FROM orders o
        WHERE o.o_custkey IS NOT NULL AND NOT EXISTS (
          SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
         AS n_orphans
FROM orders
""",
)
def dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import quality as QA

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    return QA.audit(
        orders,
        "o_orderkey",
        ["o_custkey", "o_orderdate"],
        fk=("o_custkey", cust, "c_custkey"),
    )


# ---------------------------------------------------------------------------
# Set operations — INTERSECT (retained buyers) / EXCEPT (churned
# buyers) across two order-year cohorts. Both compile to aggregate-or-
# semi/anti joins on the projected key only — never a row-level
# comparison of full rows.
# ---------------------------------------------------------------------------

@_q(
    "cohort_set_ops",
    """
WITH y1999 AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '2000-01-01 00:00:00'
),
y2000 AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '2001-01-01 00:00:00'
)
SELECT o_custkey, 'retained' AS cohort FROM (
  SELECT o_custkey FROM y1999 INTERSECT SELECT o_custkey FROM y2000)
UNION ALL
SELECT o_custkey, 'churned' AS cohort FROM (
  SELECT o_custkey FROM y1999 EXCEPT SELECT o_custkey FROM y2000)
""",
)
def cohort_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")

    def cohort(lo: str, hi: str) -> DataFrame:
        # distinct BEFORE the set op: INTERSECT/EXCEPT are set-semantic
        # (exceptAll on the raw multiset would keep keys merely ordered
        # more often in one year than the other)
        return (
            orders.filter(
                (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
            )
            .select("o_custkey")
            .distinct()
        )

    y1999 = cohort("1999-01-01 00:00:00", "2000-01-01 00:00:00")
    y2000 = cohort("2000-01-01 00:00:00", "2001-01-01 00:00:00")
    retained = y1999.intersect(y2000).withColumn("cohort", F.lit("retained"))
    churned = y1999.subtract(y2000).withColumn("cohort", F.lit("churned"))
    return retained.unionByName(churned)


# ---------------------------------------------------------------------------
# LISTAGG — ordered string aggregation (Redshift's LISTAGG(x, ',')
# WITHIN GROUP (ORDER BY x)). Spark has no ordered string_agg: the
# deterministic spelling is collect_list → array_sort → array_join,
# which rides the normal hash aggregate (collect_list partials merge
# map-side; the sort is per-group at the end, never a global sort).
# Grouped on a filtered slice so group payloads stay bounded — LISTAGG
# of unbounded groups is an anti-pattern at any scale.
# ---------------------------------------------------------------------------

@_q(
    "listagg_names",
    """
SELECT c_nationkey,
       string_agg(c_name, ',' ORDER BY c_name) AS names,
       COUNT(*) AS n
FROM customer
WHERE c_acctbal > 9900
GROUP BY c_nationkey
""",
)
def listagg_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9900)
    return cust.groupBy("c_nationkey").agg(
        F.array_join(F.array_sort(F.collect_list("c_name")), ",").alias(
            "names"
        ),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Time-series gap fill — densify daily revenue per order priority over
# a fixed calendar, forward-filling missing days (resample + ffill).
# The calendar is sequence()+explode of ~60 rows cross-joined with the
# tiny priority dim — both broadcast; the fill is last(ignorenulls)
# over a per-priority window, so the only real shuffle is the daily
# aggregate itself.
# ---------------------------------------------------------------------------

@_q(
    "gap_fill_daily",
    """
WITH daily AS (
  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS d,
         ROUND(SUM(o_totalprice), 2) AS revenue
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '2001-06-01 00:00:00'
  GROUP BY 1, 2
),
calendar AS (
  SELECT unnest(generate_series(DATE '2001-06-01', DATE '2001-07-31',
                                INTERVAL 1 DAY))::DATE AS d
),
grid AS (
  SELECT p.o_orderpriority, c.d
  FROM (SELECT DISTINCT o_orderpriority FROM orders) p CROSS JOIN calendar c
)
SELECT o_orderpriority, d,
       COALESCE(last_value(revenue IGNORE NULLS) OVER (
         PARTITION BY o_orderpriority ORDER BY d
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS revenue
FROM grid LEFT JOIN daily USING (o_orderpriority, d)
""",
)
def gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    daily = (
        orders.filter(F.col("o_orderdate") >= "2001-06-01 00:00:00")
        .groupBy(
            "o_orderpriority",
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    calendar = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2001-06-01").cast("date"),
                F.lit("2001-07-31").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("d")
    )
    grid = (
        orders.select("o_orderpriority")
        .distinct()
        .crossJoin(F.broadcast(calendar))
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(F.broadcast(daily), ["o_orderpriority", "d"], "left")
        .withColumn(
            "revenue",
            F.coalesce(F.last("revenue", ignorenulls=True).over(w), F.lit(0.0)),
        )
    )


# ---------------------------------------------------------------------------
# Hypertable-style rollup cascade: minute → hour → day, each coarser
# level aggregated from the PREVIOUS rollup (sum-of-sums / min-of-mins
# — one raw scan total). The oracle computes every level DIRECTLY from
# raw events, so a hash match proves the cascade is exactly associative
# (the integer-cent sums are what make that bit-exact).
# ---------------------------------------------------------------------------

_ROLLUP_ORACLE = """
WITH base AS (
  SELECT event_type, ts, value,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
), lv AS (
  SELECT 'minute' AS resolution, event_type,
         date_trunc('minute', ts) AS bucket_ts,
         COUNT(*) AS n, SUM(cents) AS cents,
         MIN(value) AS min_value, MAX(value) AS max_value
  FROM base GROUP BY 2, 3
  UNION ALL
  SELECT 'hour', event_type, date_trunc('hour', ts),
         COUNT(*), SUM(cents), MIN(value), MAX(value)
  FROM base GROUP BY 2, 3
  UNION ALL
  SELECT 'day', event_type, date_trunc('day', ts),
         COUNT(*), SUM(cents), MIN(value), MAX(value)
  FROM base GROUP BY 2, 3
)
SELECT resolution, event_type, bucket_ts,
       CAST(n AS BIGINT)                          AS n_events,
       CAST(cents AS DOUBLE) / 100                AS sum_value,
       min_value, max_value,
       CAST(cents AS DOUBLE) / (100.0 * n)        AS avg_value
FROM lv
"""


@_q("rollup_cascade", _ROLLUP_ORACLE)
def rollup_cascade_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import rollup as RU

    ev = load(spark, sf_dir, "events")
    return RU.rollup_cascade(ev, "ts", ["event_type"], "value")


# ---------------------------------------------------------------------------
# Fuzzy string join: levenshtein-≤1 pairs over DISTINCT part names
# (min-key representative) via partition-lemma half-fragment equi-joins
# (operators/fuzzy.py — see there for why value-level semantics are the
# scale-sane contract on duplicate-heavy columns). The oracle is the
# brute-force all-pairs join over the distinct values — hash equality
# proves candidate generation is lossless, not merely high-recall.
# ---------------------------------------------------------------------------


@_q(
    "fuzzy_pairs_lev1",
    """
WITH d AS (SELECT p_name, MIN(p_partkey) AS rep FROM part GROUP BY 1)
SELECT a.rep AS id_a, b.rep AS id_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS lev
FROM d a JOIN d b
  ON a.rep < b.rep AND levenshtein(a.p_name, b.p_name) <= 1
""",
)
def fuzzy_pairs_lev1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import fuzzy as FZ

    part = load(spark, sf_dir, "part")
    return FZ.fuzzy_join_lev1(part, "p_partkey", "p_name")


# ---------------------------------------------------------------------------
# SCD2 point-in-time snapshot (AS OF): the temporal read over the SCD2
# merge result — exactly one version per key whose validity interval
# covers the timestamp.
# ---------------------------------------------------------------------------

_SCD2_ASOF = "1998-06-15"


@_q(
    "scd2_asof_snapshot",
    f"""
WITH scd2 AS ({_SCD2_ORACLE})
SELECT o_orderkey, o_totalprice, valid_from, valid_to
FROM scd2
WHERE valid_from <= TIMESTAMP '{_SCD2_ASOF}'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '{_SCD2_ASOF}')
""",
)
def scd2_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.scd2_snapshot(scd2_merge(spark, sf_dir), _SCD2_ASOF)


# ---------------------------------------------------------------------------
# Incremental rollup maintenance: a stored minute rollup over 90% of
# events is refreshed with the remaining 10% as a late-arriving delta
# (operators/rollup.apply_delta). The oracle re-aggregates EVERYTHING
# from raw — hash equality proves the delta merge is exactly
# associative (counts/integer-cents add, min/max combine).
# ---------------------------------------------------------------------------

_DELTA_ORACLE = """
SELECT event_type,
       date_trunc('minute', ts)                    AS bucket_ts,
       CAST(COUNT(*) AS BIGINT)                    AS n_events,
       MIN(value)                                  AS min_value,
       MAX(value)                                  AS max_value,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100
                                                   AS sum_value,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
         / (100.0 * COUNT(*))                      AS avg_value
FROM events GROUP BY 1, 2
"""


@_q("rollup_delta_refresh", _DELTA_ORACLE)
def rollup_delta_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import rollup as RU

    ev = load(spark, sf_dir, "events")
    base = ev.filter(F.col("event_id") % 10 != 0)
    delta = ev.filter(F.col("event_id") % 10 == 0)
    stored = RU.finest_rollup(base, "ts", ["event_type"], "value")
    refreshed = RU.apply_delta(stored, delta, "ts", ["event_type"], "value")
    return RU.finish_rollup(refreshed)


# ---------------------------------------------------------------------------
# Dead-letter validation (operators/quality.validate_split): rules are
# named predicates; quarantined rows carry EVERY failed rule name.
# Rules chosen to overlap on testdata (some rows fail two), proving the
# all-violations reporting, not just first-failure.
# ---------------------------------------------------------------------------

_QUARANTINE_ORACLE = """
WITH flagged AS (
  SELECT *,
         o_orderstatus IN ('O', 'F')                    AS ok_settled_status,
         o_orderdate < TIMESTAMP '2001-01-01'           AS ok_date_window,
         o_totalprice <= 450000.0                       AS ok_price_cap
  FROM orders
)
SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate,
       array_to_string(
         [x FOR x IN [
            CASE WHEN NOT ok_settled_status THEN 'settled_status' END,
            CASE WHEN NOT ok_date_window THEN 'date_window' END,
            CASE WHEN NOT ok_price_cap THEN 'price_cap' END
          ] IF x IS NOT NULL], '|')                     AS violations
FROM flagged
WHERE NOT (ok_settled_status AND ok_date_window AND ok_price_cap)
"""


@_q("quarantine_orders", _QUARANTINE_ORACLE)
def quarantine_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import quality as QL

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    _, quarantined = QL.validate_split(
        orders,
        {
            "settled_status": F.col("o_orderstatus").isin("O", "F"),
            "date_window": F.col("o_orderdate") < F.lit("2001-01-01").cast("timestamp"),
            "price_cap": F.col("o_totalprice") <= 450000.0,
        },
    )
    return quarantined


# ---------------------------------------------------------------------------
# Order-independent table fingerprint (migration validation): BIT_XOR
# over per-row 60-bit hashes, one checksum row per order status. Float
# columns ride as DECIMAL(12,2) strings (raw float formatting is
# engine-specific; decimal casts are not).
# ---------------------------------------------------------------------------

_FPR_ORACLE = """
SELECT o_orderstatus,
       bit_xor(CAST(('0x' || substr(md5(
         CAST(o_orderkey AS VARCHAR) || '|' ||
         CAST(o_custkey AS VARCHAR) || '|' ||
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) || '|' ||
         CAST(o_orderdate AS VARCHAR) || '|' ||
         o_orderpriority
       ), 1, 15)) AS BIGINT))                 AS checksum,
       CAST(COUNT(*) AS BIGINT)               AS n_rows
FROM orders GROUP BY 1
"""


@_q("table_fingerprint", _FPR_ORACLE)
def table_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import quality as QL

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
        "o_orderstatus",
    )
    return QL.table_fingerprint(
        orders,
        cols=["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
              "o_orderpriority"],
        group_by=["o_orderstatus"],
    )


# ---------------------------------------------------------------------------
# Funnel analysis: longest in-order prefix of view→click→purchase per
# user (operators/funnel.py). Spark folds the ordered type array with
# exact integer arithmetic; DuckDB (no typed fold) chains substring
# positions over the pipe-delimited sequence — same integers.
# ---------------------------------------------------------------------------

_FUNNEL_STEPS = ("view", "click", "purchase")


def _funnel_oracle(steps=_FUNNEL_STEPS) -> str:
    ctes = [
        "seq AS (SELECT user_id, COUNT(*) AS n_events,\n"
        "  '|' || string_agg(event_type, '|' ORDER BY ts, event_id) || '|' AS r0\n"
        "  FROM events GROUP BY 1)"
    ]
    for i, step in enumerate(steps, start=1):
        prev = i - 1
        prev_rel = "seq" if i == 1 else f"s{prev}"
        guard = "TRUE" if i == 1 else f"p{prev} > 0"
        hit = f"position('|{step}|' IN r{prev})"
        ctes.append(
            f"s{i} AS (SELECT *, "
            f"CASE WHEN {guard} THEN {hit} ELSE 0 END AS p{i}, "
            f"CASE WHEN {guard} AND {hit} > 0 "
            f"THEN substr(r{prev}, {hit} + {len(step) + 1}) "
            f"ELSE '' END AS r{i} FROM {prev_rel})"
        )
    # depth = first step whose position is 0
    cases = " ".join(
        f"WHEN p{i} = 0 THEN {i - 1}" for i in range(1, len(steps) + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
       CAST(CASE {cases} ELSE {len(steps)} END AS INT) AS funnel_depth
FROM s{len(steps)}
"""
    )


@_q("funnel_depth", _funnel_oracle())
def funnel_depth_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import funnel as FN

    ev = load(spark, sf_dir, "events")
    return FN.funnel_depth(
        ev, "user_id", "ts", "event_type", _FUNNEL_STEPS,
        tiebreak_cols=("event_id",),
    )


# ---------------------------------------------------------------------------
# Weekly retention cohorts (operators/funnel.retention_cohorts): both
# engines truncate to ISO Monday weeks; retention is exact-int division.
# ---------------------------------------------------------------------------


@_q(
    "retention_cohorts",
    """
WITH cohorts AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
  FROM events GROUP BY 1
), activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS active_week FROM events
), sizes AS (
  SELECT cohort_week, COUNT(*) AS n_cohort FROM cohorts GROUP BY 1
), cells AS (
  SELECT c.cohort_week,
         CAST(datediff('day', c.cohort_week, a.active_week) / 7 AS INT)
           AS week_n,
         COUNT(DISTINCT a.user_id) AS n_active
  FROM activity a JOIN cohorts c USING (user_id)
  GROUP BY 1, 2
)
SELECT cohort_week, week_n, CAST(n_active AS BIGINT) AS n_active,
       CAST(n_active AS DOUBLE) / n_cohort AS retention
FROM cells JOIN sizes USING (cohort_week)
""",
)
def retention_cohorts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import funnel as FN

    ev = load(spark, sf_dir, "events")
    return FN.retention_cohorts(ev, "user_id", "ts")


# ---------------------------------------------------------------------------
# Time-weighted average per (user, event_type): each sample holds until
# the next one; weights are integer cents × interval-ms products summed
# as BIGINT (operators/rollup.time_weighted_avg), so the result is
# partition-order-exact and matches the window-based SQL twin.
# ---------------------------------------------------------------------------


@_q(
    "time_weighted_avg",
    """
WITH stepped AS (
  SELECT user_id, event_type,
         (epoch_us(lead(ts) OVER w) - epoch_us(ts)) // 1000 AS dur_ms,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
)
SELECT user_id, event_type,
       CAST(SUM(cents * dur_ms) AS DOUBLE) / (100.0 * SUM(dur_ms))
         AS time_weighted_avg,
       CAST(COUNT(*) AS BIGINT) AS n_intervals
FROM stepped WHERE dur_ms IS NOT NULL
GROUP BY 1, 2
""",
)
def time_weighted_avg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import rollup as RU

    ev = load(spark, sf_dir, "events")
    return RU.time_weighted_avg(
        ev, ["user_id", "event_type"], "ts", "value", tiebreak_col="event_id"
    )


# ---------------------------------------------------------------------------
# Markov transition matrix over per-user event streams
# (operators/funnel.transition_matrix).
# ---------------------------------------------------------------------------


@_q(
    "event_transitions",
    """
WITH pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_type
  FROM events
), counts AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
       CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type) AS p
FROM counts
""",
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import funnel as FN

    ev = load(spark, sf_dir, "events")
    return FN.transition_matrix(ev, "user_id", "ts", "event_type", "event_id")


# ---------------------------------------------------------------------------
# Entity resolution by composition: fuzzy lev-1 name pairs
# (operators/fuzzy.py) → connected components (operators/dedup.py) →
# name clusters with a canonical representative. The oracle rebuilds
# the same edges brute-force and closes them with a recursive CTE.
# ---------------------------------------------------------------------------


@_q(
    "fuzzy_name_clusters",
    """
WITH RECURSIVE
d AS (SELECT p_name, MIN(p_partkey) AS rep FROM part GROUP BY 1),
pairs AS (
  SELECT a.rep AS id_a, b.rep AS id_b
  FROM d a JOIN d b
    ON a.rep < b.rep AND levenshtein(a.p_name, b.p_name) <= 1
),
sym AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT component, CAST(COUNT(*) AS BIGINT) AS n_names FROM (
  SELECT a AS node, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
)
GROUP BY component
""",
)
def fuzzy_name_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as DD
    from ..operators import fuzzy as FZ

    part = load(spark, sf_dir, "part")
    pairs = FZ.fuzzy_join_lev1(part, "p_partkey", "p_name")
    cc = DD.connected_components(pairs, "id_a", "id_b")
    return cc.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_names")
    )


# ---------------------------------------------------------------------------
# Peak concurrency per event_type (operators/rollup.peak_concurrency):
# intervals are [ts, ts + value seconds); +1/-1 sweep with an integer
# running sum — ends sort before coincident starts, so back-to-back
# intervals never double-count.
# ---------------------------------------------------------------------------


@_q(
    "peak_concurrency",
    """
WITH iv AS (
  SELECT event_type, ts AS start_ts,
         ts + INTERVAL 1 SECOND * CAST(ROUND(value) AS BIGINT) AS end_ts
  FROM events
), pts AS (
  SELECT event_type, start_ts AS t, 1 AS delta FROM iv
  UNION ALL
  SELECT event_type, end_ts, -1 FROM iv
), live AS (
  SELECT event_type, t, delta,
         SUM(delta) OVER (
           PARTITION BY event_type ORDER BY t, delta
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS live
  FROM pts
), peaks AS (
  SELECT event_type, MAX(live) AS peak FROM live GROUP BY 1
)
SELECT l.event_type,
       CAST(p.peak AS INT) AS peak_concurrency,
       MIN(CASE WHEN l.live = p.peak THEN l.t END) AS peak_at
FROM live l JOIN peaks p USING (event_type)
GROUP BY 1, 2
""",
)
def peak_concurrency_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import rollup as RU

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").alias("start_ts"),
        (
            F.col("ts")
            + (F.round(F.col("value"), 0).cast("long")).cast("string")
            .cast("interval second")
        ).alias("end_ts"),
    )
    return RU.peak_concurrency(ev, ["event_type"], "start_ts", "end_ts")


# ---------------------------------------------------------------------------
# Interval-union coverage per event_type: merged overlapping intervals,
# exact integer microseconds (operators/rollup.interval_coverage).
# ---------------------------------------------------------------------------


@_q(
    "interval_coverage",
    """
WITH iv AS (
  SELECT event_type, ts AS start_ts,
         ts + INTERVAL 1 SECOND * CAST(ROUND(value) AS BIGINT) AS end_ts
  FROM events
), pts AS (
  SELECT event_type, start_ts AS t, 1 AS delta FROM iv
  UNION ALL
  SELECT event_type, end_ts, -1 FROM iv
), live AS (
  SELECT event_type, t, delta,
         SUM(delta) OVER (
           PARTITION BY event_type ORDER BY t, delta
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS live,
         lead(t) OVER (PARTITION BY event_type ORDER BY t, delta) AS next_t
  FROM pts
)
SELECT event_type,
       CAST(SUM(CASE WHEN next_t IS NOT NULL AND live > 0
                     THEN epoch_us(next_t) - epoch_us(t) ELSE 0 END)
            AS BIGINT)                                        AS covered_us,
       CAST(MAX(epoch_us(t)) - MIN(epoch_us(t)) AS BIGINT)    AS span_us
FROM live
GROUP BY 1
""",
)
def interval_coverage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import rollup as RU

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").alias("start_ts"),
        (
            F.col("ts")
            + (F.round(F.col("value"), 0).cast("long")).cast("string")
            .cast("interval second")
        ).alias("end_ts"),
    )
    return RU.interval_coverage(ev, ["event_type"], "start_ts", "end_ts")


# ---------------------------------------------------------------------------
# Per-key linear trend (operators/rollup.linear_trend): exact OLS from
# BIGINT moment sums over shifted-minute x and cent y; only the final
# closed form runs in double — identical expression both engines.
# ---------------------------------------------------------------------------


@_q(
    "linear_trend",
    """
WITH m0 AS (
  SELECT event_type, MIN(epoch_us(ts)) AS t0 FROM events GROUP BY 1
), pts AS (
  SELECT e.event_type,
         (epoch_us(e.ts) - m0.t0) // 60000000 AS x,
         CAST(ROUND(e.value * 100) AS BIGINT) AS y
  FROM events e JOIN m0 USING (event_type)
), m AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
  FROM pts GROUP BY 1
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_points,
       CASE WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0 THEN
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) / 100
       END AS slope_per_min,
       CASE WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0 THEN
         (CAST(sy AS DOUBLE)
          - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)) * sx)
         / (CAST(n AS DOUBLE) * 100)
       END AS intercept,
       CASE WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
             AND CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0 THEN
         ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
          * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy))
         / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
            * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
       END AS r2
FROM m
""",
)
def linear_trend_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import rollup as RU

    ev = load(spark, sf_dir, "events")
    return RU.linear_trend(ev, ["event_type"], "ts", "value")


# ---------------------------------------------------------------------------
# Iterative dataflow — exact-integer PageRank over the customer↔supplier
# trade graph (who-bought-from-whom, symmetrized so no rank dangles).
# Each iteration is join + integer aggregate; scaled-integer arithmetic
# makes the result bit-identical across engines and partitionings, so a
# 3-iteration unrolled-CTE DuckDB twin hash-matches exactly — the same
# determinism discipline as connected_components and the k-means
# codebook. operators/graph.py documents the per-iteration shuffle
# model and the 100 TB layout (pre-partition edges by src once).
# ---------------------------------------------------------------------------

_PAGERANK_EDGES_SQL = """
WITH fwd AS (
  SELECT DISTINCT o_custkey AS src, -l_suppkey - 1 AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
)
SELECT src, dst FROM fwd UNION SELECT dst, src FROM fwd
"""


def _pagerank_oracle() -> str:
    from ..operators.graph import pagerank_oracle_sql

    return pagerank_oracle_sql(_PAGERANK_EDGES_SQL, iterations=3)


@_q("trade_pagerank", _pagerank_oracle())
def trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph as G

    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    fwd = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (-F.col("l_suppkey") - 1).alias("dst"),
        )
    )
    # Supplier key s ↦ -s-1 (bitwise NOT): strictly negative for every
    # s ≥ 0, so customer ids (≥ 0) and encoded supplier ids (< 0) are
    # disjoint at EVERY scale factor — unlike a fixed additive offset,
    # which custkeys outgrow (1e6 offset collides at roughly SF>=7),
    # and unlike plain negation, which collides at key 0 (present in
    # this corpus). Disjointness is the bipartite promise behind
    # disjoint_domains (dedup on |E|, map-only reversal).
    edges = G.symmetric_edges(fwd, "src", "dst", disjoint_domains=True)
    return G.pagerank(edges, iterations=3, symmetric=True).orderBy(
        F.desc("rank"), F.asc("node")
    )


# ---------------------------------------------------------------------------
# Mergeable quantile rollup — daily fixed-bin histograms of event value
# merged to per-type, then p50/p90/p99 read off the merged bins. The
# Spark side goes through the day level and re-aggregates (the thing
# exact percentiles cannot do); the oracle bins directly per type —
# hash-equality IS the proof that merge-of-histograms ≡
# histogram-of-union. Bin selection is integer-exact; only the final
# midpoint doubles are floating (per-row, engine-identical formula).
# ---------------------------------------------------------------------------

@_q(
    "value_quantile_rollup",
    """
WITH b AS (
  SELECT event_type,
         LEAST(249, GREATEST(0,
           CAST(FLOOR((value - 0.0) / 2.0) AS BIGINT))) AS bin
  FROM events WHERE value IS NOT NULL
),
h AS (SELECT event_type, bin, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
c AS (
  SELECT event_type, bin, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM h
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_rows,
       0.0 + (CAST(MIN(CASE WHEN cum * 2 >= n THEN bin END) AS DOUBLE)
              + 0.5) * 2.0 AS p50,
       0.0 + (CAST(MIN(CASE WHEN cum * 10 >= n * 9 THEN bin END) AS DOUBLE)
              + 0.5) * 2.0 AS p90,
       0.0 + (CAST(MIN(CASE WHEN cum * 100 >= n * 99 THEN bin END) AS DOUBLE)
              + 0.5) * 2.0 AS p99
FROM c
GROUP BY event_type
ORDER BY event_type
""",
)
def value_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import rollup as RU

    ev = load(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    daily = RU.binned_histogram(
        ev, ["event_type", "day"], "value", lo=0.0, width=2.0, bins=250
    )
    merged = RU.merge_binned(daily, ["event_type"])
    return RU.binned_quantiles(
        merged,
        ["event_type"],
        [(1, 2), (9, 10), (99, 100)],
        lo=0.0,
        width=2.0,
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Moving percentiles from stored daily histograms: the trailing-3-day
# p50/p90 of event value per type, per day — daily bin counts replicate
# to the windows they belong to (explode of 3 offsets + one hash agg),
# then the quantile reads off the merged bins. No per-window sort, no
# range-window over raw rows; windows lengthen for free because
# histograms SUM. Bin selection integer-exact as in
# value_quantile_rollup.
# ---------------------------------------------------------------------------

@_q(
    "rolling_value_quantiles",
    """
WITH b AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         LEAST(249, GREATEST(0,
           CAST(FLOOR((value - 0.0) / 2.0) AS BIGINT))) AS bin
  FROM events WHERE value IS NOT NULL
),
h AS (SELECT event_type, day, bin, COUNT(*) AS cnt FROM b GROUP BY 1, 2, 3),
r AS (
  SELECT event_type, day + CAST(o.o AS INT) AS day, bin, cnt
  FROM h CROSS JOIN (SELECT unnest(range(0, 3)) AS o) o
),
rh AS (SELECT event_type, day, bin, SUM(cnt) AS cnt FROM r GROUP BY 1, 2, 3),
days AS (SELECT DISTINCT event_type, day FROM b),
h3 AS (
  SELECT rh.event_type, rh.day, rh.bin, rh.cnt
  FROM rh JOIN days ON rh.event_type = days.event_type
                   AND rh.day = days.day
),
c AS (
  SELECT event_type, day, bin, cnt,
         SUM(cnt) OVER (PARTITION BY event_type, day ORDER BY bin) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type, day) AS n
  FROM h3
)
SELECT event_type, day,
       CAST(MAX(n) AS BIGINT) AS n_rows,
       0.0 + (CAST(MIN(CASE WHEN cum * 2 >= n THEN bin END) AS DOUBLE)
              + 0.5) * 2.0 AS p50,
       0.0 + (CAST(MIN(CASE WHEN cum * 10 >= n * 9 THEN bin END) AS DOUBLE)
              + 0.5) * 2.0 AS p90
FROM c
GROUP BY event_type, day
ORDER BY event_type, day
""",
)
def rolling_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import rollup as RU

    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .withColumn("day", F.to_date("ts"))
    )
    daily = RU.binned_histogram(
        ev, ["event_type", "day"], "value", lo=0.0, width=2.0, bins=250
    )
    rolled = RU.rolling_binned_histogram(daily, ["event_type"], "day", 3)
    days = ev.select("event_type", "day").distinct()
    h3 = rolled.join(days, ["event_type", "day"], "left_semi")
    return RU.binned_quantiles(
        h3, ["event_type", "day"], [(1, 2), (9, 10)], lo=0.0, width=2.0
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# Change-point detection — per event type the day-index maximizing the
# classic CUSUM statistic |pre·(n−i) − post·i| = n·|Σ_{j≤i}(x_j − x̄)|
# (the i·(n−i)-weighted mean shift — central sustained level changes
# beat noisy edge splits by design): pure integer window sums over
# integer-cent daily totals, no division, so split choice and shift
# sign are engine-exact. The step-detector run over a metric before
# trusting its trend (operators/rollup.change_point documents the
# weighting and overflow headroom).
# ---------------------------------------------------------------------------

@_q(
    "volume_change_point",
    """
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS dv
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
c AS (
  SELECT event_type, day,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
         SUM(dv) OVER (PARTITION BY event_type ORDER BY day) AS pre,
         SUM(dv) OVER (PARTITION BY event_type) AS tot,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM d
),
s AS (
  SELECT event_type, i, n,
         pre * (n - i) - (tot - pre) * i AS obj,
         ABS(pre * (n - i) - (tot - pre) * i) AS a
  FROM c WHERE i < n
),
r AS (
  SELECT event_type, i, n, obj,
         row_number() OVER (
           PARTITION BY event_type ORDER BY a DESC, i ASC
         ) AS rn
  FROM s
)
SELECT event_type, CAST(i AS BIGINT) AS split_pos,
       CAST(n AS BIGINT) AS n, CAST(obj AS BIGINT) AS shift_scaled
FROM r WHERE rn = 1 ORDER BY event_type
""",
)
def volume_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import rollup as RU

    daily = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("dv")
        )
    )
    return RU.change_point(
        daily, ["event_type"], "day", "dv", scale=1
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Mergeable top-k rollup — daily top-3 orders by price per priority,
# merged to priority level; the Spark side goes THROUGH the stored
# daily summaries (merge touches only k rows per group) while the
# oracle ranks directly over raw orders — hash equality proves
# topk(merge of stored top-ks) ≡ topk(union), the property that makes
# leaderboards incrementally maintainable. (value DESC, id ASC) total
# order fixes ties identically on both engines.
# ---------------------------------------------------------------------------

@_q(
    "topk_rollup_orders",
    """
SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (
           PARTITION BY o_orderpriority
           ORDER BY o_totalprice DESC, o_orderkey ASC
         ) AS rank
  FROM orders
) WHERE rank <= 3
ORDER BY o_orderpriority, rank
""",
)
def topk_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import rollup as RU

    o = load(spark, sf_dir, "orders").withColumn(
        "day", F.to_date("o_orderdate")
    )
    daily = RU.topk_rollup(
        o, ["o_orderpriority", "day"], "o_orderkey", "o_totalprice", 3
    )
    merged = RU.merge_topk(daily, ["o_orderpriority"], 3)
    return (
        merged.select(
            "o_orderpriority", F.posexplode("topk").alias("pos", "e")
        )
        .select(
            "o_orderpriority",
            F.col("e.id").alias("o_orderkey"),
            F.col("e.value").alias("o_totalprice"),
            (F.col("pos") + 1).cast("int").alias("rank"),
        )
        .orderBy("o_orderpriority", "rank")
    )


# ---------------------------------------------------------------------------
# Seasonal (day-of-week) anomaly detection: daily volumes compare
# against their weekday's own baseline, catching "quiet Tuesday" /
# "hot Sunday" deviations a global z-score smears over. Same
# rounded-moments discipline as zscore_anomalies (never stddev_samp);
# weekday parity: Spark weekday()+1 ≡ DuckDB isodow (Monday=1).
# ---------------------------------------------------------------------------

@_q(
    "dow_seasonal_anomalies",
    """
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         isodow(CAST(ts AS DATE)) AS dow,
         ROUND(SUM(value), 2) AS dv
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3
),
stats AS (
  SELECT event_type, dow, COUNT(*) AS n,
         ROUND(SUM(dv), 2) AS sum_v,
         ROUND(SUM(dv * dv), 4) AS sum_sq
  FROM d GROUP BY 1, 2
),
z AS (
  SELECT d.event_type, d.day, d.dv,
         (d.dv - sum_v / n)
           / sqrt((sum_sq - n * (sum_v / n) * (sum_v / n)) / (n - 1)) AS z
  FROM d JOIN stats s ON d.event_type = s.event_type AND d.dow = s.dow
  WHERE n > 1
    AND (sum_sq - n * (sum_v / n) * (sum_v / n)) / (n - 1) > 0
)
SELECT event_type, day, dv, z FROM z WHERE ABS(z) > 1.3
ORDER BY event_type, day
""",
)
def dow_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.to_date("ts").alias("day"),
            (F.weekday(F.to_date("ts")) + 1).alias("dow"),
        )
        .agg(F.round(F.sum("value"), 2).alias("dv"))
    )
    stats = d.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("dv"), 2).alias("sum_v"),
        F.round(F.sum(F.col("dv") * F.col("dv")), 4).alias("sum_sq"),
    )
    mean = F.col("sum_v") / F.col("n")
    var = (F.col("sum_sq") - F.col("n") * mean * mean) / (F.col("n") - 1)
    z = (F.col("dv") - mean) / F.sqrt(var)
    return (
        d.join(stats, ["event_type", "dow"])
        .filter((F.col("n") > 1) & (var > 0))
        .select("event_type", "day", "dv", z.alias("z"))
        .filter(F.abs(F.col("z")) > 1.3)
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# Statistical suite: Pearson correlation + chi-square independence.
# Both from EXACT integer moment sums (quantity is integral, discount
# is 2-decimal → ×100 cents), combined in one shared formula string so
# Spark and DuckDB evaluate byte-identical arithmetic; the only libm
# call (sqrt) is rounded at 6 like the cosine queries. The integer
# moments stay below 2^53 through sf0.1 (n≤6·10⁵, x≤50, y≤10), so the
# double combination is EXACT — at larger corpora switch the moment
# sums to DECIMAL(38,0) before combining.
# ---------------------------------------------------------------------------

# each inner moment product fits int64 through sf0.1, but the PRODUCT
# of the two variance terms does not — cast each factor to double
# before the final multiply (exact: both factors < 2^53)
_CORR_EXPR = (
    "ROUND((CAST(n * sxy AS DOUBLE) - CAST(sx * sy AS DOUBLE)) / "
    "sqrt(CAST(n * sxx - sx * sx AS DOUBLE)"
    " * CAST(n * syy - sy * sy AS DOUBLE)), 6)"
)

_CORR_GUARD = (
    "CAST(n * sxx - sx * sx AS DOUBLE)"
    " * CAST(n * syy - sy * sy AS DOUBLE) > 0"
)


@_q(
    "qty_discount_correlation",
    f"""
WITH m AS (
  SELECT l_returnflag,
    CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
    CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) AS sy,
    CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
      AS BIGINT) AS sxx,
    CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)
           * CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) AS syy,
    CAST(SUM(CAST(l_quantity AS BIGINT)
           * CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n, {_CORR_EXPR} AS corr_qty_discount
FROM m WHERE {_CORR_GUARD}
""",
)
def qty_discount_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs discount per return flag —
    one hash agg of five exact-BIGINT moment sums, then the closed form
    in double (exact below 2^53) with the sqrt rounded at 6. Never
    `F.corr` (its internal accumulation is engine/partitioning-
    dependent)."""
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.round(F.col("l_discount") * 100, 0).cast("long")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x * x).cast("long").alias("sxx"),
        F.sum(y * y).cast("long").alias("syy"),
        F.sum(x * y).cast("long").alias("sxy"),
    )
    return m.filter(F.expr(_CORR_GUARD)).select(
        "l_returnflag",
        "n",
        F.expr(_CORR_EXPR).alias("corr_qty_discount"),
    )


# Shared by the Spark expr AND the DuckDB oracle. Factors are cast to
# DOUBLE BEFORE multiplying (the _CORR_EXPR discipline): the int64
# products obs*n_tot / row_tot*col_tot overflow (throw under Spark ANSI
# mode) once totals pass ~3e9 rows; double products are exact below
# 2^53 so values are bit-identical at any committed SF.
_CHI_CONTRIB = (
    "(CAST(obs AS DOUBLE) * CAST(n_tot AS DOUBLE)"
    "  - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE))"
    " * (CAST(obs AS DOUBLE) * CAST(n_tot AS DOUBLE)"
    "  - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE))"
    " / (CAST(n_tot AS DOUBLE) * row_tot * col_tot)"
)

_VALUE_BUCKET = (
    "CASE WHEN value < 150 THEN 'low' "
    "WHEN value < 300 THEN 'mid' ELSE 'high' END"
)


@_q(
    "event_type_independence",
    f"""
WITH cells AS (
  SELECT event_type, {_VALUE_BUCKET} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS obs
  FROM events GROUP BY 1, 2
),
rows_ AS (
  SELECT event_type, CAST(SUM(obs) AS BIGINT) AS row_tot
  FROM cells GROUP BY 1
),
cols_ AS (
  SELECT bucket, CAST(SUM(obs) AS BIGINT) AS col_tot FROM cells GROUP BY 1
),
tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS n_tot FROM cells),
contrib AS (
  SELECT {_CHI_CONTRIB} AS c,
         CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
           / CAST(n_tot AS DOUBLE) AS rc_over_n,
         n_tot
  FROM cells JOIN rows_ USING (event_type) JOIN cols_ USING (bucket)
  CROSS JOIN tot
)
SELECT
  CAST(SUM(CAST(ROUND(c * 1000000) AS BIGINT))
       + ANY_VALUE(n_tot) * 1000000
       - SUM(CAST(ROUND(rc_over_n * 1000000) AS BIGINT))
       AS DOUBLE) / 1000000.0
    AS chi_square,
  (SELECT CAST((COUNT(*) - 1) AS BIGINT) FROM rows_)
    * (SELECT CAST((COUNT(*) - 1) AS BIGINT) FROM cols_) AS dof
FROM contrib
""",
)
def event_type_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event type and a fixed
    value bucketing — the contingency machinery every analytics engine
    owes its users. Observed/marginal counts are one agg + two
    re-aggregations of the tiny cells frame (broadcast back); each
    cell's (obs·N − row·col)²/(N·row·col) is deterministic double
    arithmetic over exact BIGINTs, and the cross-cell sum uses the
    scaled-int pattern so cell order can't matter."""
    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.expr(_VALUE_BUCKET).alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("obs"))
    rows_ = cells.groupBy("event_type").agg(
        F.sum("obs").cast("long").alias("row_tot")
    )
    cols_ = cells.groupBy("bucket").agg(
        F.sum("obs").cast("long").alias("col_tot")
    )
    tot = cells.agg(F.sum("obs").cast("long").alias("n_tot"))
    dof = (
        rows_.agg(F.count(F.lit(1)).alias("nr"))
        .crossJoin(cols_.agg(F.count(F.lit(1)).alias("nc")))
        .select(
            ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof")
        )
    )
    # structurally-zero cells (a (type, bucket) pair never observed —
    # sf0.001 has four) still owe chi-square their expected mass
    # row*col/N; Σ_all r*c = N² folds them in without densifying:
    # chi² = Σ_obs contrib + N − Σ_obs r*c/N (same fix as
    # quality.cramers_v, which this query predates)
    rc_over_n = (
        F.col("row_tot").cast("double")
        * F.col("col_tot").cast("double")
        / F.col("n_tot").cast("double")
    )
    contrib = (
        cells.join(F.broadcast(rows_), "event_type")
        .join(F.broadcast(cols_), "bucket")
        .crossJoin(F.broadcast(tot))
        .select(
            F.expr(_CHI_CONTRIB).alias("c"),
            rc_over_n.alias("rc_over_n"),
            "n_tot",
        )
    )
    chi = contrib.agg(
        (
            (
                F.sum(F.round(F.col("c") * 1000000, 0).cast("long"))
                + F.first("n_tot") * F.lit(1_000_000)
                - F.sum(
                    F.round(F.col("rc_over_n") * 1000000, 0).cast("long")
                )
            ).cast("double")
            / 1000000.0
        ).alias("chi_square")
    )
    return chi.crossJoin(F.broadcast(dof))


# ---------------------------------------------------------------------------
# Label-propagation communities over the same trade graph as
# trade_pagerank — deterministic LPA (most-frequent neighbor label,
# smallest label on ties), 3 unrolled iterations so the DuckDB twin
# replays the exact recurrence. operators/graph.py documents the
# per-iteration shuffle model.
# ---------------------------------------------------------------------------

def _lpa_oracle() -> str:
    from ..operators.graph import label_propagation_oracle_sql

    return label_propagation_oracle_sql(_PAGERANK_EDGES_SQL, iterations=3)


@_q("trade_communities", _lpa_oracle())
def trade_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph as G

    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    fwd = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            # supplier key ↦ -s-1 — collision-proof at every SF
            # (see trade_pagerank)
            (-F.col("l_suppkey") - 1).alias("dst"),
        )
    )
    edges = G.symmetric_edges(fwd, "src", "dst")
    labels = G.label_propagation(edges, iterations=3)
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


# ---------------------------------------------------------------------------
# Interval×interval overlap join — error windows vs purchase windows
# (did a purchase run INSIDE an outage?). The point-in-interval
# machinery can't express this; operators/rangejoin.interval_overlap_join
# buckets BOTH sides and emits each overlapping pair exactly once in
# the later-starting interval's first bucket (no dedup shuffle). The
# oracle is the plain non-equi join.
# ---------------------------------------------------------------------------

@_q(
    "interval_overlap_pairs",
    """
WITH err AS (
  SELECT event_id AS error_id, epoch(ts) AS ls,
         epoch(ts + INTERVAL 5 MINUTE) AS le
  FROM events WHERE event_type = 'error'
),
pur AS (
  SELECT event_id AS purchase_id, epoch(ts) AS rs,
         epoch(ts + INTERVAL 5 MINUTE) AS re
  FROM events WHERE event_type = 'purchase'
)
SELECT error_id, purchase_id,
       ROUND(least(le, re) - greatest(ls, rs), 6) AS overlap_s
FROM err JOIN pur ON ls < re AND rs < le
""",
)
def interval_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import rangejoin as RJ

    ev = load(spark, sf_dir, "events")

    def _epoch_s(c: F.Column) -> F.Column:
        return c.cast("timestamp").cast("double")

    err = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        _epoch_s(F.col("ts")).alias("ls"),
        _epoch_s(F.col("ts") + F.expr("INTERVAL 5 MINUTE")).alias("le"),
    )
    pur = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        _epoch_s(F.col("ts")).alias("rs"),
        _epoch_s(F.col("ts") + F.expr("INTERVAL 5 MINUTE")).alias("re"),
    )
    joined = RJ.interval_overlap_join(
        err, pur, "ls", "le", "rs", "re", bucket_width=300.0
    )
    return joined.select(
        "error_id",
        "purchase_id",
        F.round(
            F.least("le", "re") - F.greatest("ls", "rs"), 6
        ).alias("overlap_s"),
    )


# ---------------------------------------------------------------------------
# Windowed funnel — view → click → purchase where each step must land
# within 30 minutes of the previous (the conversion-window variant of
# funnel_depth). Greedy earliest-attempt semantics, so the DuckDB twin
# is the same chained min-within-window joins.
# ---------------------------------------------------------------------------

@_q(
    "windowed_funnel_counts",
    """
WITH ev AS (
  SELECT user_id AS u, epoch(ts) AS t, event_type AS ty FROM events
),
s1 AS (SELECT u, MIN(t) AS prev FROM ev WHERE ty = 'view' GROUP BY u),
s2 AS (
  SELECT ev.u, MIN(t) AS prev
  FROM ev JOIN s1 ON ev.u = s1.u
  WHERE ty = 'click' AND t > s1.prev AND t <= s1.prev + 86400
  GROUP BY ev.u
),
s3 AS (
  SELECT ev.u, MIN(t) AS prev
  FROM ev JOIN s2 ON ev.u = s2.u
  WHERE ty = 'purchase' AND t > s2.prev AND t <= s2.prev + 86400
  GROUP BY ev.u
),
depth AS (
  SELECT s1.u,
    CASE WHEN s3.u IS NOT NULL THEN 3
         WHEN s2.u IS NOT NULL THEN 2
         ELSE 1 END AS funnel_depth
  FROM s1 LEFT JOIN s2 ON s1.u = s2.u LEFT JOIN s3 ON s1.u = s3.u
)
SELECT CAST(funnel_depth AS BIGINT) AS funnel_depth,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM depth GROUP BY 1
""",
)
def windowed_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import funnel as FU

    ev = load(spark, sf_dir, "events")
    depth = FU.windowed_funnel(
        ev,
        "user_id",
        F.col("ts").cast("timestamp").cast("double"),
        "event_type",
        ("view", "click", "purchase"),
        window_s=86400.0,
    )
    return depth.groupBy("funnel_depth").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


# ---------------------------------------------------------------------------
# Exact MODE per group — most frequent value bucket per event type,
# deterministic smallest-bucket tie (min-struct agg, no window — the
# same argmax discipline as label_propagation's pick).
# ---------------------------------------------------------------------------

@_q(
    "modal_event_bucket",
    """
WITH b AS (
  SELECT event_type, CAST(floor(value / 50) AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type, bucket AS modal_bucket, n AS n_in_mode FROM (
  SELECT event_type, bucket, n,
         row_number() OVER (
           PARTITION BY event_type ORDER BY n DESC, bucket ASC
         ) AS rk
  FROM b
) WHERE rk = 1
""",
)
def modal_event_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    b = ev.groupBy(
        "event_type",
        F.floor(F.col("value") / 50).cast("long").alias("bucket"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    picked = b.groupBy("event_type").agg(
        F.min(
            F.struct((-F.col("n")).alias("neg"), F.col("bucket"), F.col("n"))
        ).alias("m")
    )
    return picked.select(
        "event_type",
        F.col("m.bucket").alias("modal_bucket"),
        F.col("m.n").alias("n_in_mode"),
    )


# ---------------------------------------------------------------------------
# Weekly active users + week-over-week delta — the growth dashboard
# primitive: exact distinct users per ISO week, lag delta. One distinct
# agg + one ordered window over the tiny weekly frame.
# ---------------------------------------------------------------------------

@_q(
    "weekly_active_users",
    """
WITH w AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week_start,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
  FROM events GROUP BY 1
)
SELECT week_start, wau,
       wau - lag(wau) OVER (ORDER BY week_start) AS wow_delta
FROM w
""",
)
def weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = ev.groupBy(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week_start")
    ).agg(F.countDistinct("user_id").cast("long").alias("wau"))
    win = Window.orderBy("week_start")
    return w.select(
        "week_start",
        "wau",
        (F.col("wau") - F.lag("wau").over(win)).alias("wow_delta"),
    )


# ---------------------------------------------------------------------------
# Skew pre-flight report — the heaviest join keys with the salt factor
# `operators/skew.salted_join` wants (here with a tiny per-task target
# so the synthetic data actually recommends salts > 1).
# ---------------------------------------------------------------------------

@_q(
    "orderkey_skew_report",
    """
WITH counts AS (
  SELECT CAST(l_suppkey AS STRING) AS key_value,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM lineitem GROUP BY 1
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM lineitem),
top AS (
  SELECT key_value, n_rows FROM counts
  ORDER BY n_rows DESC, key_value ASC LIMIT 20
)
SELECT key_value, n_rows,
       CAST(n_rows AS DOUBLE) / t AS share,
       CAST(greatest(1, CAST(ceil(n_rows / 50.0) AS BIGINT)) AS BIGINT)
         AS recommended_salts
FROM top CROSS JOIN tot
""",
)
def orderkey_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import skew as SK

    li = load(spark, sf_dir, "lineitem")
    return SK.skew_report(li, "l_suppkey", target_rows_per_task=50)


# ---------------------------------------------------------------------------
# Incremental join-view maintenance — the orders⋈lineitem view is
# refreshed from pre-1998 state with the 1998+ append deltas via the
# three delta joins (operators/rollup.delta_join_refresh); the oracle
# computes the full refreshed join from scratch, so a hash match IS the
# IVM identity holding on real data.
# ---------------------------------------------------------------------------

@_q(
    "order_lineitem_delta_join",
    """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
""",
)
def order_lineitem_delta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import rollup as RU

    cut = "1998-01-01"
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_extendedprice",
        "l_shipdate",
    )
    o_old = o.filter(F.col("o_orderdate") < cut)
    o_new = o.filter(F.col("o_orderdate") >= cut)
    li_old = li.filter(F.col("l_shipdate") < cut)
    li_new = li.filter(F.col("l_shipdate") >= cut)
    cols = ["o_orderkey", "o_orderpriority", "l_extendedprice"]
    view = o_old.join(li_old, "o_orderkey").select(*cols)
    refreshed = RU.delta_join_refresh(
        view,
        o_old.select("o_orderkey", "o_orderpriority"),
        o_new.select("o_orderkey", "o_orderpriority"),
        li_old.drop("l_shipdate"),
        li_new.drop("l_shipdate"),
        "o_orderkey",
    )
    return refreshed.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(
            F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        ).cast("long").alias("revenue_cents"),
    )


# ---------------------------------------------------------------------------
# SCD2 history rebuilt from a CDC feed — every I/U opens a version,
# any later change on the key (including the delete) closes it. The
# feed is synthesized from orders: insert at o_orderdate, update two
# days later for even keys, delete thirty days later for %5 keys.
# ---------------------------------------------------------------------------

_SCD2_CDC_FEED = """
  feed AS (
    SELECT o_orderkey, o_orderstatus AS status, o_totalprice AS price,
           o_orderdate AS ts, 'I' AS op
    FROM orders
    UNION ALL
    SELECT o_orderkey, 'U', ROUND(o_totalprice + 5.0, 2),
           o_orderdate + INTERVAL 2 DAY, 'U'
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, NULL, NULL,
           o_orderdate + INTERVAL 30 DAY, 'D'
    FROM orders WHERE o_orderkey % 5 = 0
  )
"""


@_q(
    "scd2_history_from_cdc",
    f"""
WITH {_SCD2_CDC_FEED},
closed AS (
  SELECT *, lead(ts) OVER (PARTITION BY o_orderkey ORDER BY ts)
    AS valid_to
  FROM feed
)
SELECT o_orderkey, status, price, ts, valid_to,
       ts AS valid_from, valid_to IS NULL AS is_current
FROM closed WHERE op <> 'D'
""",
)
def scd2_history_from_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    ins = orders.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderdate").alias("ts"),
        F.lit("I").alias("op"),
    )
    upd = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.lit("U").alias("status"),
        F.round(F.col("o_totalprice") + 5.0, 2).alias("price"),
        (F.col("o_orderdate") + F.expr("INTERVAL 2 DAY")).alias("ts"),
        F.lit("U").alias("op"),
    )
    dels = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("double").alias("price"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("ts"),
        F.lit("D").alias("op"),
    )
    feed = ins.unionByName(upd).unionByName(dels)
    return M.scd2_from_cdc(feed, "o_orderkey", "ts")


# ---------------------------------------------------------------------------
# Point-in-time temporal join — each lineitem meets its order's SCD2
# version valid AT ship time (the canonical warehouse temporal join:
# facts get the dimension attributes as they were, not as they are).
# Keyed validity lookup = one equi-join on the key + the interval
# predicate as a filter (no bucketing needed — the key already
# co-locates), then revenue by HISTORICAL status.
# ---------------------------------------------------------------------------

@_q(
    "revenue_by_historical_status",
    f"""
WITH {_SCD2_CDC_FEED},
closed AS (
  SELECT *, lead(ts) OVER (PARTITION BY o_orderkey ORDER BY ts)
    AS valid_to
  FROM feed
),
hist AS (
  SELECT o_orderkey, status, ts AS valid_from, valid_to
  FROM closed WHERE op <> 'D'
)
SELECT h.status AS historical_status,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem l
JOIN hist h ON l.l_orderkey = h.o_orderkey
  AND l.l_shipdate >= h.valid_from
  AND (h.valid_to IS NULL OR l.l_shipdate < h.valid_to)
GROUP BY h.status
""",
)
def revenue_by_historical_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist = scd2_history_from_cdc(spark, sf_dir).select(
        "o_orderkey", "status", "valid_from", "valid_to"
    )
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_shipdate",
        "l_extendedprice",
    )
    joined = li.join(hist, "o_orderkey").filter(
        (F.col("l_shipdate") >= F.col("valid_from"))
        & (
            F.col("valid_to").isNull()
            | (F.col("l_shipdate") < F.col("valid_to"))
        )
    )
    return joined.groupBy(
        F.col("status").alias("historical_status")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(
            F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        ).cast("long").alias("revenue_cents"),
    )


# ---------------------------------------------------------------------------
# Typed JSON extraction over the REAL events.props payload (the r1
# json_extract query parses synthesized JSON; this one exercises the
# stored column end-to-end): pull props.k, type it, aggregate per
# event type. DuckDB twin uses json_extract on the same path.
# ---------------------------------------------------------------------------

@_q(
    "props_key_stats",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
         AS BIGINT) AS sum_k,
       CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))
         AS BIGINT) AS min_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
         AS BIGINT) AS max_k
FROM events GROUP BY event_type
""",
)
def props_key_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(k).cast("long").alias("sum_k"),
        F.min(k).cast("long").alias("min_k"),
        F.max(k).cast("long").alias("max_k"),
    )


# ---------------------------------------------------------------------------
# Recency-weighted revenue (exponential time decay) — each order's
# contribution halves per week of age. The decay factor is the exact
# dyadic 2^-⌊age_weeks⌋ (POWER/EXP are libm and diverge cross-engine;
# halving is exact in binary floating point up to 2^-1022), the
# weighted cents are rounded at 1e-6 per row and summed as BIGINT, so
# the whole aggregate is engine- and partitioning-exact.
# ---------------------------------------------------------------------------

@_q(
    "time_decayed_revenue",
    """
WITH aged AS (
  SELECT o_custkey,
    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
    CAST(floor(date_diff('day', o_orderdate,
                         TIMESTAMP '2001-08-01 00:00:00') / 7.0)
      AS BIGINT) AS age_weeks
  FROM orders
),
weighted AS (
  SELECT o_custkey,
    CAST(ROUND(cents * (0.5 ** age_weeks) * 1000000) AS BIGINT) AS wmicro
  FROM aged
)
SELECT o_custkey,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(wmicro) AS DOUBLE) / 100000000.0 AS decayed_revenue
FROM weighted GROUP BY o_custkey
HAVING CAST(SUM(wmicro) AS DOUBLE) / 100000000.0 > 1.0
""",
)
def time_decayed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    age_weeks = F.floor(
        F.datediff(
            F.lit("2001-08-01").cast("timestamp"), F.col("o_orderdate")
        )
        / 7.0
    ).cast("long")
    # 2^-k via pow-free exact halving: 1/2 ** k computed as pow(2, -k)
    # would be libm; 0.5 ** integer is exact dyadic in both engines'
    # float pow for |k| < 1022, but to stay contractually libm-free we
    # build it from bit arithmetic: 2^-k = 1 / CAST(1 << k AS DOUBLE)
    # (exact for k ≤ 62; ages here span ~6 years ≈ 344 weeks → clamp:
    # beyond 62 the contribution is < 2^-62 cents ≈ 0 at our rounding)
    staged = o.select(
        "o_custkey",
        cents.alias("__cents"),
        F.least(age_weeks, F.lit(62)).cast("int").alias("__k"),
    )
    decay = F.expr(
        "1.0 / CAST(shiftleft(CAST(1 AS BIGINT), __k) AS DOUBLE)"
    )
    weighted = staged.select(
        "o_custkey",
        F.round(F.col("__cents") * decay * 1000000, 0)
        .cast("long")
        .alias("wmicro"),
    )
    out = weighted.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        (F.sum("wmicro").cast("double") / 100000000.0).alias(
            "decayed_revenue"
        ),
    )
    return out.filter(F.col("decayed_revenue") > 1.0)


# ---------------------------------------------------------------------------
# RFM segmentation — recency/frequency/monetary quintiles per customer
# via percentile-EDGE bucketing, rolled up to segment sizes. The
# marketing-analytics staple every warehouse ships.
#
# Scale note (replaces the r4 global-NTILE formulation): NTILE(5) with
# no PARTITION BY serializes every customer through a single window
# task — a hard funnel at 10^8 customers. The four quintile edges per
# dimension are EXACT percentile_disc values, but computed distributed
# via operators/distsort.percentile_disc_edges: distinct-value counts
# (map-side-combined agg) -> ranked_cumsum (range exchange +
# per-partition windows) -> integer threshold test cum*denom >= num*N.
# The built-in percentile_disc aggregate would merge an OpenHashMap
# keyed by DISTINCT VALUE onto one final task — for spend_cents
# (distinct ~ customers) that is still a 10^8-entry single-task merge;
# this formulation's largest single-task state is one row per shuffle
# partition. Edges are broadcast back as a 1-row frame and scores
# assigned with plain comparisons — the data path is shuffle-free past
# the per-customer agg. Tie semantics differ from NTILE by design:
# ties share a bucket; the oracle uses the identical edge definition
# (smallest value with cume_dist >= p), property-tested equal to the
# built-in aggregate in tests/test_distsort.py.
# ---------------------------------------------------------------------------

@_q(
    "rfm_segments",
    """
WITH per_cust AS (
  SELECT o_custkey,
    CAST(date_diff('day', MAX(o_orderdate),
                   TIMESTAMP '2001-08-01 00:00:00') AS BIGINT) AS rec_days,
    CAST(COUNT(*) AS BIGINT) AS freq,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS spend_cents
  FROM orders GROUP BY o_custkey
),
edges AS (
  SELECT
    CAST(percentile_disc(0.2) WITHIN GROUP (ORDER BY rec_days) AS BIGINT) AS r20,
    CAST(percentile_disc(0.4) WITHIN GROUP (ORDER BY rec_days) AS BIGINT) AS r40,
    CAST(percentile_disc(0.6) WITHIN GROUP (ORDER BY rec_days) AS BIGINT) AS r60,
    CAST(percentile_disc(0.8) WITHIN GROUP (ORDER BY rec_days) AS BIGINT) AS r80,
    CAST(percentile_disc(0.2) WITHIN GROUP (ORDER BY freq) AS BIGINT) AS f20,
    CAST(percentile_disc(0.4) WITHIN GROUP (ORDER BY freq) AS BIGINT) AS f40,
    CAST(percentile_disc(0.6) WITHIN GROUP (ORDER BY freq) AS BIGINT) AS f60,
    CAST(percentile_disc(0.8) WITHIN GROUP (ORDER BY freq) AS BIGINT) AS f80,
    CAST(percentile_disc(0.2) WITHIN GROUP (ORDER BY spend_cents) AS BIGINT) AS m20,
    CAST(percentile_disc(0.4) WITHIN GROUP (ORDER BY spend_cents) AS BIGINT) AS m40,
    CAST(percentile_disc(0.6) WITHIN GROUP (ORDER BY spend_cents) AS BIGINT) AS m60,
    CAST(percentile_disc(0.8) WITHIN GROUP (ORDER BY spend_cents) AS BIGINT) AS m80
  FROM per_cust
),
scored AS (
  SELECT
    1 + CAST(rec_days > r20 AS INT) + CAST(rec_days > r40 AS INT)
      + CAST(rec_days > r60 AS INT) + CAST(rec_days > r80 AS INT) AS r_q,
    1 + CAST(freq < f80 AS INT) + CAST(freq < f60 AS INT)
      + CAST(freq < f40 AS INT) + CAST(freq < f20 AS INT) AS f_q,
    1 + CAST(spend_cents < m80 AS INT) + CAST(spend_cents < m60 AS INT)
      + CAST(spend_cents < m40 AS INT) + CAST(spend_cents < m20 AS INT) AS m_q,
    spend_cents
  FROM per_cust CROSS JOIN edges
)
SELECT r_q || '-' || f_q || '-' || m_q AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(spend_cents) AS BIGINT) AS segment_spend_cents
FROM scored GROUP BY 1
""",
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("2001-08-01").cast("timestamp"), F.max("o_orderdate")
        )
        .cast("long")
        .alias("rec_days"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("spend_cents"),
    )

    from ..operators import distsort as DS

    # per_cust feeds three edge computations plus the scoring pass —
    # pin one materialization so the agg runs once.
    per_cust = per_cust.localCheckpoint(eager=False)
    r_e, f_e, m_e = (
        DS.percentile_disc_edges(
            per_cust, col, [0.2, 0.4, 0.6, 0.8], prefix=pre
        )
        for col, pre in (
            ("rec_days", "r"),
            ("freq", "f"),
            ("spend_cents", "m"),
        )
    )
    edges = r_e.crossJoin(f_e).crossJoin(m_e)

    def _asc_bucket(v: str, pre: str):
        return (
            F.lit(1)
            + sum(
                (F.col(v) > F.col(f"{pre}{e}")).cast("int")
                for e in (20, 40, 60, 80)
            )
        )

    def _desc_bucket(v: str, pre: str):
        return (
            F.lit(1)
            + sum(
                (F.col(v) < F.col(f"{pre}{e}")).cast("int")
                for e in (80, 60, 40, 20)
            )
        )

    scored = per_cust.crossJoin(F.broadcast(edges)).select(
        _asc_bucket("rec_days", "r").alias("r_q"),
        _desc_bucket("freq", "f").alias("f_q"),
        _desc_bucket("spend_cents", "m").alias("m_q"),
        "spend_cents",
    )
    return (
        scored.select(
            F.concat_ws(
                "-", F.col("r_q"), F.col("f_q"), F.col("m_q")
            ).alias("segment"),
            "spend_cents",
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("spend_cents").cast("long").alias("segment_spend_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Market-basket association rules — part pairs co-ordered in the same
# order, scored by support / confidence / lift (integer-product ratios,
# single IEEE divisions). The pair join is orderkey-local (items per
# order is bounded), so candidate generation never goes quadratic in
# the catalog — the same locality argument as the funnel's in-row fold.
# ---------------------------------------------------------------------------

@_q(
    "basket_part_pairs",
    """
WITH items AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM items),
pc AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS c FROM items GROUP BY pk),
pairs AS (
  SELECT a.pk AS part_a, b.pk AS part_b, CAST(COUNT(*) AS BIGINT) AS c_ab
  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2
),
scored AS (
  SELECT part_a, part_b, c_ab,
    CAST(c_ab AS DOUBLE) / n_orders AS support,
    CAST(c_ab AS DOUBLE) / ca.c AS confidence,
    CAST(c_ab * n_orders AS DOUBLE) / (CAST(ca.c AS DOUBLE) * cb.c) AS lift
  FROM pairs
  JOIN pc ca ON part_a = ca.pk
  JOIN pc cb ON part_b = cb.pk
  CROSS JOIN n
  WHERE c_ab >= 3
)
SELECT part_a, part_b, c_ab, support, confidence, lift
FROM scored
ORDER BY lift DESC, part_a ASC, part_b ASC LIMIT 20
""",
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    n = items.agg(
        F.countDistinct("ok").cast("long").alias("n_orders")
    )
    pc = items.groupBy("pk").agg(F.count(F.lit(1)).cast("long").alias("c"))
    a = items.toDF("ok", "part_a")
    b = items.toDF("ok", "part_b")
    pairs = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
        .filter(F.col("c_ab") >= 3)
    )
    scored = (
        pairs.join(pc.toDF("part_a", "c_a"), "part_a")
        .join(pc.toDF("part_b", "c_b"), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "c_ab",
            (F.col("c_ab").cast("double") / F.col("n_orders")).alias(
                "support"
            ),
            (F.col("c_ab").cast("double") / F.col("c_a")).alias(
                "confidence"
            ),
            (
                (F.col("c_ab") * F.col("n_orders")).cast("double")
                / (F.col("c_a").cast("double") * F.col("c_b"))
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.desc("lift"), F.asc("part_a"), F.asc("part_b")
    ).limit(20)


# ---------------------------------------------------------------------------
# Cohort LTV matrix — spend by (first-order cohort month, months since
# first order): the money companion to retention_cohorts. Month math is
# spelled as exact integer year*12+month arithmetic on both engines
# (months_between is fractional, date_diff('month') boundary rules
# differ — integer calendar arithmetic has one semantics).
# ---------------------------------------------------------------------------

@_q(
    "cohort_ltv",
    """
WITH firsts AS (
  SELECT o_custkey, MIN(o_orderdate) AS first_dt FROM orders GROUP BY 1
),
j AS (
  SELECT o.o_custkey,
    CAST(year(f.first_dt) * 12 + month(f.first_dt) AS BIGINT) AS cohort_m,
    (CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) AS BIGINT)
     - CAST(year(f.first_dt) * 12 + month(f.first_dt) AS BIGINT))
      AS months_since,
    CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
)
SELECT cohort_m, months_since,
  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_active,
  CAST(SUM(cents) AS BIGINT) AS spend_cents
FROM j
WHERE months_since <= 6
GROUP BY cohort_m, months_since
""",
)
def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_dt")
    )
    mnum = lambda c: (  # noqa: E731
        F.year(c) * 12 + F.month(c)
    ).cast("long")
    j = o.join(firsts, "o_custkey").select(
        "o_custkey",
        mnum(F.col("first_dt")).alias("cohort_m"),
        (mnum(F.col("o_orderdate")) - mnum(F.col("first_dt"))).alias(
            "months_since"
        ),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    return (
        j.filter(F.col("months_since") <= 6)
        .groupBy("cohort_m", "months_since")
        .agg(
            F.countDistinct("o_custkey").cast("long").alias("n_active"),
            F.sum("cents").cast("long").alias("spend_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Session statistics — sessions-per-user distribution and duration
# moments over the sessionization frame (its oracle CTE re-aggregated):
# the engagement dashboard one level above raw sessions. Durations sum
# as exact integer seconds; the mean divides two BIGINTs.
# ---------------------------------------------------------------------------

@_q(
    "session_stats",
    f"""
WITH sess AS ({_SESSION_ORACLE})
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_sessions,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(SUM(CAST(floor(epoch(session_end) - epoch(session_start))
    AS BIGINT)) AS BIGINT) AS total_duration_s,
  CAST(SUM(CAST(floor(epoch(session_end) - epoch(session_start))
    AS BIGINT)) AS DOUBLE) / COUNT(*) AS mean_duration_s,
  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_bounces,
  CAST(MAX(n_events) AS BIGINT) AS max_session_events
FROM sess
""",
)
def session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    sess = sessionization(spark, sf_dir)
    # fractional-epoch difference floored AFTER subtracting — NOT
    # unix_timestamp (which truncates each endpoint first and drifts by
    # up to a second per session vs the oracle's epoch() arithmetic)
    dur = F.floor(
        F.col("session_end").cast("double")
        - F.col("session_start").cast("double")
    ).cast("long")
    return sess.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum(dur).cast("long").alias("total_duration_s"),
        (F.sum(dur).cast("double") / F.count(F.lit(1))).alias(
            "mean_duration_s"
        ),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_bounces"),
        F.max("n_events").cast("long").alias("max_session_events"),
    )


# ---------------------------------------------------------------------------
# Sole-source risk + return rate by brand — two supply-chain audits in
# one family: parts whose RECENT shipments (the last quarter before
# the 2001-08-01 as-of date used throughout this catalog) came from at
# most two suppliers (the procurement risk list — over the full
# history every part has many suppliers, so recency is what makes the
# signal real; r4's unwindowed n_suppliers=1 predicate matched zero
# rows at every SF and proved nothing), and per-brand return rates
# (exact integer ratio of returned lineitems). The shipdate filter is
# pushed to the parquet scan; AQE picks the join strategy at runtime
# (no forced hint — see the join comment below).
# ---------------------------------------------------------------------------

@_q(
    "sole_source_parts",
    """
WITH obs AS (
  SELECT l_partkey, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
         CAST(COUNT(*) AS BIGINT) AS n_lineitems
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '2001-08-01 00:00:00'
  GROUP BY 1
)
SELECT p.p_brand, n_suppliers,
       CAST(COUNT(*) AS BIGINT) AS n_at_risk_parts,
       CAST(SUM(n_lineitems) AS BIGINT) AS exposure_lineitems
FROM obs JOIN part p ON obs.l_partkey = p.p_partkey
WHERE n_suppliers <= 2
GROUP BY p.p_brand, n_suppliers
""",
)
def sole_source_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("2001-08-01").cast("timestamp")
    )
    part = load(spark, sf_dir, "part")
    obs = li.groupBy("l_partkey").agg(
        F.countDistinct("l_suppkey").cast("long").alias("n_suppliers"),
        F.count(F.lit(1)).cast("long").alias("n_lineitems"),
    )
    at_risk = obs.filter(F.col("n_suppliers") <= 2)
    # No forced broadcast: the at-risk list is a DATA-DEPENDENT
    # aggregate (a skewed catalog could make "parts with <=2 recent
    # suppliers" huge), and a hard F.broadcast hint OOMs rather than
    # degrades when the estimate is wrong. AQE measures the actual
    # post-filter size at the shuffle boundary and broadcasts exactly
    # when it is genuinely small (plan-asserted at committed SFs in
    # tests/test_plans.py) — at a 100 TB skew it falls back to a
    # shuffled hash join instead of failing.
    return (
        at_risk
        .join(part, at_risk["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "n_suppliers")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_at_risk_parts"),
            F.sum("n_lineitems").cast("long").alias("exposure_lineitems"),
        )
    )


@_q(
    "brand_return_rate",
    """
SELECT p.p_brand,
  CAST(COUNT(*) AS BIGINT) AS n_lineitems,
  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_returned,
  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE)
    / COUNT(*) AS return_rate
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
""",
)
def brand_return_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    ret = F.sum(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    ).cast("long")
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
            ret.alias("n_returned"),
            (ret.cast("double") / F.count(F.lit(1))).alias("return_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Inter-purchase gap distribution — days between a customer's
# consecutive orders, summarized by exact interpolated percentiles
# (the reorder-cadence metric behind churn models). One key window for
# the lag, one global percentile agg.
# ---------------------------------------------------------------------------

@_q(
    "order_gap_percentiles",
    """
WITH gaps AS (
  SELECT CAST(floor(epoch(o_orderdate)
               - epoch(lag(o_orderdate) OVER w)) / 86400.0 AS DOUBLE)
    AS gap_days
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
       quantile_cont(gap_days, 0.5) AS p50_days,
       quantile_cont(gap_days, 0.9) AS p90_days,
       MAX(gap_days) AS max_days
FROM gaps WHERE gap_days IS NOT NULL
""",
)
def order_gap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gap = (
        F.floor(
            F.col("o_orderdate").cast("double")
            - F.lag("o_orderdate").over(w).cast("double")
        )
        / 86400.0
    ).alias("gap_days")
    gaps = o.select(gap).filter(F.col("gap_days").isNotNull())
    return gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.percentile("gap_days", F.lit(0.5)).alias("p50_days"),
        F.percentile("gap_days", F.lit(0.9)).alias("p90_days"),
        F.max("gap_days").alias("max_days"),
    )


# ---------------------------------------------------------------------------
# Hour-of-day seasonality — event volume by hour with each type's peak
# hour (deterministic min-struct argmax, the modal_event_bucket pick).
# ---------------------------------------------------------------------------

@_q(
    "hourly_seasonality",
    """
WITH h AS (
  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type, hod AS peak_hour, n AS peak_n,
       CAST((SELECT SUM(n) FROM h h2 WHERE h2.event_type = h.event_type)
         AS BIGINT) AS total_n
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY event_type ORDER BY n DESC, hod ASC) AS rk
  FROM h
) h WHERE rk = 1
""",
)
def hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hod")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    picked = h.groupBy("event_type").agg(
        F.min(
            F.struct((-F.col("n")).alias("neg"), F.col("hod"), F.col("n"))
        ).alias("m"),
        F.sum("n").cast("long").alias("total_n"),
    )
    return picked.select(
        "event_type",
        F.col("m.hod").alias("peak_hour"),
        F.col("m.n").alias("peak_n"),
        "total_n",
    )


# ---------------------------------------------------------------------------
# Customer Pareto curve — the full-population cumulative revenue share,
# exercised through operators/distsort.ranked_cumsum: the two-pass
# partition-offset global running sum (range exchange -> per-partition
# window -> broadcast partition offsets). Unlike domain_lorenz's top-K
# head, this ranks EVERY customer — the operator exists precisely so
# that whole-population Pareto/CDF reports don't need a
# single-partition window. Exact integer cumsums over a total order
# (spend DESC, custkey ASC), one IEEE division per row.
# ---------------------------------------------------------------------------

@_q(
    "customer_pareto",
    """
WITH per_cust AS (
  SELECT o_custkey,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS spend_cents
  FROM orders GROUP BY o_custkey
),
tot AS (SELECT CAST(SUM(spend_cents) AS BIGINT) AS t FROM per_cust),
ranked AS (
  SELECT o_custkey, spend_cents,
    CAST(row_number() OVER (
      ORDER BY spend_cents DESC, o_custkey ASC) AS BIGINT) AS rank,
    CAST(SUM(spend_cents) OVER (
      ORDER BY spend_cents DESC, o_custkey ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum_spend_cents
  FROM per_cust
)
SELECT rank, o_custkey, spend_cents, cum_spend_cents,
       CAST(cum_spend_cents AS DOUBLE) / t AS cum_share
FROM ranked CROSS JOIN tot
""",
)
def customer_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import distsort as DS

    o = load(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("spend_cents")
    )
    tot = per_cust.agg(F.sum("spend_cents").cast("long").alias("t"))
    ranked = DS.ranked_cumsum(
        per_cust,
        [F.desc("spend_cents"), F.asc("o_custkey")],
        "spend_cents",
        rank_name="rank",
        cumsum_name="cum_spend_cents",
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        "rank",
        "o_custkey",
        "spend_cents",
        F.col("cum_spend_cents").cast("long").alias("cum_spend_cents"),
        (F.col("cum_spend_cents").cast("double") / F.col("t")).alias(
            "cum_share"
        ),
    )


# ---------------------------------------------------------------------------
# Z-order curve assignment (operators/zorder): Morton-interleave the
# bucketed (o_custkey, o_totalprice) pair — the multi-column
# data-skipping layout key. Spark embeds its collected min/max as
# float literals; the oracle computes the same min/max in a stats CTE;
# MIN/MAX select existing doubles exactly and repr round-trips, so the
# bucket arithmetic (generated by the SAME zvalue_sql/bucket_sql
# helpers, only the integer-division token differs) agrees bit-for-bit.
# ---------------------------------------------------------------------------


def _zorder_oracle() -> str:
    from ..operators import zorder as Z

    b0 = Z.bucket_sql("o_custkey", "mn0", "mx0", 8)
    b1 = Z.bucket_sql("o_totalprice", "mn1", "mx1", 8)
    z = Z.zvalue_sql([b0, b1], 8, intdiv="//")
    return f"""
WITH s AS (
  SELECT MIN(CAST(o_custkey AS DOUBLE)) AS mn0,
         MAX(CAST(o_custkey AS DOUBLE)) AS mx0,
         MIN(CAST(o_totalprice AS DOUBLE)) AS mn1,
         MAX(CAST(o_totalprice AS DOUBLE)) AS mx1
  FROM orders
)
SELECT o_orderkey, CAST({z} AS BIGINT) AS zvalue
FROM orders CROSS JOIN s
"""


@_q("zorder_curve", _zorder_oracle())
def zorder_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import zorder as Z

    orders = load(spark, sf_dir, "orders")
    laid = Z.zorder_layout(orders, ["o_custkey", "o_totalprice"], bits=8)
    return laid.select("o_orderkey", F.col("zvalue").cast("long"))


# ---------------------------------------------------------------------------


@_q(
    "cdc_apply",
    """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders
)
SELECT * FROM base WHERE o_orderkey % 7 NOT IN (0, 1)
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 2,
       o_orderdate, o_orderpriority
FROM base WHERE o_orderkey % 7 = 1
UNION ALL
SELECT o_orderkey + 1000000000, o_custkey, o_orderstatus, o_totalprice,
       o_orderdate, o_orderpriority
FROM base WHERE o_orderkey % 97 = 0
""",
)
def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    base = load(spark, sf_dir, "orders").select(*cols)
    k = F.col("o_orderkey")

    def change(rows: DataFrame, price_delta: float, seq: int, op: str):
        return rows.select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            (F.col("o_totalprice") + F.lit(price_delta)).alias(
                "o_totalprice"
            ),
            "o_orderdate",
            "o_orderpriority",
            F.lit(seq).cast("long").alias("seq"),
            F.lit(op).alias("op"),
        )

    dels = base.filter(k % 7 == 0)
    upds = base.filter(k % 7 == 1)
    ins = base.filter(k % 97 == 0).withColumn(
        "o_orderkey", k + F.lit(1_000_000_000)
    )
    log = (
        change(dels, 1.0, 1, "U")       # superseded by the delete below
        .unionByName(change(dels, 0.0, 2, "D"))
        .unionByName(change(upds, 1.0, 1, "U"))  # loses to seq 2
        .unionByName(change(upds, 2.0, 2, "U"))  # wins
        .unionByName(change(ins, 0.0, 1, "I"))
    )
    return M.apply_cdc(base, log, "o_orderkey", "seq")


# ---------------------------------------------------------------------------
# Attribution interval join (streaming/joins.attribution_join in batch
# mode): click events matched to the view (impression) they followed
# within the attribution window, same-user. The IDENTICAL expression
# runs as a bounded-state stream-stream join on live feeds (watermarks
# on both sides — see streaming/joins.py); the batch degradation is
# what the oracle checks, and the streaming pytest pins live ≡ batch.
# ---------------------------------------------------------------------------


@_q(
    "attribution_join",
    """
WITH i AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
SELECT i.user_id AS ad_id, i.ts AS imp_time, c.ts AS click_time,
       CAST(floor(date_part('epoch', c.ts)) AS BIGINT)
         - CAST(floor(date_part('epoch', i.ts)) AS BIGINT) AS delay_sec
FROM i JOIN c
  ON i.user_id = c.user_id
 AND c.ts >= i.ts
 AND c.ts <= i.ts + INTERVAL 3600 SECOND
""",
)
def attribution_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.joins import attribution_join

    ev = load(spark, sf_dir, "events")
    imps = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("ad_id"), F.col("ts").alias("imp_time")
    )
    clks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("ad_id"), F.col("ts").alias("click_time")
    )
    return attribution_join(imps, clks, max_delay_seconds=3600)


# ---------------------------------------------------------------------------
# Incremental MV maintenance (operators/mv): build the aggregate view
# over one slice of orders, then fold two append batches in — cost
# per fold ∝ the delta, never the base. The oracle is the FULL
# recompute over all of orders: hash equality proves
# maintain(maintain(mv(b), d1), d2) ≡ mv(b ∪ d1 ∪ d2) exactly (sums
# ride the round-to-cents BIGINT policy, so partial-merge order is
# associativity-exact).
# ---------------------------------------------------------------------------


@_q(
    "mv_incremental",
    """
SELECT o_orderpriority, o_orderstatus,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
    AS sum_price_cents,
  MIN(o_orderdate) AS min_o_orderdate,
  MAX(o_orderdate) AS max_o_orderdate
FROM orders GROUP BY 1, 2
""",
)
def mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import mv as MV

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_orderstatus",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("price_cents"),
    )
    k = F.col("o_orderkey") % 5
    base = orders.filter(k.isin(1, 2))
    d1 = orders.filter(k.isin(3, 4))
    d2 = orders.filter(k == 0)
    spec = dict(
        keys=["o_orderpriority", "o_orderstatus"],
        sum_cols=["price_cents"],
        min_cols=["o_orderdate"],
        max_cols=["o_orderdate"],
    )
    view = MV.agg_mv(base, **spec)
    view = MV.maintain_agg_mv(view, d1, **spec)
    view = MV.maintain_agg_mv(view, d2, **spec)
    return view.select(
        "o_orderpriority",
        "o_orderstatus",
        "n_rows",
        F.col("sum_price_cents").cast("long"),
        "min_o_orderdate",
        "max_o_orderdate",
    )


# ---------------------------------------------------------------------------
# Robust outlier report: per-group modified z-score (Iglewicz–Hoaglin,
# 0.6745·(x − median)/MAD > 3.5) with the median and MAD computed as
# exact DISCRETE percentiles via distsort.grouped_percentile_disc —
# the few-giant-groups shape (a bounded event-type catalog, each type
# holding a huge share of rows) where the built-in per-group
# percentile aggregate would funnel each group's distinct values onto
# one task. All percentile outputs are actual data values (bit-exact
# cross-engine); the z itself is deterministic IEEE arithmetic over
# them, rounded at 6 for presentation.
# ---------------------------------------------------------------------------

_MAD_ORACLE = """
WITH med AS (
  SELECT event_type,
         percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS med50
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
dev AS (
  SELECT e.event_id, e.event_type, e.value, m.med50,
         abs(e.value - m.med50) AS abs_dev
  FROM events e JOIN med m USING (event_type)
  WHERE e.value IS NOT NULL
),
mad AS (
  SELECT event_type,
         percentile_disc(0.5) WITHIN GROUP (ORDER BY abs_dev) AS mad50
  FROM dev GROUP BY 1
)
SELECT event_id, event_type, value,
       med50 AS median, mad50 AS mad,
       ROUND(0.6745 * (value - med50) / mad50, 6) AS robust_z
FROM dev JOIN mad USING (event_type)
WHERE mad50 > 0
  AND abs(ROUND(0.6745 * (value - med50) / mad50, 6)) > 3.5
ORDER BY abs(robust_z) DESC, event_id
LIMIT 50
"""


@_q("mad_outliers", _MAD_ORACLE)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import distsort as DS

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # med/mad are |event_type|-row frames but each sits atop a full
    # range-exchange percentile pipeline — pin them so the three
    # downstream consumers (dev projection, MAD counts/totals, final
    # report join) do not re-run that pipeline per consumer
    med = DS.grouped_percentile_disc(
        ev, "event_type", "value", [0.5], prefix="med"
    ).persist()
    dev = ev.join(med, "event_type").select(
        "event_id",
        "event_type",
        "value",
        "med50",
        F.abs(F.col("value") - F.col("med50")).alias("abs_dev"),
    )
    mad = DS.grouped_percentile_disc(
        dev, "event_type", "abs_dev", [0.5], prefix="mad"
    ).persist()
    z = F.round(
        F.lit(0.6745)
        * (F.col("value") - F.col("med50"))
        / F.col("mad50"),
        6,
    )
    return (
        dev.join(mad, "event_type")
        .filter(F.col("mad50") > 0)
        .withColumn("robust_z", z)
        .filter(F.abs(F.col("robust_z")) > 3.5)
        .select(
            "event_id",
            "event_type",
            "value",
            F.col("med50").alias("median"),
            F.col("mad50").alias("mad"),
            "robust_z",
        )
        .orderBy(F.abs(F.col("robust_z")).desc(), "event_id")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Recency-weighted engagement (operators/rollup.half_life_scores) —
# exponential decay made engine-exact by halving buckets: integer
# cents shift right one bit per whole half-life of age.
# ---------------------------------------------------------------------------

_DECAY_ORACLE = """
WITH staged AS (
  SELECT user_id,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
         LEAST(CAST(datediff('day', CAST(ts AS DATE), DATE '2024-02-15')
                    // 7 AS INT), 62) AS k,
         CAST(datediff('day', CAST(ts AS DATE), DATE '2024-02-15')
              AS BIGINT) AS age
  FROM events
  WHERE CAST(ts AS DATE) <= DATE '2024-02-15'
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(age) AS BIGINT) AS last_age_days,
       CAST(SUM(c // (CAST(1 AS BIGINT) << k)) AS BIGINT) AS score_cents
FROM staged
GROUP BY user_id
ORDER BY user_id
"""


@_q("engagement_decay", _DECAY_ORACLE)
def engagement_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user recency-weighted engagement as of 2024-02-15 with a
    7-day half-life (`rollup.half_life_scores`): integer cents halve
    by bit-shift per whole half-life of age, so the 'exponential
    decay' score is exact BIGINT arithmetic end to end — no libm pow,
    no float accumulation. One projection + one user hash agg."""
    from ..operators.rollup import half_life_scores

    events = load(spark, sf_dir, "events")
    return half_life_scores(
        events, "user_id", "value", "ts", "2024-02-15", 7
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Interval-interval overlap join (operators/rangejoin.
# interval_overlap_join) — campaigns x incidents: which purchase
# campaign windows were marred by overlapping error incidents?
# ---------------------------------------------------------------------------

_OVERLAP_ORACLE = """
WITH inc AS (
  SELECT event_id AS incident_id,
         CAST(epoch(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS i_start,
         CAST(epoch(CAST(ts AS TIMESTAMP)) + 3600 AS DOUBLE) AS i_end
  FROM events WHERE event_type = 'error'
),
camp AS (
  SELECT event_id AS campaign_id,
         CAST(epoch(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS c_start,
         CAST(epoch(CAST(ts AS TIMESTAMP)) + 7200 AS DOUBLE) AS c_end
  FROM events WHERE event_type = 'purchase' AND value >= 200
)
SELECT campaign_id,
       CAST(COUNT(*) AS BIGINT) AS n_incidents,
       CAST(MIN(incident_id) AS BIGINT) AS first_incident_id
FROM camp JOIN inc
  ON c_start < i_end AND i_start < c_end
GROUP BY campaign_id
ORDER BY campaign_id
"""


@_q("campaign_incident_overlap", _OVERLAP_ORACLE)
def campaign_incident_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join (`rangejoin.interval_overlap_
    join`): high-value purchase 'campaign' windows (2 h) overlapped by
    error incident windows (1 h). Bucketed on a 1 h grid with
    arithmetic-ownership dedup — every pair emitted from exactly the
    bucket of max(start, start), so there is no dropDuplicates
    shuffle and no cross product anywhere; the oracle is the plain
    theta join."""
    from ..operators.rangejoin import interval_overlap_join

    ev = load(spark, sf_dir, "events")

    def _epoch_s(c: F.Column) -> F.Column:
        return c.cast("timestamp").cast("double")

    inc = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        _epoch_s(F.col("ts")).alias("i_start"),
        (_epoch_s(F.col("ts")) + 3600).alias("i_end"),
    )
    camp = ev.where(
        (F.col("event_type") == "purchase") & (F.col("value") >= 200)
    ).select(
        F.col("event_id").alias("campaign_id"),
        _epoch_s(F.col("ts")).alias("c_start"),
        (_epoch_s(F.col("ts")) + 7200).alias("c_end"),
    )
    joined = interval_overlap_join(
        camp, inc, "c_start", "c_end", "i_start", "i_end", 3600
    )
    return (
        joined.groupBy("campaign_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_incidents"),
            F.min("incident_id").cast("long").alias("first_incident_id"),
        )
        .orderBy("campaign_id")
    )


# ---------------------------------------------------------------------------
# Exact Gini coefficient (operators/distsort.gini_coefficient) —
# customer-spend inequality, the scalar next to customer_pareto's
# Lorenz curve.
# ---------------------------------------------------------------------------

_GINI_ORACLE = """
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
r AS (
  SELECT cents,
         CAST(ROW_NUMBER() OVER (ORDER BY cents) AS BIGINT) AS i
  FROM spend
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS total_scaled,
         CAST(SUM((2 * i - 1) * cents) AS BIGINT) AS wsum
  FROM r
)
SELECT n, total_scaled,
       CASE WHEN n > 0 AND total_scaled > 0 THEN
         (wsum - n * total_scaled) / CAST(n * total_scaled AS DOUBLE)
       END AS gini
FROM agg
"""


@_q("customer_spend_gini", _GINI_ORACLE)
def customer_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of per-customer total spend
    (`distsort.gini_coefficient`): integer cents, one ranked_cumsum
    range exchange for the global ranks (tie-invariant — equal spends
    contribute a rank-set-symmetric sum), one IEEE division at the
    end. The inequality scalar beside customer_pareto's Lorenz
    curve."""
    from ..operators.distsort import gini_coefficient

    orders = load(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("cents")
    )
    return gini_coefficient(spend, "cents", scale=1)


# ---------------------------------------------------------------------------
# Nearest as-of join (operators/asof.asof_nearest_join) — error
# diagnostics: the click nearest in time to each error, per user.
# ---------------------------------------------------------------------------

_NEAREST_ORACLE = """
WITH err AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'error'
),
clk AS (
  -- the operator's determinism contract: unique (key, time) on the
  -- right side — keep the lowest click id per (user, ts)
  SELECT user_id, click_id, click_cents, ts FROM (
    SELECT user_id, event_id AS click_id,
           CAST(ROUND(value * 100, 0) AS BIGINT) AS click_cents, ts,
           ROW_NUMBER() OVER (
             PARTITION BY user_id, ts ORDER BY event_id
           ) AS dup_rn
    FROM events WHERE event_type = 'click'
  ) WHERE dup_rn = 1
),
pairs AS (
  SELECT e.user_id, e.event_id, e.ts, c.click_id, c.click_cents,
         c.ts AS matched_time,
         ROW_NUMBER() OVER (
           PARTITION BY e.event_id
           ORDER BY ABS(epoch(CAST(e.ts AS TIMESTAMP))
                        - epoch(CAST(c.ts AS TIMESTAMP))),
                    CASE WHEN c.ts <= e.ts THEN 0 ELSE 1 END
         ) AS rn
  FROM err e JOIN clk c USING (user_id)
)
SELECT user_id, event_id, click_id, click_cents, matched_time
FROM pairs WHERE rn = 1
ORDER BY user_id, event_id
"""


@_q("nearest_click_to_error", _NEAREST_ORACLE)
def nearest_click_to_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join (`asof.asof_nearest_join`): per user, the
    click closest in time to each error (backward wins distance
    ties). Single union shuffle; the backward and forward candidates
    share one window exchange and sort order. Errors for users with
    no clicks carry NULLs — the oracle's inner theta-join drops them,
    so this query filters to matched rows (the operator's NULL
    contract is pytest-covered)."""
    from ..operators.asof import asof_nearest_join

    ev = load(spark, sf_dir, "events")
    err = ev.where(F.col("event_type") == "error").select(
        "user_id", "event_id", "ts"
    )
    from pyspark.sql import Window as W

    dup_w = W.partitionBy("user_id", "ts").orderBy("click_id")
    clk = (
        ev.where(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.round(F.col("value") * 100, 0)
            .cast("long")
            .alias("click_cents"),
            "ts",
        )
        .withColumn("__dup", F.row_number().over(dup_w))
        .filter(F.col("__dup") == 1)
        .drop("__dup")
    )
    return (
        asof_nearest_join(
            err, clk, "user_id", "ts", "ts", ["click_id", "click_cents"]
        )
        .filter(F.col("click_id").isNotNull())
        .select(
            "user_id", "event_id", "click_id", "click_cents", "matched_time"
        )
        .orderBy("user_id", "event_id")
    )


# ---------------------------------------------------------------------------
# Top user journeys — the product-analytics path report: each user's
# first five event types in time order, counted across users.
# ---------------------------------------------------------------------------

_JOURNEY_ORACLE = """
WITH seq AS (
  SELECT user_id,
         array_to_string(
           list_slice(list(event_type ORDER BY epoch_us(ts), event_id),
                      1, 5),
           '>'
         ) AS journey
  FROM events GROUP BY 1
)
SELECT journey, CAST(COUNT(*) AS BIGINT) AS n_users
FROM seq
GROUP BY 1
ORDER BY n_users DESC, journey
LIMIT 20
"""


@_q("user_journeys", _JOURNEY_ORACLE)
def user_journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 five-step user journeys: per user, the first five event
    types in (ts, event_id) order rendered as a path string, counted
    across users. One user hash agg builds the in-row sorted sequence
    (collect_list of structs + array_sort — no window, ties broken by
    event_id), one path hash agg counts it, TakeOrdered emits the
    head. The per-user state is the user's event count — bounded like
    any sessionization."""
    ev = load(spark, sf_dir, "events")
    seq = (
        ev.select(
            "user_id",
            F.struct(
                F.unix_micros("ts").alias("t"),
                F.col("event_id").alias("e"),
                F.col("event_type").alias("y"),
            ).alias("__s"),
        )
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("__s")).alias("__seq"))
        .select(
            F.concat_ws(
                ">",
                F.transform(
                    F.slice("__seq", 1, 5), lambda s: s.getField("y")
                ),
            ).alias("journey")
        )
    )
    return (
        seq.groupBy("journey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("journey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Per-node triangle census (operators/graph.triangle_count) over the
# frequent co-purchase graph — the catalog row for the degree-oriented
# wedge-join triangle algorithm (previously pytest-only).
# ---------------------------------------------------------------------------

_TRIANGLE_ORACLE = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
pairs AS (
  SELECT a.pk AS pa, b.pk AS pb, COUNT(*) AS c
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2
),
e AS (SELECT pa, pb FROM pairs WHERE c >= 2),
tri AS (
  SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
  FROM e e1
  JOIN e e2 ON e2.pa = e1.pa AND e2.pb > e1.pb
  JOIN e e3 ON e3.pa = e1.pb AND e3.pb = e2.pb
),
nodes AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
FROM nodes GROUP BY 1 ORDER BY node
"""


@_q("copurchase_triangles", _TRIANGLE_ORACLE)
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts over the frequent co-purchase graph
    (parts co-ordered ≥2 times). `graph.triangle_count` orients edges
    low-degree → high-degree (the standard skew bound: out-degree ≤
    O(√m), wedge fan-out O(m^1.5) even on power-law graphs); the
    oracle enumerates by plain id order — per-node counts are
    orientation-independent (every triangle credits its three nodes
    exactly once under ANY acyclic orientation), so the two
    strategies must agree value-for-value."""
    from ..operators.graph import triangle_count

    li = load(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    a = items.toDF("ok", "src")
    b = items.toDF("ok", "dst")
    edges = (
        a.join(b, "ok")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("src", "dst")
    )
    return triangle_count(edges).orderBy("node")


# ---------------------------------------------------------------------------
# Rolling 7-day active users (operators/rollup.rolling_distinct) —
# the exact sliding COUNT(DISTINCT), which no engine's window frame
# can express (distinct is not decomposable).
# ---------------------------------------------------------------------------

_ROLLING_DAU_ORACLE = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
fan AS (
  SELECT user_id, d + CAST(x AS INT) AS report_day
  FROM ud, (SELECT unnest(range(7)) AS x)
)
SELECT report_day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active
FROM fan GROUP BY 1 ORDER BY 1
"""


@_q("rolling_active_users", _ROLLING_DAU_ORACLE)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily trailing-7-day distinct active users
    (`rollup.rolling_distinct`): exact sliding COUNT(DISTINCT) via the
    bounded contribution fan-out — dedupe to (user, day), explode each
    active day to the 7 report days it serves, one per-day distinct
    aggregate. Fan-out is the window parameter, never the data."""
    from ..operators.rollup import rolling_distinct

    ev = load(spark, sf_dir, "events")
    return rolling_distinct(ev, "ts", "user_id", 7)


# ---------------------------------------------------------------------------
# Mergeable sketch rollup (DataSketches HLL) — the 100 TB distinct-
# count architecture: persist one small sketch per fine bucket, answer
# coarse windows by UNION of sketches (never rescanning raw). Sketch
# bytes are engine-internal, so the portable contract is emitted: the
# exact weekly distinct plus two boolean guarantees the Spark side
# genuinely exercises — the unioned estimate lands within tolerance,
# and union-of-daily ≡ direct weekly sketch (mergeability, exact on
# the sketch level).
# ---------------------------------------------------------------------------

_HLL_ROLLUP_ORACLE = """
WITH d AS (
  SELECT date_trunc('week', CAST(ts AS DATE)) AS week_start, user_id
  FROM events
)
SELECT CAST(week_start AS DATE) AS week_start,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_tol,
       TRUE AS union_within_tol
FROM d GROUP BY 1 ORDER BY 1
"""


@_q("hll_weekly_rollup", _HLL_ROLLUP_ORACLE)
def hll_weekly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly distinct users via MERGEABLE DataSketches HLL: daily
    sketches union into weekly estimates (the rollup a 100 TB
    deployment stores — coarse windows never rescan raw). Contract
    emitted: exact weekly distinct, `within_tol` (the direct weekly
    sketch lands within 10%) and `union_within_tol` (so does the
    union-of-daily estimate). Union is NOT estimate-identical to a
    single-pass sketch (sparse→dense promotion differs — measured
    at sf0.1), so both guarantees are tolerances, verified
    empirically at all three SFs."""
    ev = load(spark, sf_dir, "events")
    keyed = ev.select(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week_start"),
        F.col("ts").cast("date").alias("day"),
        "user_id",
    )
    daily = keyed.groupBy("week_start", "day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    weekly_union = daily.groupBy("week_start").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("__est_union")
    )
    weekly_direct = keyed.groupBy("week_start").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias(
            "__est_direct"
        ),
        F.countDistinct("user_id").cast("long").alias("exact_users"),
    )
    return (
        weekly_direct.join(weekly_union, "week_start")
        .select(
            "week_start",
            "exact_users",
            (
                F.abs(F.col("__est_direct") - F.col("exact_users")) * 10
                <= F.col("exact_users")
            ).alias("within_tol"),
            (
                F.abs(F.col("__est_union") - F.col("exact_users")) * 10
                <= F.col("exact_users")
            ).alias("union_within_tol"),
        )
        .orderBy("week_start")
    )


# ---------------------------------------------------------------------------
# Bloom-filter runtime pre-filter join (operators/bloom.py)
# ---------------------------------------------------------------------------

_BLOOM_JOIN_ORACLE = """
SELECT l.l_returnflag AS returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000)
            AS BIGINT)) AS DOUBLE) / 10000 AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY 1
ORDER BY 1
"""


@_q("bloom_prefilter_join", _BLOOM_JOIN_ORACLE)
def bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue of lineitems belonging to URGENT orders, computed through
    a distributed Bloom runtime filter (`operators/bloom.py`): the
    urgent-order key set is packed into ~10 bits/key, broadcast, and
    fact rows are dropped MAP-SIDE before the exact join — the shuffle
    then carries only (true matches + fpp·rest). The Bloom stage is
    semantically invisible (no false negatives), so the oracle is the
    plain join; correctness of the whole pipeline IS the prefilter's
    no-false-negative property at every SF. Revenue summed on the
    fixed 1e-4 grid in BIGINT (the pricing_summary discipline) so the
    total is partitioning-exact."""
    from ..operators import bloom as B

    urgent = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    bf = B.bloom_build(urgent, "o_orderkey", fpp=0.01)
    fact = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_returnflag"
    )
    pre = B.bloom_prefilter(fact, "l_orderkey", bf)
    joined = pre.join(urgent, pre["l_orderkey"] == urgent["o_orderkey"])
    rev_micro = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        joined.groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            (F.sum(rev_micro).cast("double") / 10000).alias("revenue"),
        )
        .orderBy("returnflag")
    )


# ---------------------------------------------------------------------------
# Weight-of-Evidence / Information-Value feature screen (quality.woe_iv)
# ---------------------------------------------------------------------------

_WOE_IV_ORACLE = """
WITH b AS (
  SELECT CAST(least(floor((l_quantity - 1) / 10), 4) AS BIGINT) AS bin,
         (l_returnflag = 'R') AS bad
  FROM lineitem
),
bins AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(CASE WHEN bad THEN 1 END), 0) AS BIGINT) AS n_bad
  FROM b GROUP BY 1
),
g AS (SELECT bin, n, n_bad, CAST(n - n_bad AS BIGINT) AS n_good FROM bins),
tot AS (
  SELECT CAST(SUM(n_bad) AS BIGINT) AS tb, CAST(SUM(n_good) AS BIGINT) AS tg
  FROM g
)
SELECT bin, n, n_bad, n_good,
  CASE WHEN n_good > 0 AND n_bad > 0 AND tg > 0 AND tb > 0 THEN
    ln((CAST(n_good AS DOUBLE) / CAST(tg AS DOUBLE))
       / (CAST(n_bad AS DOUBLE) / CAST(tb AS DOUBLE))) END AS woe,
  CASE WHEN n_good > 0 AND n_bad > 0 AND tg > 0 AND tb > 0 THEN
    ((CAST(n_good AS DOUBLE) / CAST(tg AS DOUBLE))
     - (CAST(n_bad AS DOUBLE) / CAST(tb AS DOUBLE)))
    * ln((CAST(n_good AS DOUBLE) / CAST(tg AS DOUBLE))
         / (CAST(n_bad AS DOUBLE) / CAST(tb AS DOUBLE))) END AS iv
FROM g CROSS JOIN tot
ORDER BY bin
"""


@_q("woe_iv_quantity", _WOE_IV_ORACLE)
def woe_iv_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WOE/IV screen (`quality.woe_iv`) of quantity bands against the
    returned-flag label: does the order-size band predict returns? One
    hash agg to 5 bins (fixed-width bands over l_quantity ∈ [1,50] —
    value-deterministic, no quantile ties), 1-row totals broadcast,
    ln/shares as fixed IEEE expressions of exact BIGINT counts."""
    from ..operators import quality as Q

    li = load(spark, sf_dir, "lineitem").select(
        F.least(F.floor((F.col("l_quantity") - 1) / 10), F.lit(4).cast("long"))
        .cast("long")
        .alias("__bin"),
        (F.col("l_returnflag") == "R").alias("__bad"),
    )
    return Q.woe_iv(li, "__bin", "__bad")


# ---------------------------------------------------------------------------
# Purged k-fold time split with embargo (sampling.purged_time_split)
# ---------------------------------------------------------------------------

_PURGED_SPLIT_ORACLE = """
WITH ranked AS (
  SELECT ts, row_number() OVER (ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER () AS n
  FROM events
),
assigned AS (
  SELECT ts, CAST(((rn - 1) * 5) // n AS BIGINT) AS fold FROM ranked
),
spans AS (
  SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_test,
         MIN(ts) AS test_start, MAX(ts) AS test_end
  FROM assigned GROUP BY 1
)
SELECT s.fold, s.n_test,
  CAST(SUM(CASE WHEN a.ts < s.test_start - INTERVAL 1 DAY
                  OR a.ts > s.test_end + INTERVAL 1 DAY
            THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
  CAST(SUM(CASE WHEN a.ts >= s.test_start - INTERVAL 1 DAY
                 AND a.ts <= s.test_end + INTERVAL 1 DAY
            THEN 1 ELSE 0 END) AS BIGINT) AS n_purged,
  s.test_start, s.test_end
FROM spans s JOIN assigned a ON a.fold <> s.fold
GROUP BY s.fold, s.n_test, s.test_start, s.test_end
ORDER BY s.fold
"""


@_q("purged_time_split", _PURGED_SPLIT_ORACLE)
def purged_time_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged 5-fold TEMPORAL split of the event stream with a 1-day
    embargo (`sampling.purged_time_split`): contiguous equal-count time
    slices by exact rank cut, training rows inside the embargo window
    around each eval fold counted out as purged — the serial-correlation
    leakage guard the identity-grain splits can't express."""
    from ..operators import sampling as SA

    events = load(spark, sf_dir, "events")
    return SA.purged_time_split(
        events, "ts", "event_id", k=5, embargo="INTERVAL 1 DAY"
    )


# ---------------------------------------------------------------------------
# PSI drift between event epochs (quality.psi_report)
# ---------------------------------------------------------------------------

_PSI_ORACLE = """
WITH b AS (
  SELECT CAST(least(floor(value / 50), 9) AS BIGINT) AS bin,
         (ts >= TIMESTAMP '2024-01-16 00:00:00') AS side
  FROM events
),
cells AS (
  SELECT bin,
         CAST(COALESCE(SUM(CASE WHEN NOT side THEN 1 END), 0) AS BIGINT) AS n_a,
         CAST(COALESCE(SUM(CASE WHEN side THEN 1 END), 0) AS BIGINT) AS n_b
  FROM b GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_a) AS BIGINT) AS ta, CAST(SUM(n_b) AS BIGINT) AS tb
  FROM cells
),
terms AS (
  SELECT bin, n_a, n_b,
    CASE WHEN n_a > 0 AND n_b > 0 THEN
      (CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)
       - CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE))
      * ln((CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE))
           / (CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE))) END AS psi_term
  FROM cells CROSS JOIN tot
),
pico AS (
  SELECT bin, n_a, n_b, psi_term,
         CASE WHEN psi_term IS NOT NULL
              THEN CAST(ROUND(psi_term * 1e12) AS BIGINT) END AS pc
  FROM terms
),
total AS (
  SELECT CAST(COALESCE(SUM(pc), 0) AS BIGINT) AS pico_sum,
         CAST(COALESCE(SUM(CASE WHEN pc IS NULL THEN 1 END), 0) AS BIGINT)
           AS n_onesided_bins
  FROM pico
)
SELECT bin, n_a, n_b, psi_term,
       CAST(pico_sum AS DOUBLE) / 1e12 AS psi_total,
       n_onesided_bins
FROM pico CROSS JOIN total
ORDER BY bin
"""


@_q("psi_value_drift", _PSI_ORACLE)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event value distribution
    between the first and second half of the month
    (`quality.psi_report`): the binned drift screen that localizes
    WHICH value bands moved (the exact-KS twin `ks_drift` gives the
    max-gap scalar but no per-bin attribution). Exact BIGINT cells;
    the only doubles are fixed-order share/ln expressions; the total
    is an integer sum of picounit-fixed terms, so it is
    partitioning-exact."""
    from ..operators import quality as Q

    ev = load(spark, sf_dir, "events").select(
        F.least(F.floor(F.col("value") / 50), F.lit(9).cast("long"))
        .cast("long")
        .alias("__bin"),
        (F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp")).alias(
            "__side"
        ),
    )
    return Q.psi_report(ev, "__bin", "__side")


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity privacy audit (quality.k_anonymity)
# ---------------------------------------------------------------------------

_KANON_ORACLE = """
WITH g AS (
  SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
              AS BIGINT) AS l
  FROM customer GROUP BY 1, 2
)
SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(MIN(n) AS BIGINT) AS min_group_size,
       CAST(COALESCE(SUM(CASE WHEN n < 10 THEN 1 END), 0) AS BIGINT)
         AS n_small_groups,
       CAST(COALESCE(SUM(CASE WHEN n < 10 THEN n END), 0) AS BIGINT)
         AS n_rows_at_risk,
       CAST(MIN(l) AS BIGINT) AS min_l_diversity,
       CAST(COALESCE(SUM(CASE WHEN l = 1 THEN 1 END), 0) AS BIGINT)
         AS n_singleton_sensitive_groups
FROM g
"""


@_q("k_anonymity_report", _KANON_ORACLE)
def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit of the (nation, market segment)
    quasi-identifier against a banded account balance
    (`quality.k_anonymity`, k=10) — the release-readiness privacy
    screen that sits next to PII redaction and GDPR erasure: groups
    below k are the re-identification surface; k-large groups with one
    sensitive value still disclose the attribute."""
    from ..operators import quality as Q

    cust = load(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("__band"),
    )
    return Q.k_anonymity(
        cust, ["c_nationkey", "c_mktsegment"], "__band", k=10
    )


# ---------------------------------------------------------------------------
# A/B two-proportion z-test (quality.ab_test_report)
# ---------------------------------------------------------------------------

_AB_ORACLE = """
WITH t AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS v,
         (event_type = 'purchase') AS s
  FROM events
),
per AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(CASE WHEN s THEN 1 END), 0) AS BIGINT) AS x
  FROM t GROUP BY 1
),
p AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_variants,
         min_by(v, v) AS variant_a,
         CAST(min_by(n, v) AS BIGINT) AS n_a,
         CAST(min_by(x, v) AS BIGINT) AS x_a,
         max_by(v, v) AS variant_b,
         CAST(max_by(n, v) AS BIGINT) AS n_b,
         CAST(max_by(x, v) AS BIGINT) AS x_b
  FROM per
)
SELECT n_variants, variant_a, n_a, x_a,
       x_a / CAST(n_a AS DOUBLE) AS p_a,
       variant_b, n_b, x_b,
       x_b / CAST(n_b AS DOUBLE) AS p_b,
       CASE WHEN n_variants = 2 AND n_a > 0 AND n_b > 0
                 AND CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) > 0
                 AND CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) < 1
       THEN (x_a / CAST(n_a AS DOUBLE) - x_b / CAST(n_b AS DOUBLE))
            / sqrt((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                   * (1 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                   * (1 / CAST(n_a AS DOUBLE) + 1 / CAST(n_b AS DOUBLE)))
       END AS z
FROM p
"""


@_q("ab_purchase_ztest", _AB_ORACLE)
def ab_purchase_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test of purchase conversion between the
    user-parity variants (`quality.ab_test_report`) — the classical
    A/B readout from ONE hash agg of exact BIGINTs; ≠2 variants or a
    degenerate pool report NULL z rather than a fake significance."""
    from ..operators import quality as Q

    ev = load(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("__v"),
        (F.col("event_type") == "purchase").alias("__s"),
    )
    return Q.ab_test_report(ev, "__v", "__s")


# ---------------------------------------------------------------------------
# Deterministic negative-edge sampling (graph.negative_edge_sample)
# ---------------------------------------------------------------------------

def _neg_bucket_sql(salt: str, key: str) -> str:
    h = f"md5('{salt}:' || {key})"
    return (
        f"(((instr('0123456789abcdef', substr({h}, 1, 1)) - 1)"
        f" * 16 + instr('0123456789abcdef', substr({h}, 2, 1)) - 1)"
        f" * 16 + instr('0123456789abcdef', substr({h}, 3, 1)) - 1)"
        f" * 16 + instr('0123456789abcdef', substr({h}, 4, 1)) - 1"
    )


_NEG_EDGE_ORACLE = f"""
WITH np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM part),
bconst AS (
  SELECT CAST(GREATEST(2, POWER(2, CEIL(LOG2(n)))) AS BIGINT) AS b FROM np
),
db AS (
  SELECT p_partkey AS d,
         (({_neg_bucket_sql("negd", "p_partkey")}) * 65536
          + ({_neg_bucket_sql("negd2", "p_partkey")})) % b AS bkt
  FROM part CROSS JOIN bconst
),
e AS (
  SELECT DISTINCT o_custkey AS s, l_partkey AS d
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
srcs AS (SELECT DISTINCT s FROM e),
probe AS (
  SELECT s, i, (({_neg_bucket_sql("negp", "s || ':' || i")}) * 65536
               + ({_neg_bucket_sql("negp2", "s || ':' || i")})) % b AS bkt
  FROM srcs CROSS JOIN (SELECT unnest(range(16)) AS i) CROSS JOIN bconst
),
cand AS (SELECT p.s, p.i, db.d FROM probe p JOIN db USING (bkt)),
non AS (
  SELECT c.s, c.d, CAST(MIN(c.i) AS BIGINT) AS probe_i
  FROM cand c ANTI JOIN e ON c.s = e.s AND c.d = e.d
  GROUP BY 1, 2
)
SELECT s AS o_custkey, d AS l_partkey, probe_i, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT s, d, probe_i,
         ROW_NUMBER() OVER (PARTITION BY s ORDER BY probe_i, d) AS rank
  FROM non
) WHERE rank <= 3
"""


@_q("negative_edge_sample", _NEG_EDGE_ORACLE)
def negative_edge_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction training negatives over the customer→part
    purchase graph (`graph.negative_edge_sample`): per customer, up to
    3 parts they never bought, chosen by md5-bucket probing (B ≈ \\|parts\\|
    buckets, 16 probes) — deterministic across engines/reruns, linear
    in sources, never a cross join against the destination set."""
    from ..operators import graph as G

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        "o_custkey", "l_partkey"
    )
    parts = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey")
    )
    return G.negative_edge_sample(
        edges, "o_custkey", "l_partkey", parts, k=3, probes=16
    )


# ---------------------------------------------------------------------------
# ORC round-trip fidelity (sources/batch.write_orc_table/read_orc_table)
# ---------------------------------------------------------------------------

_ORC_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT)
         AS value_e4,
       MIN(ts) AS first_ts, MAX(ts) AS last_ts
FROM events
GROUP BY 1
ORDER BY 1
"""


@_q("orc_roundtrip_agg", _ORC_ORACLE)
def orc_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lake-format fidelity through ORC (`sources/batch`): the events
    table is written to an ORC lake (bloom filters on user_id) and
    read back through the ORC scan before aggregating — every value,
    timestamp (micros truncation preserved), and distinct count must
    survive the format round-trip bit-for-bit, which is exactly what
    the parquet-side oracle checks. Value mass on the 1e-4 BIGINT grid
    (the pricing_summary discipline)."""
    import os
    import tempfile

    from ..sources.batch import read_orc_table, write_orc_table

    ev = load(spark, sf_dir, "events")
    path = os.path.join(
        tempfile.gettempdir(),
        f"orc_roundtrip_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    write_orc_table(ev, path, bloom_cols=["user_id"])
    back = read_orc_table(spark, path)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum(F.round(F.col("value") * 10000).cast("long"))
            .cast("long")
            .alias("value_e4"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Benford first-digit screen (data-forensics DQ signal)
# ---------------------------------------------------------------------------

_BENFORD_ORACLE = """
WITH d AS (
  SELECT CAST(floor(o_totalprice
         / power(10, floor(log10(o_totalprice)))) AS BIGINT) AS digit
  FROM orders WHERE o_totalprice > 0
),
cells AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM cells),
terms AS (
  SELECT digit, n,
    CAST(n AS DOUBLE) / CAST(nt AS DOUBLE) AS share,
    log10(1.0 + 1.0 / digit) AS expected_share,
    CAST(ROUND(
      (CAST(n AS DOUBLE) - CAST(nt AS DOUBLE) * log10(1.0 + 1.0 / digit))
      * (CAST(n AS DOUBLE) - CAST(nt AS DOUBLE) * log10(1.0 + 1.0 / digit))
      / (CAST(nt AS DOUBLE) * log10(1.0 + 1.0 / digit)) * 1e9)
      AS BIGINT) AS chi_nano
  FROM cells CROSS JOIN tot
),
total AS (
  SELECT CAST(SUM(chi_nano) AS BIGINT) AS chi_sum FROM terms
)
SELECT digit, n, share, expected_share,
       CAST(chi_sum AS DOUBLE) / 1e9 AS chi2_total
FROM terms CROSS JOIN total
ORDER BY digit
"""


@_q("benford_screen", _BENFORD_ORACLE)
def benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit screen over order totals — the
    data-forensics signal for fabricated or truncated numeric columns
    (natural multi-magnitude amounts follow log10(1+1/d); synthetic
    uniform generators flunk visibly, which is itself the point on
    this testdata). One hash agg to 9 digit cells; the chi-square
    total is an integer sum of nano-fixed per-digit terms (the psi
    discipline — a double Σ over cells is partition-order-dependent),
    one division at the end."""
    orders = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    x = F.col("o_totalprice")
    digit = F.floor(x / F.pow(F.lit(10.0), F.floor(F.log10(x)))).cast("long")
    cells = orders.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = cells.agg(F.sum("n").cast("long").alias("__nt"))
    j = cells.crossJoin(F.broadcast(tot))
    nt = F.col("__nt").cast("double")
    nn = F.col("n").cast("double")
    exp_share = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    chi_nano = F.round(
        (nn - nt * exp_share) * (nn - nt * exp_share) / (nt * exp_share) * 1e9
    ).cast("long")
    terms = j.select(
        "digit",
        "n",
        (nn / nt).alias("share"),
        exp_share.alias("expected_share"),
        chi_nano.alias("__chi"),
    )
    total = terms.agg(F.sum("__chi").cast("long").alias("__chi_sum"))
    return (
        terms.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            "share",
            "expected_share",
            (F.col("__chi_sum").cast("double") / 1e9).alias("chi2_total"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# spark.sql surface demo (redshift_etl_spark/sql.py)
# ---------------------------------------------------------------------------

_SQL_SURFACE_TEXT = """
SELECT n.n_name AS nation,
       CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000)
            AS BIGINT)) AS DOUBLE) / 10000 AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderstatus = 'F'
GROUP BY n.n_name
ORDER BY revenue DESC, nation
"""


@_q("sql_surface_demo", _SQL_SURFACE_TEXT)
def sql_surface_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL door (`redshift_etl_spark/sql.py`): the reference's
    users are SQL-first, so this query is executed as LITERAL
    Spark-SQL text over the registered views — and the oracle is the
    IDENTICAL text handed to DuckDB (revenue on the 1e-4 BIGINT grid
    keeps the double sum partitioning-exact in both engines). A
    reference user's existing SQL migrates by `run_sql(spark, dir,
    their_query)`."""
    from ..sql import run_sql

    return run_sql(spark, sf_dir, _SQL_SURFACE_TEXT)


# ---------------------------------------------------------------------------
# Rendezvous-hash shard stability (export.rendezvous_assign)
# ---------------------------------------------------------------------------

def _hrw_sql(k: int, alias: str) -> str:
    rows = " UNION ALL ".join(f"SELECT {s} AS s" for s in range(k))
    return f"""{alias} AS (
  SELECT o_custkey, CAST(arg_max(s, md5('hrw:' || o_custkey || ':' || s))
       AS BIGINT) AS shard
  FROM (SELECT DISTINCT o_custkey FROM orders) CROSS JOIN ({rows})
  GROUP BY 1
)"""


_HRW_ORACLE = f"""
WITH {_hrw_sql(8, "a8")},
{_hrw_sql(9, "a9")}
SELECT a8.shard,
  CAST(COUNT(*) AS BIGINT) AS n_keys,
  CAST(COALESCE(SUM(CASE WHEN a8.shard <> a9.shard THEN 1 END), 0)
       AS BIGINT) AS n_moved_out
FROM a8 JOIN a9 ON a8.o_custkey = a9.o_custkey
GROUP BY 1
ORDER BY 1
"""


@_q("rendezvous_shards", _HRW_ORACLE)
def rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-topology stability under rendezvous hashing
    (`export.rendezvous_assign`): customer keys assigned at 8 and at 9
    shards, reporting per-shard membership and how many keys each
    shard loses on scale-out — HRW's guarantee is ~1/9 total movement
    where mod-k hashing would reshuffle ~8/9. Fan-out bounded by the
    shard-count config; one max_by agg per topology."""
    from ..operators import export as E

    custs = load(spark, sf_dir, "orders").select("o_custkey").distinct()
    a8 = E.rendezvous_assign(custs, "o_custkey", 8)
    a9 = E.rendezvous_assign(custs, "o_custkey", 9).withColumnRenamed(
        "shard", "__s9"
    )
    return (
        a8.join(a9, "o_custkey")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.coalesce(
                F.sum(F.when(F.col("shard") != F.col("__s9"), 1)), F.lit(0)
            )
            .cast("long")
            .alias("n_moved_out"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities (graph.hits_scores)
# ---------------------------------------------------------------------------

_HITS_ORACLE = """
WITH e AS (
  SELECT DISTINCT o_custkey AS u, l_partkey AS v
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
a1r AS (SELECT v, CAST(COUNT(*) AS BIGINT) * 1000000 AS x FROM e GROUP BY 1),
m1 AS (SELECT MAX(x) AS m FROM a1r),
a1 AS (SELECT v, (x * 1000000) // m AS a FROM a1r CROSS JOIN m1),
h1r AS (
  SELECT u, CAST(SUM(a) AS BIGINT) AS x FROM e JOIN a1 USING (v) GROUP BY 1
),
m2 AS (SELECT MAX(x) AS m FROM h1r),
h1 AS (SELECT u, (x * 1000000) // m AS h FROM h1r CROSS JOIN m2),
a2r AS (
  SELECT v, CAST(SUM(h) AS BIGINT) AS x FROM e JOIN h1 USING (u) GROUP BY 1
),
m3 AS (SELECT MAX(x) AS m FROM a2r),
a2 AS (SELECT v, (x * 1000000) // m AS a FROM a2r CROSS JOIN m3)
SELECT v AS node, CAST(a AS BIGINT) AS score, CAST(rk AS BIGINT) AS rank
FROM (
  SELECT v, a, ROW_NUMBER() OVER (ORDER BY a DESC, v ASC) AS rk FROM a2
) WHERE rk <= 10 ORDER BY rk
"""


@_q("hits_authorities", _HITS_ORACLE)
def hits_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 authority parts of the customer→part purchase graph
    under HITS (`graph.hits_scores`, 2 iterations, exact-integer L∞
    normalization): a part is authoritative when bought by customers
    who buy authoritative parts — the bipartite link-analysis scorer
    PageRank's single score conflates. Integer-exact, so even the
    scores hash-match the unrolled DuckDB twin. Final top-10 by
    TakeOrdered; the rank window runs over the 10 survivor rows."""
    from pyspark.sql import Window

    from ..operators import graph as G

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        "o_custkey", "l_partkey"
    )
    _hubs, auths = G.hits_scores(edges, "o_custkey", "l_partkey", iters=2)
    top = auths.orderBy(F.col("score").desc(), F.col("node").asc()).limit(10)
    w = Window.orderBy(F.col("score").desc(), F.col("node").asc())
    return top.select(
        "node", "score", F.row_number().over(w).cast("long").alias("rank")
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# Kaplan–Meier time-to-purchase (funnel.kaplan_meier)
# ---------------------------------------------------------------------------

_KM_ORACLE = """
WITH pu AS (
  SELECT user_id, MIN(ts) AS entry,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS ev
  FROM events GROUP BY 1
),
dur AS (
  SELECT date_diff('day', CAST(entry AS DATE),
           CAST(COALESCE(ev, TIMESTAMP '2024-01-31 00:00:00') AS DATE))
           AS day,
         CASE WHEN ev IS NOT NULL THEN 1 ELSE 0 END AS e
  FROM pu
),
days AS (
  SELECT day, CAST(SUM(e) AS BIGINT) AS n_events,
         CAST(SUM(1 - e) AS BIGINT) AS n_censored
  FROM dur GROUP BY 1
),
ar AS (
  SELECT *, CAST(SUM(n_events + n_censored) OVER (
    ORDER BY day DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_at_risk
  FROM days
),
t AS (
  SELECT *, CASE WHEN n_at_risk > n_events THEN
    CAST(ROUND(ln(CAST(n_at_risk - n_events AS DOUBLE)
                  / CAST(n_at_risk AS DOUBLE)) * 1e6) AS BIGINT) END AS tm
  FROM ar
)
SELECT day, n_at_risk, n_events, n_censored,
  CASE WHEN SUM(CASE WHEN tm IS NULL THEN 1 ELSE 0 END) OVER (
         ORDER BY day ASC ROWS UNBOUNDED PRECEDING) = 0
       THEN CAST(SUM(tm) OVER (
         ORDER BY day ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) END
    AS ln_s_micro
FROM t ORDER BY day
"""


@_q("kaplan_meier_purchase", _KM_ORACLE)
def kaplan_meier_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier time from first activity to first purchase, right-
    censored at the window end (`funnel.kaplan_meier`): the survival
    curve a naive conversion rate misstates when observation truncates.
    All-integer output — the curve is the exact cumulative micro-ln
    column (exp is the consumer's; cross-libm exp isn't bit-stable);
    the two unpartitioned windows run on the ≤31-row study-day frame
    (calendar-bounded, never data-sized)."""
    from ..operators import funnel as FN

    ev = load(spark, sf_dir, "events")
    return FN.kaplan_meier(
        ev,
        "user_id",
        "ts",
        F.col("event_type") == "purchase",
        "2024-01-31 00:00:00",
    )


# ---------------------------------------------------------------------------
# As-of join with staleness tolerance (asof.asof_join tolerance=)
# ---------------------------------------------------------------------------

_ASOF_TOL_ORACLE = """
WITH e AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'error'
),
c AS (
  SELECT user_id, ts AS cts, CAST(MAX(event_id) AS BIGINT) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
j AS (
  SELECT e.user_id, e.ts, e.event_id, c.cts, c.click_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.event_id ORDER BY c.cts DESC) AS rk
  FROM e LEFT JOIN c ON e.user_id = c.user_id AND c.cts <= e.ts
)
SELECT user_id, ts, event_id,
  CASE WHEN cts >= ts - INTERVAL 1 HOUR THEN click_id END AS click_id
FROM j WHERE rk = 1
"""


@_q("asof_tolerance_join", _ASOF_TOL_ORACLE)
def asof_tolerance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last click before each error, but ONLY if within the last hour
    (`asof.asof_join` with ``tolerance`` — pandas merge_asof parity):
    a stale match is operationally a non-match ("the last heartbeat,
    if recent"). Clicks pre-deduped to one row per (user, ts) with a
    max event_id — equal-time as-of winners must be decided BY
    CONSTRUCTION, not by partition luck. Same single-shuffle union +
    carry-forward plan; the staleness gate is a projection."""
    from ..operators import asof as AS

    ev = load(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("cts"))
        .agg(F.max("event_id").cast("long").alias("click_id"))
    )
    return AS.asof_join(
        errors,
        clicks,
        on="user_id",
        left_time="ts",
        right_time="cts",
        value_cols=["click_id"],
        tolerance="INTERVAL 1 HOUR",
    )


# ---------------------------------------------------------------------------
# Contingency-table adjusted residuals (per-cell independence screen)
# ---------------------------------------------------------------------------

_RESID_ORACLE = """
WITH cells AS (
  SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS dow,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
rm AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS rn FROM cells GROUP BY 1),
cm AS (SELECT dow, CAST(SUM(n) AS BIGINT) AS cn FROM cells GROUP BY 1),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM cells)
SELECT c.event_type, c.dow, c.n,
  CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE) / CAST(nt AS DOUBLE) AS expected,
  (CAST(c.n AS DOUBLE)
   - CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE) / CAST(nt AS DOUBLE))
  / sqrt(CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE) / CAST(nt AS DOUBLE)
         * (1 - CAST(rn AS DOUBLE) / CAST(nt AS DOUBLE))
         * (1 - CAST(cn AS DOUBLE) / CAST(nt AS DOUBLE))) AS adj_residual
FROM cells c
JOIN rm USING (event_type) JOIN cm USING (dow) CROSS JOIN tot
ORDER BY event_type, dow
"""


@_q("contingency_residuals", _RESID_ORACLE)
def contingency_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted standardized residuals of the event-type × day-of-week
    contingency table — WHICH cells drive an independence violation
    (the chi-square scalar in `event_type_independence` says that one
    exists; |residual| > 2 says where). Per-cell fixed IEEE
    expressions of exact BIGINT margins — no double sums anywhere, so
    no rounding grid is needed; margins attach by enum-bounded joins.
    Day-of-week spelled as Spark's dayofweek − 1 ≡ DuckDB's dayofweek
    (both Sunday-based after the shift)."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
    )
    cells = ev.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    rm = cells.groupBy("event_type").agg(F.sum("n").cast("long").alias("__rn"))
    cm = cells.groupBy("dow").agg(F.sum("n").cast("long").alias("__cn"))
    tot = cells.agg(F.sum("n").cast("long").alias("__nt"))
    j = (
        cells.join(rm, "event_type")
        .join(cm, "dow")
        .crossJoin(F.broadcast(tot))
    )
    rn = F.col("__rn").cast("double")
    cn = F.col("__cn").cast("double")
    nt = F.col("__nt").cast("double")
    expected = rn * cn / nt
    resid = (F.col("n").cast("double") - rn * cn / nt) / F.sqrt(
        rn * cn / nt * (1 - rn / nt) * (1 - cn / nt)
    )
    return j.select(
        "event_type",
        "dow",
        "n",
        expected.alias("expected"),
        resid.alias("adj_residual"),
    ).orderBy("event_type", "dow")


# ---------------------------------------------------------------------------
# Two-sample log-rank test (funnel.log_rank_test): do the even- and
# odd-user cohorts reach first purchase at the same rate, under right
# censoring? Completes the survival family the r10 Kaplan–Meier curve
# started (reference analog: the campaign-comparison questions the
# Salesforce SP_* reports answer with plain rates, stated correctly).
# ---------------------------------------------------------------------------

_LOGRANK_ORACLE = """
WITH pu AS (
  SELECT user_id, MIN(ts) AS entry,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS ev,
         CAST(MIN(user_id % 2) AS BIGINT) AS g
  FROM events GROUP BY 1
),
dur AS (
  SELECT date_diff('day', CAST(entry AS DATE),
           CAST(COALESCE(ev, TIMESTAMP '2024-01-31 00:00:00') AS DATE))
           AS day,
         CASE WHEN ev IS NOT NULL THEN 1 ELSE 0 END AS e, g
  FROM pu
),
cells AS (
  SELECT day,
         CAST(SUM(CASE WHEN g = 1 THEN e ELSE 0 END) AS BIGINT) AS d1,
         CAST(SUM(CASE WHEN g <> 1 THEN e ELSE 0 END) AS BIGINT) AS d2,
         CAST(SUM(CASE WHEN g = 1 THEN 1 - e ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN g <> 1 THEN 1 - e ELSE 0 END) AS BIGINT) AS c2
  FROM dur GROUP BY 1
),
ar AS (
  SELECT day, d1, d2,
         CAST(SUM(d1 + c1) OVER (
           ORDER BY day DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n1,
         CAST(SUM(d2 + c2) OVER (
           ORDER BY day DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n2
  FROM cells
),
terms AS (
  SELECT d1,
    CASE WHEN d1 + d2 > 0 THEN CAST(ROUND(
      CAST(d1 + d2 AS DOUBLE) * CAST(n1 AS DOUBLE)
      / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) * 1e9) AS BIGINT)
      ELSE 0 END AS e1n,
    CASE WHEN d1 + d2 > 0 AND n1 + n2 > 1 THEN CAST(ROUND(
      CAST(d1 + d2 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - CAST(d1 + d2 AS DOUBLE))
      / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
         * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
         * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0)) * 1e9)
      AS BIGINT) ELSE 0 END AS vn
  FROM ar
),
sums AS (
  SELECT CAST(SUM(d1) AS BIGINT) AS o1,
         CAST(SUM(e1n) AS BIGINT) AS e1n,
         CAST(SUM(vn) AS BIGINT) AS vn
  FROM terms
),
totals AS (
  SELECT CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_g1,
         CAST(SUM(CASE WHEN g <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_g2,
         CAST(SUM(CASE WHEN g = 1 THEN e ELSE 0 END) AS BIGINT) AS events_g1,
         CAST(SUM(CASE WHEN g <> 1 THEN e ELSE 0 END) AS BIGINT) AS events_g2
  FROM dur
)
SELECT n_g1, n_g2, events_g1, events_g2,
       (CAST(o1 AS DOUBLE) * 1e9 - e1n) / 1e9 AS o_minus_e,
       CAST(vn AS DOUBLE) / 1e9 AS var_sum,
       CASE WHEN vn > 0 THEN
         ((CAST(o1 AS DOUBLE) * 1e9 - e1n) / 1e9)
         / sqrt(CAST(vn AS DOUBLE) / 1e9) END AS z,
       CASE WHEN vn > 0 THEN
         (((CAST(o1 AS DOUBLE) * 1e9 - e1n) / 1e9)
          / sqrt(CAST(vn AS DOUBLE) / 1e9))
         * (((CAST(o1 AS DOUBLE) * 1e9 - e1n) / 1e9)
            / sqrt(CAST(vn AS DOUBLE) / 1e9)) END AS chi2
FROM totals CROSS JOIN sums
"""


@_q("survival_logrank", _LOGRANK_ORACLE)
def survival_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test of time-to-first-purchase between the even- and
    odd-user cohorts (`funnel.log_rank_test`): the censoring-correct
    counterpart of `ab_purchase_ztest` — a user censored early is
    neither a conversion nor a failure, which a plain two-proportion z
    misstates. Per-day expected/variance terms are nano-fixed integers
    off exact BIGINT risk sets (the KM/psi discipline); Z and chi² are
    one final IEEE expression each."""
    from ..operators import funnel as FN

    ev = load(spark, sf_dir, "events")
    return FN.log_rank_test(
        ev,
        "user_id",
        "ts",
        F.col("event_type") == "purchase",
        "2024-01-31 00:00:00",
        F.col("user_id") % 2,
    )


# ---------------------------------------------------------------------------
# CMH stratified A/B (quality.cmh_test): purchase conversion per USER
# between the parity variants, stratified by the weekday each user
# entered — the Simpson's-paradox-proof readout beside the pooled
# ab_purchase_ztest. Day-of-week spelled Spark dayofweek−1 ≡ DuckDB
# dayofweek (the contingency_residuals convention).
# ---------------------------------------------------------------------------

_CMH_ORACLE = """
WITH pu AS (
  SELECT user_id,
         CAST(dayofweek(CAST(MIN(ts) AS DATE)) AS BIGINT) AS dow,
         CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS v,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS s
  FROM events GROUP BY user_id
),
cells AS (
  SELECT dow, v, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(s), 0) AS BIGINT) AS x
  FROM pu GROUP BY 1, 2
),
nv AS (
  SELECT CAST(COUNT(DISTINCT v) AS BIGINT) AS n_variants,
         MIN(v) AS variant_a, MAX(v) AS variant_b
  FROM cells
),
strata AS (
  SELECT dow,
    CAST(COALESCE(SUM(CASE WHEN v = variant_a THEN n END), 0) AS BIGINT) AS n1,
    CAST(COALESCE(SUM(CASE WHEN v = variant_a THEN x END), 0) AS BIGINT) AS a,
    CAST(COALESCE(SUM(CASE WHEN v = variant_b THEN n END), 0) AS BIGINT) AS n2,
    CAST(COALESCE(SUM(CASE WHEN v = variant_b THEN x END), 0) AS BIGINT) AS c
  FROM cells CROSS JOIN nv GROUP BY dow
),
terms AS (
  SELECT a, n1, n2, c,
    CASE WHEN n1 + n2 > 0 THEN CAST(ROUND(
      CAST(n1 AS DOUBLE) * (a + c) / (n1 + n2) * 1e9) AS BIGINT)
      ELSE 0 END AS en,
    CASE WHEN n1 + n2 > 1 THEN CAST(ROUND(
      CAST(n1 AS DOUBLE) * n2 * (a + c) * (n1 + n2 - a - c)
      / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2) * (n1 + n2 - 1.0)) * 1e9)
      AS BIGINT) ELSE 0 END AS vn,
    CASE WHEN n1 + n2 > 0 THEN CAST(ROUND(
      CAST(a AS DOUBLE) * (n2 - c) / (n1 + n2) * 1e9) AS BIGINT)
      ELSE 0 END AS orn,
    CASE WHEN n1 + n2 > 0 THEN CAST(ROUND(
      CAST(n1 - a AS DOUBLE) * c / (n1 + n2) * 1e9) AS BIGINT)
      ELSE 0 END AS ord_
  FROM strata
),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
         CAST(SUM(n1) AS BIGINT) AS n_a, CAST(SUM(a) AS BIGINT) AS x_a,
         CAST(SUM(n2) AS BIGINT) AS n_b, CAST(SUM(c) AS BIGINT) AS x_b,
         CAST(SUM(a) AS BIGINT) AS oa,
         CAST(SUM(en) AS BIGINT) AS en, CAST(SUM(vn) AS BIGINT) AS vn,
         CAST(SUM(orn) AS BIGINT) AS orn, CAST(SUM(ord_) AS BIGINT) AS ord_
  FROM terms
)
SELECT n_variants, n_strata, variant_a, n_a, x_a, variant_b, n_b, x_b,
  CASE WHEN n_variants = 2 AND vn > 0 THEN
    ((CAST(oa AS DOUBLE) * 1e9 - en) / 1e9)
    * ((CAST(oa AS DOUBLE) * 1e9 - en) / 1e9)
    / (CAST(vn AS DOUBLE) / 1e9) END AS chi2_cmh,
  CASE WHEN n_variants = 2 AND ord_ > 0 THEN
    CAST(orn AS DOUBLE) / ord_ END AS or_mh
FROM sums CROSS JOIN nv
"""


@_q("cmh_purchase_dow", _CMH_ORACLE)
def cmh_purchase_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Mantel–Haenszel purchase-conversion test between the
    user-parity variants, stratified by each user's entry weekday
    (`quality.cmh_test`): the pooled z can reverse sign when a
    confounder splits unevenly across variants; CMH conditions on each
    stratum's margins. Per-stratum expected/variance/odds terms are
    nano-fixed integers off exact BIGINT cells (the log-rank/psi
    discipline); chi² and OR_MH are one final IEEE expression each."""
    from ..operators import quality as Q

    ev = load(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        (F.dayofweek(F.to_date(F.min("ts"))) - 1).cast("long").alias("dow"),
        F.max(
            (F.col("event_type") == "purchase").cast("long")
        ).alias("s"),
    ).select(
        "dow",
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("v"),
        "s",
    )
    return Q.cmh_test(pu, "dow", "v", "s")


# ---------------------------------------------------------------------------
# Welch t-test on event VALUE (quality.welch_ttest): the continuous-
# outcome counterpart of ab_purchase_ztest — revenue per event, not
# conversion. Moments are exact BIGINTs on the cents grid.
# ---------------------------------------------------------------------------

_WELCH_ORACLE = """
WITH t AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS v,
         CAST(ROUND(value * 100) AS BIGINT) AS yi
  FROM events
  WHERE value IS NOT NULL
),
per AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(yi), 0) AS BIGINT) AS s1,
         CAST(COALESCE(SUM(yi * yi), 0) AS BIGINT) AS s2
  FROM t GROUP BY 1
),
p AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_variants,
         min_by(v, v) AS variant_a,
         CAST(min_by(n, v) AS BIGINT) AS n_a,
         CAST(min_by(s1, v) AS BIGINT) AS s1a,
         CAST(min_by(s2, v) AS BIGINT) AS s2a,
         max_by(v, v) AS variant_b,
         CAST(max_by(n, v) AS BIGINT) AS n_b,
         CAST(max_by(s1, v) AS BIGINT) AS s1b,
         CAST(max_by(s2, v) AS BIGINT) AS s2b
  FROM per
),
s AS (
  SELECT n_variants, variant_a, n_a,
         CAST(s1a AS DOUBLE) / (n_a * 100.0) AS mean_a,
         variant_b, n_b,
         CAST(s1b AS DOUBLE) / (n_b * 100.0) AS mean_b,
         CASE WHEN n_a > 1 THEN
           (CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * s1a / n_a)
           / ((n_a - 1) * 100.0 * 100.0) END AS va,
         CASE WHEN n_b > 1 THEN
           (CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * s1b / n_b)
           / ((n_b - 1) * 100.0 * 100.0) END AS vb
  FROM p
)
SELECT n_variants, variant_a, n_a, mean_a, variant_b, n_b, mean_b,
  CASE WHEN n_variants = 2 AND n_a > 1 AND n_b > 1
            AND va / n_a + vb / n_b > 0
  THEN (mean_a - mean_b) / sqrt(va / n_a + vb / n_b) END AS t,
  CASE WHEN n_variants = 2 AND n_a > 1 AND n_b > 1
            AND va / n_a + vb / n_b > 0
  THEN (va / n_a + vb / n_b) * (va / n_a + vb / n_b)
       / ((va / n_a) * (va / n_a) / (n_a - 1)
          + (vb / n_b) * (vb / n_b) / (n_b - 1)) END AS df
FROM s
"""


@_q("ab_value_welch", _WELCH_ORACLE)
def ab_value_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test of event value between the
    user-parity variants (`quality.welch_ttest`): the revenue-per-event
    counterpart of the conversion z-test. n, Σy, Σy² per variant are
    exact BIGINTs on the cents grid from ONE hash agg; means/variances/
    t/df are fixed IEEE expressions of those ints."""
    from ..operators import quality as Q

    ev = load(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("v"),
        "value",
    )
    return Q.welch_ttest(ev, "v", "value", scale=100)


# ---------------------------------------------------------------------------
# Join-size estimation from a hash-sampled key synopsis
# (heavy.join_size_estimate): "how big would lineitem ⋈ lineitem on
# l_partkey be?" answered from ~1/16 of the key space, map-side —
# the planner primitive for deciding a join strategy at 100 TB before
# paying for the join. The truth pass (count-frame join, never the
# join itself) rides along so the report carries its own error.
# ---------------------------------------------------------------------------

def _hb16(key: str, salt: str) -> str:
    h = f"md5('{salt}:' || CAST({key} AS VARCHAR))"
    return (
        f"(((instr('0123456789abcdef', substr({h}, 1, 1)) - 1)"
        f" * 16 + instr('0123456789abcdef', substr({h}, 2, 1)) - 1)"
        f" * 16 + instr('0123456789abcdef', substr({h}, 3, 1)) - 1)"
        f" * 16 + instr('0123456789abcdef', substr({h}, 4, 1)) - 1"
    )


_JSE_ORACLE = f"""
WITH ks AS (
  SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem
  WHERE ({_hb16("l_partkey", "jse")}) < 4096
  GROUP BY 1
),
est AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys_sampled,
         CAST(COALESCE(SUM(a.c * b.c), 0) AS BIGINT) AS s
  FROM ks a JOIN ks b ON a.k = b.k
),
kf AS (
  SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1
),
tru AS (
  SELECT CAST(COALESCE(SUM(a.c * b.c), 0) AS BIGINT) AS true_join_rows
  FROM kf a JOIN kf b ON a.k = b.k
)
SELECT n_keys_sampled,
       CAST(s AS DOUBLE) * (65536.0 / 4096) AS est_join_rows,
       true_join_rows,
       CASE WHEN true_join_rows > 0 THEN
         (CAST(s AS DOUBLE) * (65536.0 / 4096) - true_join_rows)
         / true_join_rows END AS rel_error
FROM est CROSS JOIN tru
"""


@_q("join_size_estimate", _JSE_ORACLE)
def join_size_estimate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality of the lineitem self-join on l_partkey estimated
    from a deterministic 1/16 hash-sample of the KEY SPACE
    (`heavy.join_size_estimate`): sampling keys (not rows) keeps both
    sides of a match together, the sample predicate is map-side, and
    the synopsis join is tiny — the estimate never shuffles the full
    table. Truth pass included so the report grades itself."""
    from ..operators import heavy as H

    li = load(spark, sf_dir, "lineitem")
    return H.join_size_estimate(li, li, "l_partkey", "l_partkey")


# ---------------------------------------------------------------------------
# NDV estimation from the same hash-sampled key synopsis
# (heavy.distinct_count_estimate): "how many groups would GROUP BY
# l_orderkey make?" — the planner's agg-strategy question, answered
# map-side from ~1/16 of the key space. Value-space Bernoulli makes the
# estimator unbiased regardless of the frequency skew that breaks every
# row-sample NDV estimator (GEE/Chao).
# ---------------------------------------------------------------------------

_DCE_ORACLE = f"""
WITH keys AS (
  SELECT l_orderkey AS k FROM lineitem WHERE l_orderkey IS NOT NULL
),
est AS (
  SELECT CAST(COUNT(DISTINCT k) AS BIGINT) AS n_keys_sampled
  FROM keys WHERE ({_hb16("k", "dce")}) < 4096
),
tru AS (
  SELECT CAST(COUNT(DISTINCT k) AS BIGINT) AS true_distinct FROM keys
)
SELECT n_keys_sampled,
       CAST(n_keys_sampled AS DOUBLE) * (65536.0 / 4096) AS est_distinct,
       true_distinct,
       CASE WHEN true_distinct > 0 THEN
         (CAST(n_keys_sampled AS DOUBLE) * (65536.0 / 4096)
          - CAST(true_distinct AS DOUBLE))
         / CAST(true_distinct AS DOUBLE) END AS rel_error
FROM est CROSS JOIN tru
"""


@_q("distinct_count_estimate", _DCE_ORACLE)
def distinct_count_estimate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l_orderkey count of lineitem estimated from the 1/16
    md5 key-space sample (`heavy.distinct_count_estimate`) — planner
    primitive #2 beside `join_size_estimate`, same synopsis, same
    self-grading truth pass."""
    from ..operators import heavy as H

    li = load(spark, sf_dir, "lineitem")
    return H.distinct_count_estimate(li, "l_orderkey")


# ---------------------------------------------------------------------------
# CUPED variance-reduced A/B (quality.cuped_ttest): pre-period value is
# the covariate, post-period value the outcome, per user, cut at the
# experiment midpoint. The per-user sums are exact cents BIGINTs, so
# the operator's whole moment pipeline stays integer-exact.
# ---------------------------------------------------------------------------

_CUPED_CUT = "2024-01-16 00:00:00"

_CUPED_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
    CAST(COALESCE(SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_CUT}'
      THEN CAST(ROUND(value * 100) AS BIGINT) END), 0) AS BIGINT) AS xc,
    CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUT}'
      THEN CAST(ROUND(value * 100) AS BIGINT) END), 0) AS BIGINT) AS yc
  FROM events GROUP BY 1
),
t AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS v,
         xc AS xi, yc AS yi
  FROM per_user
),
per AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(xi), 0) AS BIGINT) AS sx,
         CAST(COALESCE(SUM(yi), 0) AS BIGINT) AS sy,
         CAST(COALESCE(SUM(xi * xi), 0) AS BIGINT) AS sxx,
         CAST(COALESCE(SUM(xi * yi), 0) AS BIGINT) AS sxy,
         CAST(COALESCE(SUM(yi * yi), 0) AS BIGINT) AS syy
  FROM t GROUP BY 1
),
p AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_variants,
         CAST(SUM(n) AS BIGINT) AS nn,
         CAST(SUM(sx) AS HUGEINT) AS sxp,
         CAST(SUM(sy) AS HUGEINT) AS syp,
         CAST(SUM(sxx) AS HUGEINT) AS sxxp,
         CAST(SUM(sxy) AS HUGEINT) AS sxyp,
         min_by(v, v) AS variant_a,
         CAST(min_by(n, v) AS BIGINT) AS n_a,
         CAST(min_by(sx, v) AS BIGINT) AS sxa,
         CAST(min_by(sy, v) AS BIGINT) AS sya,
         CAST(min_by(sxx, v) AS BIGINT) AS sxxa,
         CAST(min_by(sxy, v) AS BIGINT) AS sxya,
         CAST(min_by(syy, v) AS BIGINT) AS syya,
         max_by(v, v) AS variant_b,
         CAST(max_by(n, v) AS BIGINT) AS n_b,
         CAST(max_by(sx, v) AS BIGINT) AS sxb,
         CAST(max_by(sy, v) AS BIGINT) AS syb,
         CAST(max_by(sxx, v) AS BIGINT) AS sxxb,
         CAST(max_by(sxy, v) AS BIGINT) AS sxyb,
         CAST(max_by(syy, v) AS BIGINT) AS syyb
  FROM per
),
s AS (
  SELECT *,
    CAST(nn AS HUGEINT) * sxyp - sxp * syp AS num,
    CAST(nn AS HUGEINT) * sxxp - sxp * sxp AS den,
    CAST(sxp AS DOUBLE) / (CAST(nn AS DOUBLE) * 100.0) AS xbar
  FROM p
),
s2 AS (
  SELECT *,
    CASE WHEN den > 0 THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END
      AS theta
  FROM s
),
arms AS (
  SELECT *,
    CAST(sya AS DOUBLE) / (CAST(n_a AS DOUBLE) * 100.0)
      - theta * (CAST(sxa AS DOUBLE) / (CAST(n_a AS DOUBLE) * 100.0) - xbar)
      AS ma,
    CAST(syb AS DOUBLE) / (CAST(n_b AS DOUBLE) * 100.0)
      - theta * (CAST(sxb AS DOUBLE) / (CAST(n_b AS DOUBLE) * 100.0) - xbar)
      AS mb,
    CASE WHEN n_a > 1 THEN
      ((CAST(syya AS DOUBLE)
        - CAST(sya AS DOUBLE) * CAST(sya AS DOUBLE) / CAST(n_a AS DOUBLE))
       / ((CAST(n_a AS DOUBLE) - 1) * 100.0 * 100.0))
      - 2 * theta *
      ((CAST(sxya AS DOUBLE)
        - CAST(sxa AS DOUBLE) * CAST(sya AS DOUBLE) / CAST(n_a AS DOUBLE))
       / ((CAST(n_a AS DOUBLE) - 1) * 100.0 * 100.0))
      + theta * theta *
      ((CAST(sxxa AS DOUBLE)
        - CAST(sxa AS DOUBLE) * CAST(sxa AS DOUBLE) / CAST(n_a AS DOUBLE))
       / ((CAST(n_a AS DOUBLE) - 1) * 100.0 * 100.0))
    END AS va,
    CASE WHEN n_b > 1 THEN
      ((CAST(syyb AS DOUBLE)
        - CAST(syb AS DOUBLE) * CAST(syb AS DOUBLE) / CAST(n_b AS DOUBLE))
       / ((CAST(n_b AS DOUBLE) - 1) * 100.0 * 100.0))
      - 2 * theta *
      ((CAST(sxyb AS DOUBLE)
        - CAST(sxb AS DOUBLE) * CAST(syb AS DOUBLE) / CAST(n_b AS DOUBLE))
       / ((CAST(n_b AS DOUBLE) - 1) * 100.0 * 100.0))
      + theta * theta *
      ((CAST(sxxb AS DOUBLE)
        - CAST(sxb AS DOUBLE) * CAST(sxb AS DOUBLE) / CAST(n_b AS DOUBLE))
       / ((CAST(n_b AS DOUBLE) - 1) * 100.0 * 100.0))
    END AS vb
  FROM s2
)
SELECT n_variants, theta,
  variant_a, n_a, CASE WHEN den > 0 THEN ma END AS adj_mean_a,
  variant_b, n_b, CASE WHEN den > 0 THEN mb END AS adj_mean_b,
  CASE WHEN n_variants = 2 AND n_a > 1 AND n_b > 1 AND den > 0
            AND va / n_a + vb / n_b > 0
  THEN (ma - mb) / sqrt(va / n_a + vb / n_b) END AS t,
  CASE WHEN n_variants = 2 AND n_a > 1 AND n_b > 1 AND den > 0
            AND va / n_a + vb / n_b > 0
  THEN (va / n_a + vb / n_b) * (va / n_a + vb / n_b)
       / ((va / n_a) * (va / n_a) / (n_a - 1)
          + (vb / n_b) * (vb / n_b) / (n_b - 1)) END AS df
FROM arms
"""


@_q("cuped_value_ab", _CUPED_ORACLE)
def cuped_value_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted A/B on per-user post-period value with the
    pre-period value as covariate (`quality.cuped_ttest`): per-user
    cents sums are exact BIGINTs, theta's covariance ratio is exact
    DECIMAL(38,0)/HUGEINT arithmetic, and the adjusted Welch t is a
    fixed IEEE expression — the variance-reduced counterpart of
    `ab_value_welch` on the same events."""
    from ..operators import quality as Q

    ev = load(spark, sf_dir, "events")
    cut = F.lit(_CUPED_CUT).cast("timestamp")
    cents = F.round(F.col("value") * 100).cast("long")
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("ts") < cut, cents)), F.lit(0)
        ).cast("long").alias("xc"),
        F.coalesce(
            F.sum(F.when(F.col("ts") >= cut, cents)), F.lit(0)
        ).cast("long").alias("yc"),
    )
    units = per_user.select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("v"),
        (F.col("xc").cast("double") / 100.0).alias("pre"),
        (F.col("yc").cast("double") / 100.0).alias("post"),
    )
    return Q.cuped_ttest(units, "v", "pre", "post", scale=100)


# ---------------------------------------------------------------------------
# Difference-in-differences (quality.diff_in_diff): purchase conversion
# per active user, first half vs second half of the window, between the
# user-parity variants — the quasi-experimental readout when assignment
# is not randomized.
# ---------------------------------------------------------------------------

_DID_ORACLE = f"""
WITH up AS (
  SELECT user_id,
    CASE WHEN ts < TIMESTAMP '{_CUPED_CUT}' THEN 1 ELSE 2 END AS p,
    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      AS BIGINT) AS s
  FROM events GROUP BY 1, 2
),
u AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS v,
         CAST(p AS BIGINT) AS p, s
  FROM up
),
cells AS (
  SELECT v, p, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(s) AS BIGINT) AS x
  FROM u GROUP BY 1, 2
),
b AS (
  SELECT CAST(COUNT(DISTINCT v) AS BIGINT) AS n_variants,
         CAST(COUNT(DISTINCT p) AS BIGINT) AS n_periods,
         MIN(v) AS variant_a, MAX(v) AS variant_b,
         MIN(p) AS period_1, MAX(p) AS period_2
  FROM cells
),
-- global fold (always ONE row, zeros on empty) + bounds re-attach:
-- a GROUP BY over the bounds would return zero rows on empty input
folded AS (
  SELECT
    CAST(COALESCE(SUM(CASE WHEN v = variant_a AND p = period_1 THEN n END),
      0) AS BIGINT) AS n_a1,
    CAST(COALESCE(SUM(CASE WHEN v = variant_a AND p = period_1 THEN x END),
      0) AS BIGINT) AS xa1,
    CAST(COALESCE(SUM(CASE WHEN v = variant_a AND p = period_2 THEN n END),
      0) AS BIGINT) AS n_a2,
    CAST(COALESCE(SUM(CASE WHEN v = variant_a AND p = period_2 THEN x END),
      0) AS BIGINT) AS xa2,
    CAST(COALESCE(SUM(CASE WHEN v = variant_b AND p = period_1 THEN n END),
      0) AS BIGINT) AS n_b1,
    CAST(COALESCE(SUM(CASE WHEN v = variant_b AND p = period_1 THEN x END),
      0) AS BIGINT) AS xb1,
    CAST(COALESCE(SUM(CASE WHEN v = variant_b AND p = period_2 THEN n END),
      0) AS BIGINT) AS n_b2,
    CAST(COALESCE(SUM(CASE WHEN v = variant_b AND p = period_2 THEN x END),
      0) AS BIGINT) AS xb2
  FROM cells CROSS JOIN b
),
wide AS (SELECT * FROM b CROSS JOIN folded),
r AS (
  SELECT *,
    CASE WHEN n_a1 > 0 THEN CAST(xa1 AS DOUBLE) / CAST(n_a1 AS DOUBLE) END
      AS p_a1,
    CASE WHEN n_a2 > 0 THEN CAST(xa2 AS DOUBLE) / CAST(n_a2 AS DOUBLE) END
      AS p_a2,
    CASE WHEN n_b1 > 0 THEN CAST(xb1 AS DOUBLE) / CAST(n_b1 AS DOUBLE) END
      AS p_b1,
    CASE WHEN n_b2 > 0 THEN CAST(xb2 AS DOUBLE) / CAST(n_b2 AS DOUBLE) END
      AS p_b2,
    (n_variants = 2 AND n_periods = 2 AND n_a1 > 0 AND n_a2 > 0
     AND n_b1 > 0 AND n_b2 > 0) AS ok
  FROM wide
)
SELECT n_variants, n_periods, variant_a, variant_b, period_1, period_2,
  n_a1, p_a1, n_a2, p_a2, n_b1, p_b1, n_b2, p_b2,
  CASE WHEN ok THEN (p_b2 - p_b1) - (p_a2 - p_a1) END AS did,
  CASE WHEN ok THEN sqrt(
    p_a1 * (1 - p_a1) / CAST(n_a1 AS DOUBLE)
    + p_a2 * (1 - p_a2) / CAST(n_a2 AS DOUBLE)
    + p_b1 * (1 - p_b1) / CAST(n_b1 AS DOUBLE)
    + p_b2 * (1 - p_b2) / CAST(n_b2 AS DOUBLE)) END AS se,
  CASE WHEN ok AND
    p_a1 * (1 - p_a1) / CAST(n_a1 AS DOUBLE)
    + p_a2 * (1 - p_a2) / CAST(n_a2 AS DOUBLE)
    + p_b1 * (1 - p_b1) / CAST(n_b1 AS DOUBLE)
    + p_b2 * (1 - p_b2) / CAST(n_b2 AS DOUBLE) > 0
  THEN ((p_b2 - p_b1) - (p_a2 - p_a1)) / sqrt(
    p_a1 * (1 - p_a1) / CAST(n_a1 AS DOUBLE)
    + p_a2 * (1 - p_a2) / CAST(n_a2 AS DOUBLE)
    + p_b1 * (1 - p_b1) / CAST(n_b1 AS DOUBLE)
    + p_b2 * (1 - p_b2) / CAST(n_b2 AS DOUBLE)) END AS z
FROM r
"""


@_q("did_purchase_rate", _DID_ORACLE)
def did_purchase_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DiD on purchase conversion per active user (first half vs
    second half of the event window) between the user-parity variants
    (`quality.diff_in_diff`): four exact BIGINT cells from one hash
    agg; DiD/se/z fixed IEEE expressions with NULL on degenerate
    shapes."""
    from ..operators import quality as Q

    ev = load(spark, sf_dir, "events")
    cut = F.lit(_CUPED_CUT).cast("timestamp")
    up = ev.groupBy(
        "user_id",
        F.when(F.col("ts") < cut, 1).otherwise(2).cast("long").alias("p"),
    ).agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("long").alias("s"),
    )
    units = up.select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("v"),
        "p", "s",
    )
    return Q.diff_in_diff(units, "v", "p", "s")


# ---------------------------------------------------------------------------
# Poisson-bootstrap CI of mean event value (sampling.bootstrap_mean_ci):
# the bootstrap that runs at 100 TB — per-replica Poisson(1) weights
# from md5, map-side only, CI bounds as exact order statistics of the
# replica means. b=40 replicas, k_lo = round(0.025·39) = 1, so the
# bounds are the 2nd-smallest and 2nd-largest replica means.
# ---------------------------------------------------------------------------

def _u32_sql(key: str, salt: str) -> str:
    """DuckDB twin of sampling.md5_u32: eight md5 nibbles folded
    left-associatively, same integer at every step."""
    h = f"md5('{salt}:' || {key})"
    nib = (
        lambda p: f"(instr('0123456789abcdef', substr({h}, {p}, 1)) - 1)"
    )
    u = nib(1)
    for p in range(2, 9):
        u = f"({u} * 16 + {nib(p)})"
    return u


def _poisson1_sql(u32: str) -> str:
    """DuckDB twin of sampling.poisson1_weight: pure integer threshold
    chain over the SAME u32 constants."""
    from ..operators.sampling import POISSON1_CUM_U32

    cases = " ".join(
        f"WHEN {u32} < {t} THEN {k}"
        for k, t in enumerate(POISSON1_CUM_U32)
    )
    return f"(CASE {cases} ELSE {len(POISSON1_CUM_U32)} END)"


_BOOT_ORACLE = f"""
WITH base AS (
  SELECT CAST(event_id AS VARCHAR) AS id,
         CAST(ROUND(value * 100) AS BIGINT) AS y
  FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL
),
overall AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(y), 0) AS DOUBLE)
           / (CAST(COUNT(*) AS DOUBLE) * 100.0) AS mean
  FROM base
),
reps AS (
  SELECT r.range AS r, base.id, base.y,
    {_poisson1_sql(_u32_sql("CAST(r.range AS VARCHAR) || ':' || base.id", "pb"))}
      AS w
  FROM base CROSS JOIN range(40) r
),
means AS (
  SELECT r,
    CAST(SUM(w * y) AS BIGINT) AS swy,
    CAST(SUM(w) AS BIGINT) AS sw
  FROM reps GROUP BY 1
),
m2 AS (
  SELECT r, CAST(swy AS DOUBLE) / (CAST(sw AS DOUBLE) * 100.0) AS m
  FROM means WHERE sw > 0
),
ranked AS (
  SELECT m, ROW_NUMBER() OVER (ORDER BY m ASC, r ASC) AS rk,
         COUNT(*) OVER () AS b_eff
  FROM m2
),
ci AS (
  SELECT MIN(CASE WHEN rk = 2 THEN m END) AS ci_lo,
         MIN(CASE WHEN rk = b_eff - 1 THEN m END) AS ci_hi
  FROM ranked
)
SELECT n, mean, CAST(40 AS BIGINT) AS b, ci_lo, ci_hi
FROM overall CROSS JOIN ci
"""


@_q("bootstrap_value_ci", _BOOT_ORACLE)
def bootstrap_value_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Poisson-bootstrap CI for mean event value over 40
    deterministic md5-weighted replicas (`sampling.bootstrap_mean_ci`):
    weights are exact-integer inverse-CDF draws, replica means exact
    cents ratios, bounds order statistics — zero resample shuffle, the
    whole bootstrap is one map-side weight column per replica."""
    from ..operators import sampling as SA

    ev = load(spark, sf_dir, "events")
    return SA.bootstrap_mean_ci(ev, "event_id", "value", b=40)


# ---------------------------------------------------------------------------
# Conjunctive-predicate selectivity (heavy.selectivity_estimate):
# planner primitive #3 — "how many rows pass qty>=25 AND price>=30000?"
# from a 1/16 md5 ROW sample (row sampling is correct for per-row
# predicates, unlike NDV/join-size where the key space must be
# sampled). The pair is deliberately CORRELATED — the second predicate
# filters the DERIVED net revenue price·(1−discount), the classic
# gross-vs-net filter pair a user writes — so the report's
# independence grade has something to say (measured factor ~1.38 at
# sf0.1: the sel(A)·sel(B) multiply would undercount by ~28%).
# ---------------------------------------------------------------------------

_SEL_ID = (
    "CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)"
)

_SEL_ORACLE = f"""
WITH base AS (
  -- NULL-id rows excluded to match the operator (they cannot be
  -- sampled stably, so BOTH the sample and the truth pass drop them)
  SELECT (l_extendedprice >= 30000) AS a,
         (l_extendedprice * (1 - l_discount) >= 29000) AS b,
         ({_hb16(_SEL_ID, "sel")}) AS h
  FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
),
samp AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_sample,
    CAST(COALESCE(SUM(CASE WHEN COALESCE(a, false) AND COALESCE(b, false)
      THEN 1 ELSE 0 END), 0) AS BIGINT) AS nab,
    CAST(COALESCE(SUM(CASE WHEN COALESCE(a, false)
      THEN 1 ELSE 0 END), 0) AS BIGINT) AS na,
    CAST(COALESCE(SUM(CASE WHEN COALESCE(b, false)
      THEN 1 ELSE 0 END), 0) AS BIGINT) AS nb
  FROM base WHERE h < 4096
),
tru AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN COALESCE(a, false)
    AND COALESCE(b, false) THEN 1 ELSE 0 END), 0) AS BIGINT) AS true_rows
  FROM base
)
SELECT n_sample,
  CAST(nab AS DOUBLE) * (65536.0 / 4096) AS est_rows,
  true_rows,
  CASE WHEN true_rows > 0 THEN
    (CAST(nab AS DOUBLE) * (65536.0 / 4096) - CAST(true_rows AS DOUBLE))
    / CAST(true_rows AS DOUBLE) END AS rel_error,
  CASE WHEN n_sample > 0 THEN
    CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / CAST(n_sample AS DOUBLE)
    * (65536.0 / 4096) END AS indep_est_rows,
  CASE WHEN na > 0 AND nb > 0 THEN
    CAST(nab AS DOUBLE) * CAST(n_sample AS DOUBLE)
    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) END AS correlation_factor
FROM samp CROSS JOIN tru
"""


@_q("selectivity_conjunctive", _SEL_ORACLE)
def selectivity_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selectivity of gross≥30000 AND net≥29000 on lineitem from the
    1/16 md5 row sample (`heavy.selectivity_estimate`), with the
    independence-assumption grade: net revenue derives from gross, so
    the classical sel(A)·sel(B) multiply is measurably wrong here —
    correlation_factor says by how much."""
    from ..operators import heavy as H

    li = load(spark, sf_dir, "lineitem").withColumn(
        "__rid",
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit("_"),
            F.col("l_linenumber").cast("string"),
        ),
    )
    return H.selectivity_estimate(
        li,
        F.col("l_extendedprice") >= 30000,
        F.col("l_extendedprice") * (1 - F.col("l_discount")) >= 29000,
        "__rid",
    )


# ---------------------------------------------------------------------------
# A/B power / MDE report (quality.ab_power_mde): the design readout
# beside ab_value_welch's verdict — what effect could this test even
# see, and what per-arm n would power the observed difference.
# ---------------------------------------------------------------------------

_MDE_ORACLE = """
WITH t AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS v,
         CAST(ROUND(value * 100) AS BIGINT) AS yi
  FROM events
  WHERE value IS NOT NULL
),
per AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(yi), 0) AS BIGINT) AS s1,
         CAST(COALESCE(SUM(yi * yi), 0) AS BIGINT) AS s2
  FROM t GROUP BY 1
),
p AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_variants,
         min_by(v, v) AS variant_a,
         CAST(min_by(n, v) AS BIGINT) AS n_a,
         CAST(min_by(s1, v) AS BIGINT) AS s1a,
         CAST(min_by(s2, v) AS BIGINT) AS s2a,
         max_by(v, v) AS variant_b,
         CAST(max_by(n, v) AS BIGINT) AS n_b,
         CAST(max_by(s1, v) AS BIGINT) AS s1b,
         CAST(max_by(s2, v) AS BIGINT) AS s2b
  FROM per
),
s AS (
  SELECT n_variants, variant_a, n_a,
         CAST(s1a AS DOUBLE) / (n_a * 100.0) AS mean_a,
         variant_b, n_b,
         CAST(s1b AS DOUBLE) / (n_b * 100.0) AS mean_b,
         CASE WHEN n_a > 1 THEN
           (CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * s1a / n_a)
           / ((n_a - 1) * 100.0 * 100.0) END AS va,
         CASE WHEN n_b > 1 THEN
           (CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * s1b / n_b)
           / ((n_b - 1) * 100.0 * 100.0) END AS vb
  FROM p
),
s2 AS (
  SELECT *,
    (n_variants = 2 AND n_a > 1 AND n_b > 1
     AND va / n_a + vb / n_b > 0) AS ok,
    (1.959963984540054 + 0.8416212335729143) AS zsum
  FROM s
)
SELECT n_variants, variant_a, n_a, mean_a, variant_b, n_b, mean_b,
  CASE WHEN ok THEN mean_a - mean_b END AS mean_diff,
  CASE WHEN ok THEN sqrt(va / n_a + vb / n_b) END AS se,
  CASE WHEN ok THEN zsum * sqrt(va / n_a + vb / n_b) END AS mde_abs,
  CASE WHEN ok AND mean_a - mean_b <> 0 THEN
    CAST(CEIL(zsum * zsum * (va + vb)
      / ((mean_a - mean_b) * (mean_a - mean_b))) AS BIGINT)
  END AS n_per_arm_for_observed
FROM s2
"""


@_q("ab_value_mde", _MDE_ORACLE)
def ab_value_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power/MDE report for the value A/B (`quality.ab_power_mde`):
    what absolute effect the running test can detect at α=0.05 / 80%
    power, and the per-arm n that would power the observed difference
    — the welch moment discipline with two extra IEEE expressions."""
    from ..operators import quality as Q

    ev = load(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("v"),
        "value",
    )
    return Q.ab_power_mde(ev, "v", "value", scale=100)


# ---------------------------------------------------------------------------
# Set-operation NDV estimation (heavy.distinct_set_estimate): how many
# customer keys do the orders and events fact tables SHARE? — union /
# intersection / jaccard of two key columns from one shared md5
# key-space synopsis (the theta-sketch identity: same hash space +
# same threshold means the union of samples IS the sample of the
# union).
# ---------------------------------------------------------------------------

_DSE_ORACLE = f"""
WITH ka AS (
  SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders
  WHERE o_custkey IS NOT NULL
),
kb AS (
  SELECT CAST(user_id AS VARCHAR) AS k FROM events
  WHERE user_id IS NOT NULL
),
sa AS (SELECT DISTINCT k FROM ka WHERE ({_hb16("k", "dce")}) < 4096),
sb AS (SELECT DISTINCT k FROM kb WHERE ({_hb16("k", "dce")}) < 4096),
su AS (
  SELECT k, MAX(ia) AS a, MAX(ib) AS b FROM (
    SELECT k, 1 AS ia, 0 AS ib FROM sa
    UNION ALL SELECT k, 0 AS ia, 1 AS ib FROM sb
  ) GROUP BY 1
),
counts AS (
  SELECT CAST(COALESCE(SUM(a), 0) AS BIGINT) AS n_a_sampled,
         CAST(COALESCE(SUM(b), 0) AS BIGINT) AS n_b_sampled,
         CAST(COUNT(*) AS BIGINT) AS nu,
         CAST(COALESCE(SUM(CASE WHEN a + b = 2 THEN 1 ELSE 0 END), 0)
           AS BIGINT) AS ni
  FROM su
),
tu AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS true_union,
         CAST(COALESCE(SUM(CASE WHEN a + b = 2 THEN 1 ELSE 0 END), 0)
           AS BIGINT) AS true_intersection
  FROM (
    SELECT k, MAX(ia) AS a, MAX(ib) AS b FROM (
      SELECT DISTINCT k, 1 AS ia, 0 AS ib FROM ka
      UNION ALL SELECT DISTINCT k, 0 AS ia, 1 AS ib FROM kb
    ) GROUP BY 1
  )
)
SELECT n_a_sampled, n_b_sampled,
  CAST(n_a_sampled AS DOUBLE) * (65536.0 / 4096) AS est_distinct_a,
  CAST(n_b_sampled AS DOUBLE) * (65536.0 / 4096) AS est_distinct_b,
  CAST(nu AS DOUBLE) * (65536.0 / 4096) AS est_union,
  CAST(ni AS DOUBLE) * (65536.0 / 4096) AS est_intersection,
  CASE WHEN nu > 0 THEN CAST(ni AS DOUBLE) / CAST(nu AS DOUBLE) END
    AS est_jaccard,
  true_union, true_intersection,
  CASE WHEN true_union > 0 THEN
    (CAST(nu AS DOUBLE) * (65536.0 / 4096) - CAST(true_union AS DOUBLE))
    / CAST(true_union AS DOUBLE) END AS rel_error_union
FROM counts CROSS JOIN tu
"""


@_q("fact_key_overlap", _DSE_ORACLE)
def fact_key_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union/intersection/jaccard NDV of orders.o_custkey vs
    events.user_id from the shared 1/16 md5 key-space synopsis
    (`heavy.distinct_set_estimate`) — the planner's shared-key question
    and the referential-drift data-quality readout, self-graded against
    the true counts."""
    from ..operators import heavy as H

    return H.distinct_set_estimate(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "events"),
        "o_custkey",
        "user_id",
    )


# ---------------------------------------------------------------------------
# Trimmed-mean robust A/B (quality.trimmed_mean_ttest): Welch on the
# 5%-per-tail trimmed event values — the whale-resistant revenue test.
# ---------------------------------------------------------------------------

_TRIMMED_ORACLE = """
WITH t AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS v,
         CAST(ROUND(value * 100) AS BIGINT) AS yi
  FROM events
  WHERE value IS NOT NULL
),
hist AS (
  SELECT v, yi, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1, 2
),
cum AS (
  SELECT v, yi, c,
    CAST(SUM(c) OVER (PARTITION BY v ORDER BY yi ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cm,
    CAST(SUM(c) OVER (PARTITION BY v) AS BIGINT) AS n
  FROM hist
),
-- kept multiplicity of each value = |[cm−c, cm) ∩ [k, n−k)|, the
-- histogram spelling of a fixed-count trim (boundary ties partial)
kc AS (
  SELECT v, yi, n,
    GREATEST(CAST(0 AS BIGINT),
      LEAST(cm, n - CAST(FLOOR(0.05 * n) AS BIGINT))
      - GREATEST(cm - c, CAST(FLOOR(0.05 * n) AS BIGINT))) AS kcnt
  FROM cum
),
per AS (
  SELECT v, CAST(MAX(n) AS BIGINT) AS ntot,
         CAST(COALESCE(SUM(kcnt), 0) AS BIGINT) AS nk,
         CAST(COALESCE(SUM(kcnt * yi), 0) AS BIGINT) AS s1,
         CAST(COALESCE(SUM(kcnt * yi * yi), 0) AS BIGINT) AS s2
  FROM kc GROUP BY 1
),
p AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_variants,
         min_by(v, v) AS variant_a,
         CAST(min_by(ntot, v) AS BIGINT) AS n_a,
         CAST(min_by(nk, v) AS BIGINT) AS n_kept_a,
         CAST(min_by(s1, v) AS BIGINT) AS s1a,
         CAST(min_by(s2, v) AS BIGINT) AS s2a,
         max_by(v, v) AS variant_b,
         CAST(max_by(ntot, v) AS BIGINT) AS n_b,
         CAST(max_by(nk, v) AS BIGINT) AS n_kept_b,
         CAST(max_by(s1, v) AS BIGINT) AS s1b,
         CAST(max_by(s2, v) AS BIGINT) AS s2b
  FROM per
),
s AS (
  SELECT n_variants, variant_a, n_a, n_kept_a,
         CAST(s1a AS DOUBLE) / (n_kept_a * 100.0) AS tmean_a,
         variant_b, n_b, n_kept_b,
         CAST(s1b AS DOUBLE) / (n_kept_b * 100.0) AS tmean_b,
         CASE WHEN n_kept_a > 1 THEN
           (CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * s1a / n_kept_a)
           / ((n_kept_a - 1) * 100.0 * 100.0) END AS va,
         CASE WHEN n_kept_b > 1 THEN
           (CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * s1b / n_kept_b)
           / ((n_kept_b - 1) * 100.0 * 100.0) END AS vb
  FROM p
)
SELECT n_variants, variant_a, n_a, n_kept_a, tmean_a,
       variant_b, n_b, n_kept_b, tmean_b,
  CASE WHEN n_variants = 2 AND n_kept_a > 1 AND n_kept_b > 1
            AND va / n_kept_a + vb / n_kept_b > 0
  THEN (tmean_a - tmean_b) / sqrt(va / n_kept_a + vb / n_kept_b) END AS t,
  CASE WHEN n_variants = 2 AND n_kept_a > 1 AND n_kept_b > 1
            AND va / n_kept_a + vb / n_kept_b > 0
  THEN (va / n_kept_a + vb / n_kept_b) * (va / n_kept_a + vb / n_kept_b)
       / ((va / n_kept_a) * (va / n_kept_a) / (n_kept_a - 1)
          + (vb / n_kept_b) * (vb / n_kept_b) / (n_kept_b - 1)) END AS df
FROM s
"""


@_q("ab_value_trimmed", _TRIMMED_ORACLE)
def ab_value_trimmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-per-tail trimmed-mean Welch on event value between the
    user-parity variants (`quality.trimmed_mean_ttest`) — the
    whale-resistant counterpart of `ab_value_welch`; trimming cuts a
    fixed count by value rank, so boundary ties are interchangeable
    and the statistic is partitioning-exact."""
    from ..operators import quality as Q

    ev = load(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("v"),
        "value",
    )
    return Q.trimmed_mean_ttest(ev, "v", "value", trim=0.05, scale=100)


# ---------------------------------------------------------------------------
# Wilcoxon–Mann–Whitney rank-sum A/B (quality.rank_sum_test): the
# distribution-free outcome test beside welch/trimmed — a whale's rank
# is just "largest". Midranks ride the auc_exact range exchange; 2W and
# the tie term are exact DECIMAL(38,0); z is one IEEE expression.
# ---------------------------------------------------------------------------

_RANKSUM_ORACLE = """
WITH t AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS v,
         CAST(ROUND(value * 100) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL
),
nv AS (
  SELECT CAST(COUNT(DISTINCT v) AS BIGINT) AS n_variants,
         MIN(v) AS variant_a, MAX(v) AS variant_b
  FROM t
),
cells AS (
  SELECT y, CAST(COUNT(*) AS BIGINT) AS tc,
         CAST(SUM(CASE WHEN v = (SELECT variant_a FROM nv)
                       THEN 1 ELSE 0 END) AS BIGINT) AS ta
  FROM t GROUP BY 1
),
cum AS (
  SELECT y, tc, ta, CAST(SUM(tc) OVER (ORDER BY y) AS BIGINT) AS cm
  FROM cells
),
agg AS (
  SELECT CAST(COALESCE(SUM(ta), 0) AS BIGINT) AS n_a,
         CAST(COALESCE(SUM(tc), 0) - COALESCE(SUM(ta), 0) AS BIGINT) AS n_b,
         CAST(COALESCE(SUM(ta * (2 * cm - tc + 1)), 0)
              AS DECIMAL(38,0)) AS two_w,
         CAST(COALESCE(SUM(tc * tc * tc - tc), 0)
              AS DECIMAL(38,0)) AS tie3
  FROM cum
),
s AS (
  SELECT n_variants, variant_a, n_a, variant_b, n_b,
         CAST(two_w AS DOUBLE)
           - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1) AS two_u,
         CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
           * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1)
              - CAST(tie3 AS DOUBLE)
                / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                   * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1)))
           AS var_u
  FROM agg CROSS JOIN nv
)
SELECT n_variants, variant_a, n_a, variant_b, n_b,
  CASE WHEN n_variants = 2 AND n_a > 0 AND n_b > 0 AND n_a + n_b > 1
       THEN two_u / 2.0 END AS u_a,
  CASE WHEN n_variants = 2 AND n_a > 0 AND n_b > 0 AND n_a + n_b > 1
            AND var_u > 0
       THEN (two_u - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
            / (2.0 * sqrt(var_u)) END AS z
FROM s
"""


@_q("ab_value_ranksum", _RANKSUM_ORACLE)
def ab_value_ranksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon–Mann–Whitney rank-sum test of event value between the
    user-parity variants (`quality.rank_sum_test`): the distribution-
    free counterpart of `ab_value_welch` — rank-based, so heavy-tailed
    revenue can't drag the statistic. Doubled midranks keep the rank
    sum integer (one ranked_cumsum range exchange, the auc_exact
    discipline); the tie term Σ(t³−t) is exact; z is one IEEE
    expression of exact integers."""
    from ..operators import quality as Q

    ev = load(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("v"),
        "value",
    )
    return Q.rank_sum_test(ev, "v", "value", scale=100)


# ---------------------------------------------------------------------------
# Sample-ratio-mismatch check (quality.srm_check): the assignment
# tripwire that must pass before any outcome test is read. Chi-square
# GOF against the DESIGN shares — here a deliberate 25/75 design
# (user_id % 4) so the expected-weights path is exercised, not just
# the uniform default.
# ---------------------------------------------------------------------------

_SRM_ORACLE = """
WITH t AS (
  SELECT CASE WHEN user_id % 4 = 0 THEN 'A' ELSE 'B' END AS v
  FROM events
),
per AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS o FROM t GROUP BY 1
),
tot AS (
  SELECT CAST(COALESCE(SUM(o), 0) AS BIGINT) AS n FROM per
),
j AS (
  SELECT v, o, n,
         CASE v WHEN 'A' THEN 0.25 WHEN 'B' THEN 0.75 END AS w
  FROM per CROSS JOIN tot
),
terms AS (
  SELECT v, o, n,
    CASE WHEN w IS NOT NULL AND CAST(n AS DOUBLE) * w > 0 THEN
      CAST(ROUND(
        (CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * w)
        * (CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * w)
        / (CAST(n AS DOUBLE) * w) * 1e9) AS BIGINT)
    ELSE CAST(ROUND(
      LEAST(CAST(o AS DOUBLE) * CAST(o AS DOUBLE), 1e9) * 1e9) AS BIGINT)
    END AS tn,
    ABS(CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * w) AS adev
  FROM j
),
mx AS (SELECT MAX(adev) AS m FROM terms)
SELECT CAST(COUNT(*) AS BIGINT) AS n_variants,
       CAST(MAX(n) AS BIGINT) AS n_total,
       CAST(CAST(COALESCE(SUM(tn), 0) AS BIGINT) AS DOUBLE) / 1e9
         AS chi2_srm,
       CAST(COUNT(*) - 1 AS BIGINT) AS dof,
       MAX(CASE WHEN adev = (SELECT m FROM mx) THEN v END)
         AS worst_variant,
       MAX(adev) AS worst_abs_dev
FROM terms
"""


@_q("ab_srm_check", _SRM_ORACLE)
def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch chi-square of the 25/75 design assignment
    (`quality.srm_check`): observed variant counts are exact BIGINTs;
    each variant's GOF term is nano-fixed off its exact count; chi2 is
    one final division. A deterministic user_id % 4 assignment realizes
    the design exactly up to remainder, so the expected verdict is
    'no mismatch' — the check itself is what's under test."""
    from ..operators import quality as Q

    ev = load(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 4 == 0, "A").otherwise("B").alias("v")
    )
    return Q.srm_check(ev, "v", {"A": 0.25, "B": 0.75})


# ---------------------------------------------------------------------------
# Post-stratified A/B (quality.post_stratified_ab): covariate-
# adjusted mean difference with entry-weekday strata — the
# variance-reduction sibling of CUPED that needs no pre-period.
# ---------------------------------------------------------------------------

_POSTSTRAT_ORACLE = """
WITH t AS (
  SELECT dayofweek(CAST(ts AS DATE)) AS s,
         CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS v,
         CAST(ROUND(value * 100) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL
),
nv AS (
  SELECT CAST(COUNT(DISTINCT v) AS BIGINT) AS n_variants,
         MIN(v) AS va
  FROM t
),
cells AS (
  SELECT s,
    CAST(SUM(CASE WHEN v = (SELECT va FROM nv) THEN 1 ELSE 0 END)
         AS BIGINT) AS na,
    CAST(COALESCE(SUM(CASE WHEN v = (SELECT va FROM nv) THEN y END), 0)
         AS BIGINT) AS s1a,
    CAST(COALESCE(SUM(CASE WHEN v = (SELECT va FROM nv) THEN y * y END), 0)
         AS BIGINT) AS s2a,
    CAST(SUM(CASE WHEN v <> (SELECT va FROM nv) THEN 1 ELSE 0 END)
         AS BIGINT) AS nb,
    CAST(COALESCE(SUM(CASE WHEN v <> (SELECT va FROM nv) THEN y END), 0)
         AS BIGINT) AS s1b,
    CAST(COALESCE(SUM(CASE WHEN v <> (SELECT va FROM nv) THEN y * y END), 0)
         AS BIGINT) AS s2b
  FROM t GROUP BY 1
),
tot AS (
  SELECT CAST(COALESCE(SUM(na + nb), 0) AS BIGINT) AS n_pop FROM cells
),
terms AS (
  SELECT na, nb, s1a, s1b,
    CASE WHEN na > 1 AND nb > 1 THEN CAST(ROUND(
      CAST(na + nb AS DOUBLE) / CAST(n_pop AS DOUBLE)
      * (CAST(s1a AS DOUBLE) / (CAST(na AS DOUBLE) * 100.0)
         - CAST(s1b AS DOUBLE) / (CAST(nb AS DOUBLE) * 100.0))
      * 1e9) AS BIGINT) ELSE 0 END AS dn,
    CASE WHEN na > 1 AND nb > 1 THEN CAST(ROUND(
      (CAST(na + nb AS DOUBLE) / CAST(n_pop AS DOUBLE))
      * (CAST(na + nb AS DOUBLE) / CAST(n_pop AS DOUBLE))
      * (((CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * s1a
           / CAST(na AS DOUBLE))
          / ((CAST(na AS DOUBLE) - 1) * 100.0 * 100.0))
           / CAST(na AS DOUBLE)
         + ((CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * s1b
             / CAST(nb AS DOUBLE))
            / ((CAST(nb AS DOUBLE) - 1) * 100.0 * 100.0))
           / CAST(nb AS DOUBLE))
      * 1e12) AS BIGINT) ELSE 0 END AS vp,
    CASE WHEN na > 1 AND nb > 1 THEN 0 ELSE 1 END AS skipped
  FROM cells CROSS JOIN tot
),
folded AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
         CAST(COALESCE(SUM(skipped), 0) AS BIGINT) AS n_strata_skipped,
         CAST(COALESCE(SUM(na), 0) AS BIGINT) AS n_a,
         CAST(COALESCE(SUM(nb), 0) AS BIGINT) AS n_b,
         CAST(COALESCE(SUM(s1a), 0) AS BIGINT) AS t1a,
         CAST(COALESCE(SUM(s1b), 0) AS BIGINT) AS t1b,
         CAST(COALESCE(SUM(dn), 0) AS BIGINT) AS d,
         CAST(COALESCE(SUM(vp), 0) AS BIGINT) AS vv
  FROM terms
)
SELECT n_variants, n_strata, n_strata_skipped, n_a, n_b,
  CASE WHEN n_a > 0 AND n_b > 0 THEN
    CAST(t1a AS DOUBLE) / (CAST(n_a AS DOUBLE) * 100.0)
    - CAST(t1b AS DOUBLE) / (CAST(n_b AS DOUBLE) * 100.0)
  END AS diff_naive,
  CASE WHEN n_variants = 2 AND vv > 0
       THEN CAST(d AS DOUBLE) / 1e9 END AS diff_ps,
  CASE WHEN n_variants = 2 AND vv > 0
       THEN sqrt(CAST(vv AS DOUBLE) / 1e12) END AS se_ps,
  CASE WHEN n_variants = 2 AND vv > 0
       THEN (CAST(d AS DOUBLE) / 1e9)
            / sqrt(CAST(vv AS DOUBLE) / 1e12) END AS z_ps
FROM folded CROSS JOIN nv
"""


@_q("ab_value_poststrat", _POSTSTRAT_ORACLE)
def ab_value_poststrat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratified mean-difference A/B of event value, stratified
    by event weekday (`quality.post_stratified_ab`): per-stratum
    moments are exact cents BIGINTs from ONE hash agg; each stratum's
    Δ/Var contribution is nano/pico-fixed off those ints (integer fold
    — partitioning-deterministic); Δ_ps/se/z are final IEEE
    expressions. The naive diff rides along to show the adjustment."""
    from ..operators import quality as Q

    ev = load(spark, sf_dir, "events").select(
        F.dayofweek(F.to_date("ts")).alias("s"),
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("v"),
        "value",
    )
    return Q.post_stratified_ab(ev, "s", "v", "value", scale=100)


# ---------------------------------------------------------------------------
# Equi-width histogram range selectivity (heavy.histogram_selectivity):
# planner primitive #4 — any future range predicate answered from a
# 64-row synopsis; truth pass rides along to grade the uniform-
# within-bin assumption.
# ---------------------------------------------------------------------------

_HISTSEL_W = 60_000_000 // 64  # cents domain [0, 600k$) over 64 bins


def _histsel_oracle() -> str:
    w = _HISTSEL_W
    lo_i, hi_i = 5_000_000, 20_000_000  # [$50k, $200k) in cents
    return f"""
WITH h AS (
  SELECT LEAST(GREATEST(CAST(FLOOR(
           CAST(ROUND(o_totalprice * 100) AS BIGINT) / {w}) AS BIGINT),
         0), 63) AS b,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
),
terms AS (
  SELECT b, c,
    GREATEST(LEAST((b + 1) * {w}, {hi_i}) - GREATEST(b * {w}, {lo_i}),
             0) AS ov
  FROM h
),
est AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
         CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_rows,
         CAST(COALESCE(SUM(
           CASE WHEN ov >= {w} THEN c * 1000000000
                ELSE CAST(ROUND(CAST(c AS DOUBLE)
                     * (CAST(ov AS DOUBLE) / {w}.0) * 1e9) AS BIGINT)
           END), 0) AS BIGINT) AS est_nano
  FROM terms
),
tru AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS true_rows
  FROM orders
  WHERE o_totalprice IS NOT NULL
    AND CAST(ROUND(o_totalprice * 100) AS BIGINT) >= {lo_i}
    AND CAST(ROUND(o_totalprice * 100) AS BIGINT) < {hi_i}
)
SELECT n_bins, n_rows,
  CAST(est_nano AS DOUBLE) / 1e9 AS est_rows,
  true_rows,
  CASE WHEN true_rows > 0 THEN
    (CAST(est_nano AS DOUBLE) / 1e9 - CAST(true_rows AS DOUBLE))
    / CAST(true_rows AS DOUBLE) END AS rel_error
FROM est CROSS JOIN tru
"""


@_q("price_range_selectivity", _histsel_oracle())
def price_range_selectivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selectivity of $50k <= o_totalprice < $200k estimated from a
    64-bin equi-width histogram (`heavy.histogram_selectivity`): the
    per-column synopsis a 100 TB planner consults instead of scanning;
    interior bins contribute exact integer counts, edge bins a nano-
    fixed fraction; the truth pass grades the uniform-within-bin
    assumption in-report."""
    from ..operators import heavy as H

    orders = load(spark, sf_dir, "orders")
    return H.histogram_selectivity(
        orders, "o_totalprice",
        lo=50_000.0, hi=200_000.0, domain_max=600_000.0,
        n_bins=64, scale=100,
    )


# ---------------------------------------------------------------------------
# Functional-dependency strength (heavy.fd_strength): planner
# primitive #5 — does source determine lang? (g3 measure; synopsis-
# scale second agg over the (det, dep) cell frame.)
# ---------------------------------------------------------------------------

_FD_ORACLE = """
WITH cells AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents
  WHERE source IS NOT NULL AND lang IS NOT NULL
  GROUP BY 1, 2
),
per AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n,
         CAST(MAX(c) AS BIGINT) AS kept,
         CAST(COUNT(*) AS BIGINT) AS ndep
  FROM cells GROUP BY 1
)
SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_determinants,
       CAST(COALESCE(SUM(ndep), 0) AS BIGINT) AS n_cells,
       CAST(COALESCE(SUM(kept), 0) AS BIGINT) AS n_kept_rows,
       CASE WHEN COALESCE(SUM(n), 0) > 0 THEN
         CAST(COALESCE(SUM(kept), 0) AS DOUBLE)
         / CAST(COALESCE(SUM(n), 0) AS DOUBLE) END AS fd_strength
FROM per
"""


@_q("source_lang_fd", _FD_ORACLE)
def source_lang_fd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strength of the functional dependency source → lang over
    documents (`heavy.fd_strength`): the fraction of rows kept by each
    source's modal language — near 1.0 means GROUP BY source ≈
    GROUP BY (source, lang) and the planner can prune the dependent
    key; also the referential-drift data-quality screen. Exact BIGINT
    cells; one IEEE division."""
    from ..operators import heavy as H

    docs = load(spark, sf_dir, "documents")
    return H.fd_strength(docs, "source", "lang")


# ---------------------------------------------------------------------------
# mSPRT always-valid A/B (quality.msprt_ab): the peeking-proof
# sequential readout — log Λ micro-rounded to an exact integer, the
# rejection an integer comparison against round(ln(1/α)·1e6).
# ---------------------------------------------------------------------------

def _msprt_oracle(tau: float = 0.1, alpha: float = 0.05) -> str:
    import math as _m

    tau2 = repr(tau * tau)
    thresh = int(round(_m.log(1.0 / alpha) * 1e6))
    return f"""
WITH t AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS v,
         CAST(ROUND(value * 100) AS BIGINT) AS yi
  FROM events WHERE value IS NOT NULL
),
per AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(yi), 0) AS BIGINT) AS s1,
         CAST(COALESCE(SUM(yi * yi), 0) AS BIGINT) AS s2
  FROM t GROUP BY 1
),
p AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_variants,
         min_by(v, v) AS variant_a,
         CAST(min_by(n, v) AS BIGINT) AS n_a,
         CAST(min_by(s1, v) AS BIGINT) AS s1a,
         CAST(min_by(s2, v) AS BIGINT) AS s2a,
         max_by(v, v) AS variant_b,
         CAST(max_by(n, v) AS BIGINT) AS n_b,
         CAST(max_by(s1, v) AS BIGINT) AS s1b,
         CAST(max_by(s2, v) AS BIGINT) AS s2b
  FROM per
),
s AS (
  SELECT n_variants, variant_a, n_a,
         CAST(s1a AS DOUBLE) / (n_a * 100.0) AS mean_a,
         variant_b, n_b,
         CAST(s1b AS DOUBLE) / (n_b * 100.0) AS mean_b,
         CASE WHEN n_a > 1 THEN
           (CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * s1a / n_a)
           / ((n_a - 1) * 100.0 * 100.0) END AS va,
         CASE WHEN n_b > 1 THEN
           (CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * s1b / n_b)
           / ((n_b - 1) * 100.0 * 100.0) END AS vb
  FROM p
),
e AS (
  SELECT n_variants, variant_a, n_a, mean_a, variant_b, n_b, mean_b,
         mean_a - mean_b AS theta,
         va / n_a + vb / n_b AS v_n,
         n_variants = 2 AND n_a > 1 AND n_b > 1
           AND va / n_a + vb / n_b > 0 AS ok
  FROM s
)
SELECT n_variants, variant_a, n_a, mean_a, variant_b, n_b, mean_b,
  CASE WHEN ok THEN theta END AS theta,
  CASE WHEN ok THEN v_n END AS v_n,
  CASE WHEN ok THEN CAST(ROUND(
    (0.5 * ln(v_n / (v_n + {tau2}))
     + theta * theta * {tau2} / (2.0 * v_n * (v_n + {tau2})))
    * 1e6) AS BIGINT) END AS log_lambda_micro,
  CASE WHEN ok THEN CAST(ROUND(
    (0.5 * ln(v_n / (v_n + {tau2}))
     + theta * theta * {tau2} / (2.0 * v_n * (v_n + {tau2})))
    * 1e6) AS BIGINT) >= {thresh} END AS reject_null
FROM e
"""


@_q("ab_value_msprt", _msprt_oracle())
def ab_value_msprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid mSPRT of event value between the user-parity
    variants (`quality.msprt_ab`, τ=0.1, α=0.05): the sequential
    readout a continuously-watched experiment dashboard needs — the
    fixed-horizon welch/z tests in this family inflate false positives
    under peeking; the mixture likelihood ratio holds α at any
    stopping time. Moments exact cents BIGINTs; log Λ is one
    micro-rounded libm ln; the rejection is an integer comparison."""
    from ..operators import quality as Q

    ev = load(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("v"),
        "value",
    )
    return Q.msprt_ab(ev, "v", "value", scale=100, tau=0.1, alpha=0.05)
