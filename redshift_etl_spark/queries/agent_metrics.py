"""The analytics/query layer — the reference's two Redshift views
re-expressed as DataFrame builders over the testdata star schema.

Reference: `Amazon Connect/Views/view_agent_metrics.sql:1-137` (view 1 —
multi-way star left join + 13-expr GROUP BY + 40 aggregates incl.
conditional-count histograms) and `Amazon Connect/Views/
connect.view_agent_metrics_2:1-79` (view 2 — total-vs-answered rates at
a coarser grain).

Testdata mapping (FIXTURES.md §"Mapping"): ``events`` stands in for
``f_calls`` (ts≈init_time, value≈duration-seconds, user_id≈agent_id,
event_type≈init_method); ``customer``/``nation``/``region`` are the
dimension chain (≈ dim_users / dim_queues / litify.dim_users).

Semantics decisions (SURVEY §7 risk 6): histogram buckets are GAP-FREE
half-open (the reference's buckets overlap at 120 s and leave holes);
hour windows are half-open. The oracle SQL encodes the identical
canonical semantics.

Float determinism vs the DuckDB oracle: aggregate doubles are rounded at
the data's native decimal granularity (value has 2 decimals ⇒ a true sum
is a multiple of 0.01, so ROUND(sum, 2) is ulp-safe); ratios/averages
divide the *rounded* sum so both engines divide bit-identical doubles
and IEEE 754 guarantees identical quotients.

Scale notes (100 TB): the fact side is the only large input — dims are
broadcast (explicit hint; AQE would find it too), so the whole plan is
scan → broadcast-hash-joins → one hash-aggregate shuffle on the group
keys. Partial aggregation (map-side combine) happens automatically; no
row ever moves except the partial-agg rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tables import load


def _events_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events ⟕ customer ⟕ nation ⟕ region (J3 — the star join)."""
    events = load(spark, sf_dir, "events")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        events.join(
            F.broadcast(customer), events.user_id == customer.c_custkey, "left"
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
    )


# Grouping keys and aggregates as SQL text, one `F.expr` each: every
# ``F.*`` call is several py4j round trips (PySpark records the call
# site of each one), and Column algebra spent most of this function's
# time in them (see `functions.py`).
_AGENT_KEYS = (
    "to_date(ts) AS event_date",
    "CAST(month(ts) AS BIGINT) AS event_month",
    "CAST(dayofmonth(ts) AS BIGINT) AS event_day",
    "CAST(hour(ts) AS BIGINT) AS event_hour",
    "user_id AS agent_id",
    # F4 — Redshift `||` NULL-propagating concat (`view_agent_metrics.sql:9`)
    "concat(c_name, ' ', c_mktsegment) AS agent_name",
    "c_mktsegment AS segment",
    "n_name AS nation",
    "r_name AS region",
)

# A5 — COUNT(CASE WHEN pred THEN 1 END), `view_agent_metrics.sql:36-110`
_BUCKETS = (
    ("n_low", "value < 5"),
    ("n_mid", "value >= 5 AND value < 15"),
    ("n_high", "value >= 15"),
    ("n_click", "event_type = 'click'"),
    ("n_view", "event_type = 'view'"),
    ("n_purchase", "event_type = 'purchase'"),
    ("n_signup", "event_type = 'signup'"),
    ("n_error", "event_type = 'error'"),
    ("n_morning", "hour(ts) >= 8 AND hour(ts) < 13"),
    ("n_afternoon", "hour(ts) >= 13 AND hour(ts) < 17"),
)

_SUM2 = "round(sum(value), 2)"
_AGENT_AGGS = (
    "count(1) AS total_events",
    # A4 — exact COUNT(DISTINCT) spelled size(collect_set): two
    # countDistinct columns would trigger Catalyst's Expand strategy
    # (one input-row replica per distinct column → 3× shuffle volume);
    # collect_set is a regular partial-merge aggregate, safe here
    # because the (date,hour,agent) grain bounds per-group distinct
    # cardinality (~40% faster end-to-end, identical results).
    # Unbounded-cardinality distincts should stay countDistinct /
    # approx_count_distinct.
    "CAST(size(collect_set(event_type)) AS BIGINT) AS unique_types",
    "CAST(size(collect_set(CAST(get_json_object(props, '$.k') AS BIGINT)))"
    " AS BIGINT) AS unique_props",
    f"{_SUM2} AS sum_value",
    f"{_SUM2} / count(1) AS avg_value",
    "min(value) AS min_value",
    "max(value) AS max_value",
    f"{_SUM2} / 3600.0D AS value_hours",
    f"CAST(floor({_SUM2} / 60) AS BIGINT) AS value_minutes",
    *(f"count(CASE WHEN {pred} THEN 1 END) AS {name}" for name, pred in _BUCKETS),
)


def agent_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship — view_agent_metrics re-expressed (J3+A1–A7+F1/F2/F4/F6/F14)."""
    return (
        _events_star(spark, sf_dir)
        .groupBy(*map(F.expr, _AGENT_KEYS))
        .agg(*map(F.expr, _AGENT_AGGS))
    )
    # The reference view ends with ORDER BY (`view_agent_metrics.sql:
    # 133-137`) — cosmetic in a Redshift view, and a full range-shuffle
    # of every group at scale. The engine omits it; the driver compare
    # is order-insensitive. Callers wanting the display order add
    # .orderBy("event_date","event_month","event_day",desc("event_hour")).


AGENT_METRICS_ORACLE = """
SELECT
  CAST(e.ts AS DATE)                                   AS event_date,
  EXTRACT(month FROM e.ts)                             AS event_month,
  EXTRACT(day FROM e.ts)                               AS event_day,
  EXTRACT(hour FROM e.ts)                              AS event_hour,
  e.user_id                                            AS agent_id,
  c.c_name || ' ' || c.c_mktsegment                    AS agent_name,
  c.c_mktsegment                                       AS segment,
  n.n_name                                             AS nation,
  r.r_name                                             AS region,
  COUNT(*)                                             AS total_events,
  COUNT(DISTINCT e.event_type)                         AS unique_types,
  COUNT(DISTINCT CAST(e.props->>'$.k' AS BIGINT))      AS unique_props,
  ROUND(SUM(e.value), 2)                               AS sum_value,
  ROUND(SUM(e.value), 2) / COUNT(*)                    AS avg_value,
  MIN(e.value)                                         AS min_value,
  MAX(e.value)                                         AS max_value,
  ROUND(SUM(e.value), 2) / 3600.0                      AS value_hours,
  CAST(FLOOR(ROUND(SUM(e.value), 2) / 60) AS BIGINT)   AS value_minutes,
  COUNT(CASE WHEN e.value < 5 THEN 1 END)              AS n_low,
  COUNT(CASE WHEN e.value >= 5 AND e.value < 15 THEN 1 END) AS n_mid,
  COUNT(CASE WHEN e.value >= 15 THEN 1 END)            AS n_high,
  COUNT(CASE WHEN e.event_type = 'click' THEN 1 END)   AS n_click,
  COUNT(CASE WHEN e.event_type = 'view' THEN 1 END)    AS n_view,
  COUNT(CASE WHEN e.event_type = 'purchase' THEN 1 END) AS n_purchase,
  COUNT(CASE WHEN e.event_type = 'signup' THEN 1 END)  AS n_signup,
  COUNT(CASE WHEN e.event_type = 'error' THEN 1 END)   AS n_error,
  COUNT(CASE WHEN EXTRACT(hour FROM e.ts) >= 8
             AND EXTRACT(hour FROM e.ts) < 13 THEN 1 END) AS n_morning,
  COUNT(CASE WHEN EXTRACT(hour FROM e.ts) >= 13
             AND EXTRACT(hour FROM e.ts) < 17 THEN 1 END) AS n_afternoon
FROM events e
LEFT JOIN customer c ON e.user_id = c.c_custkey
LEFT JOIN nation   n ON c.c_nationkey = n.n_nationkey
LEFT JOIN region   r ON n.n_regionkey = r.r_regionkey
GROUP BY 1,2,3,4,5,6,7,8,9
ORDER BY 1,2,3,4 DESC
"""


def agent_metrics_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View 2 — total-vs-'answered' rates at (date, hour, nation) grain
    (`connect.view_agent_metrics_2:1-79`: COUNT(init_time) total vs
    COUNT(agent_conn) answered; here total events vs purchases)."""
    star = _events_star(spark, sf_dir)
    n = F.count(F.lit(1))
    n_purchase = F.count(F.when(F.col("event_type") == "purchase", 1))
    return (
        star.groupBy(
            F.to_date("ts").alias("event_date"),
            F.hour("ts").cast("long").alias("event_hour"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            n.alias("total_events"),
            n_purchase.alias("n_purchase"),
            (n_purchase.cast("double") / n).alias("purchase_rate"),
            F.countDistinct("user_id").alias("unique_agents"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )  # final ORDER BY omitted — see agent_metrics note


AGENT_METRICS_2_ORACLE = """
SELECT
  CAST(e.ts AS DATE)                AS event_date,
  EXTRACT(hour FROM e.ts)           AS event_hour,
  n.n_name                          AS nation,
  COUNT(*)                          AS total_events,
  COUNT(CASE WHEN e.event_type = 'purchase' THEN 1 END) AS n_purchase,
  CAST(COUNT(CASE WHEN e.event_type = 'purchase' THEN 1 END) AS DOUBLE)
    / COUNT(*)                      AS purchase_rate,
  COUNT(DISTINCT e.user_id)         AS unique_agents,
  ROUND(SUM(e.value), 2)            AS sum_value
FROM events e
LEFT JOIN customer c ON e.user_id = c.c_custkey
LEFT JOIN nation   n ON c.c_nationkey = n.n_nationkey
GROUP BY 1,2,3
ORDER BY 1, 2 DESC, 3
"""

QUERIES = {
    "agent_metrics": agent_metrics,
    "agent_metrics_2": agent_metrics_2,
}

ORACLES = {
    "agent_metrics": AGENT_METRICS_ORACLE,
    "agent_metrics_2": AGENT_METRICS_2_ORACLE,
}
