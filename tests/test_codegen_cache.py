"""Spark's generated-class cache holds the read path's working set.

Spark keys its JVM-wide cache of Janino-compiled classes on the
generated source text, so a query that runs again reuses its classes —
unless the cache is smaller than the classes a query mix generates, in
which case LRU eviction recompiles nearly every class on every pass.
The dashboard's six-query mix generates about 110 classes per pass;
Spark's default cache holds 100."""

from __future__ import annotations

from redshift_etl_spark import queries as Q

from .conftest import SF_SMOKE

MIX = (
    "agent_metrics",
    "agent_metrics_2",
    "sql_agent_metrics",
    "sql_regional_revenue",
    "pricing_summary",
    "shipping_priority",
)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_steady_state_mix_reuses_generated_classes(spark):
    catalog = Q.all_queries()
    per_pass = []
    for _ in range(3):
        before = _compiles(spark)
        for name in MIX:
            catalog[name](spark, SF_SMOKE).toPandas()
        per_pass.append(_compiles(spark) - before)
    assert per_pass[2] < 10, f"classes compiled per pass: {per_pass}"
