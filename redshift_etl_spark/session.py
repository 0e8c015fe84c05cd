"""SparkSession factory.

Tuned for the driver harness (local[N]) but with settings that scale to a
real cluster: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), Arrow for any Python exchange, UTC session timezone so
timestamp semantics match the DuckDB oracle exactly (parquet stores
UTC-adjusted instants; DuckDB reads them naive-UTC).

The reference pins America/New_York local-naive timestamps
(`Amazon Connect/connect_agent_metrics.py:94-95`); the engine treats the
zone as configuration — pass ``timezone="America/New_York"`` for
reference-parity pipelines, keep UTC for oracle comparison.

Generated-class cache: Spark compiles each whole-stage-codegen stage
and expression projection to a Janino class, cached on the generated
source text, so a query that runs again reuses its classes — if they are
still cached. The default cache (`spark.sql.codegen.cache.maxEntries`)
holds 100 classes, fewer than the engine's working set: the dashboard's
six-query read mix generates about 110 per pass and the offline pipeline
about 180 in its warm-up. In LRU order such a cache thrashes: every
steady-state pass of the read mix recompiled 72–82 classes, and a
single-threaded pass over sf0.01 took 3.95 s instead of the 2.65 s it
takes with its classes cached (4 vCPU). The engine sizes the cache at
`CODEGEN_CACHE_ENTRIES` = 1000: several times the measured working
sets, yet bounded (an entry is one small loaded class).

The cache is static and JVM-wide: Spark builds it at the first compile
in the JVM, from the conf of the session active then. So the first
session started in a JVM fixes its size; ``getOrCreate`` returning a
session that already exists, or a later session in the same JVM, cannot
change it: after a session the caller started first, the cache keeps
that session's size (Spark's 100 unless the caller set it).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "redshift_etl_spark",
    master: str | None = None,
    timezone: str = "UTC",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", timezone)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # The driver testdata stores TIMESTAMP(NANOS), which the Spark
        # parquet reader rejects; read as long and convert in the loader
        # (queries/tables.py) — truncation to micros matches DuckDB.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
