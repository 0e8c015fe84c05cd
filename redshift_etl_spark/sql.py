"""SQL surface — the reference's users write SQL (every `SP_*.sql` /
view in the repo), so the engine exposes its tables to `spark.sql`
directly: one call registers the testdata tables as temp views
(through `queries.tables.load`, so the nanos-timestamp conversion and
session conf apply), and any ANSI query runs on Catalyst unchanged.

The catalog's queries stay DataFrame-first (composability, plan
tests), but `sql_surface_demo` proves the SQL door: a multi-table
Spark-SQL text whose DuckDB twin is the SAME text modulo dialect —
the migration path for a reference user's existing SQL."""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

from .queries.tables import TABLES, keep_live, load

# Temp views are session-wide, so two threads running `run_sql` on one
# session with different `sf_dir`s could each analyze its query against
# the other's tables. One lock covers registration and `spark.sql`:
# analysis binds the views, so a returned frame no longer reads them.
_LOCK = threading.RLock()
# (application id, session UUID) -> the sf_dir that session's
# unprefixed views point at; entries of stopped applications are
# dropped as in `tables._LOAD_MEMO`.
_VIEWS: dict[tuple[str, str], str] = {}


def _session_key(spark: SparkSession) -> tuple[str, str]:
    return (spark.sparkContext.applicationId, spark._jsparkSession.sessionUUID())


def register_tables(
    spark: SparkSession, sf_dir: str, prefix: str = ""
) -> list[str]:
    """Register every testdata table as a temp view ``<prefix><name>``
    and return the view names. Views are lazy — no scan happens until
    a query references one."""
    with _LOCK:
        names = []
        for t in TABLES:
            name = f"{prefix}{t}"
            load(spark, sf_dir, t).createOrReplaceTempView(name)
            names.append(name)
        if not prefix:
            key = _session_key(spark)
            keep_live(_VIEWS, key[0])
            _VIEWS[key] = sf_dir.rstrip("/")
        return names


def run_sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Run one ANSI query over the testdata tables of ``sf_dir`` — the
    one-call entry for a SQL-first user. Safe to call from several
    threads on one session, with different ``sf_dir``s.

    The views are registered again only when this session's views point
    at a different ``sf_dir`` (registering costs ~55 ms). A caller who
    replaces one of these views by hand (``createOrReplaceTempView``
    under a table's name) calls `register_tables` again afterwards."""
    key = _session_key(spark)
    sf_dir = sf_dir.rstrip("/")
    with _LOCK:
        if _VIEWS.get(key) != sf_dir:
            register_tables(spark, sf_dir)
        return spark.sql(query)
