"""SQL surface (`redshift_etl_spark/sql.py`): views register lazily,
arbitrary ANSI text runs, and results equal the DataFrame route."""

from __future__ import annotations

import sys
import threading

from pyspark.sql import functions as F

from redshift_etl_spark import sql
from redshift_etl_spark.queries import tables
from redshift_etl_spark.queries.tables import load
from redshift_etl_spark.sql import register_tables, run_sql

from .conftest import SF_ORACLE, SF_SMOKE

# Two tables, so a query analyzed against a mix of two sf_dirs shows too.
_JOIN = (
    "SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(o_totalprice) AS total "
    "FROM orders JOIN customer ON o_custkey = c_custkey"
)


def test_register_and_query(spark):
    names = register_tables(spark, SF_SMOKE)
    assert "lineitem" in names and len(names) == 10
    got = spark.sql(
        "SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n "
        "FROM lineitem GROUP BY 1"
    ).collect()
    want = (
        load(spark, SF_SMOKE, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_run_sql_one_call(spark):
    df = run_sql(
        spark,
        SF_SMOKE,
        "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders "
        "WHERE o_orderpriority = '1-URGENT'",
    )
    assert df.collect()[0]["n"] > 0


def test_run_sql_threads_with_different_sf_dirs(spark):
    """Temp views are session-wide: threads on one session must each
    get the answer of its own sf_dir."""
    dirs = (SF_SMOKE, SF_ORACLE)
    want = {sf: run_sql(spark, sf, _JOIN).collect() for sf in dirs}
    assert want[SF_SMOKE] != want[SF_ORACLE]
    frames: list[list] = [[] for _ in range(6)]  # more threads than cores
    start = threading.Barrier(len(frames))

    def client(i):
        start.wait(timeout=60)
        for _ in range(6):
            frames[i].append(run_sql(spark, dirs[i % 2], _JOIN))

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client, args=(i,)) for i in range(len(frames))]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    for i, dfs in enumerate(frames):
        assert len(dfs) == 6
        for df in dfs:
            assert df.collect() == want[dirs[i % 2]]


def test_run_sql_registers_only_for_a_new_sf_dir(spark, monkeypatch):
    calls = []
    real = sql.register_tables
    monkeypatch.setattr(
        sql, "register_tables", lambda s, sf: calls.append(sf) or real(s, sf)
    )
    sql.register_tables(spark, SF_ORACLE)
    got = [run_sql(spark, SF_SMOKE, _JOIN).collect() for _ in range(3)]
    assert calls == [SF_ORACLE, SF_SMOKE]
    n = load(spark, SF_SMOKE, "orders").join(
        load(spark, SF_SMOKE, "customer"), F.col("o_custkey") == F.col("c_custkey")
    ).count()
    assert all(rows[0]["n"] == n for rows in got)


def test_memos_keep_only_live_sessions(spark):
    """Entries of a stopped application are dropped at the next miss:
    the load memo and the record of registered views stay bounded by
    the live session's tables."""
    app = spark.sparkContext.applicationId
    tables._LOAD_MEMO[("local-stopped", SF_SMOKE, "region")] = None
    sql._VIEWS[("local-stopped", "session")] = SF_SMOKE
    tables._LOAD_MEMO.pop((app, SF_SMOKE, "region"), None)
    register_tables(spark, SF_SMOKE)
    assert {k[0] for k in tables._LOAD_MEMO} == {app}
    assert (app, SF_SMOKE, "region") in tables._LOAD_MEMO
    assert {k[0] for k in sql._VIEWS} == {app}
