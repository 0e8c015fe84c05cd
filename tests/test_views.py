"""Materialized-view registry: atomic refresh, stable reads, time
travel via the underlying versioned store, staleness reporting."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from redshift_etl_spark import views as VW
from redshift_etl_spark.sources import versioned as V


def test_materialized_view_lifecycle(spark, tmp_path):
    reg = VW.ViewRegistry(str(tmp_path / "views"))
    state = {"rows": [(1, 10), (2, 20)]}

    def build(s):
        return s.createDataFrame(state["rows"], ["k", "v"]).agg(
            F.sum("v").alias("total"), F.count(F.lit(1)).alias("n")
        )

    reg.define("totals", build)
    assert reg.names() == ["totals"]

    # never refreshed → stale, and unreadable until first refresh
    assert reg.stale_report({"facts": time.time()}) == {"totals": True}

    v1 = reg.refresh(spark, "totals")
    got = reg.read(spark, "totals").collect()[0]
    assert (got["total"], got["n"]) == (30, 2)

    # source grows; old snapshot still serves until the next refresh
    state["rows"] = [(1, 10), (2, 20), (3, 70)]
    assert reg.read(spark, "totals").collect()[0]["total"] == 30
    v2 = reg.refresh(spark, "totals")
    assert v2 == v1 + 1
    assert reg.read(spark, "totals").collect()[0]["total"] == 100

    # time travel to the pre-refresh snapshot via the versioned store
    old = V.read_version(spark, str(tmp_path / "views" / "totals"), v1)
    assert old.collect()[0]["total"] == 30

    # staleness: refreshed after the source change → fresh; a newer
    # source flips it back
    assert reg.stale_report({"facts": 0.0}) == {"totals": False}
    assert reg.stale_report({"facts": time.time() + 60}) == {"totals": True}

    # a rollback re-points to a snapshot whose staging time the record
    # does not keep: reported stale rather than guessed fresh
    V.rollback(str(tmp_path / "views" / "totals"), v1)
    assert reg.read(spark, "totals").collect()[0]["total"] == 30
    assert reg.stale_report({"facts": 0.0}) == {"totals": True}
