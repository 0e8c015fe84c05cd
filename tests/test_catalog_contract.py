"""The catalog's contract with its caller: importing it reads no data,
and its reads work on a session whose confs the caller owns."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from redshift_etl_spark.queries import tables

from .conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_AUDIT_IMPORT = """
import json, os, sys
opened = []
def hook(event, args):
    if event == "open" and isinstance(args[0], (str, bytes)):
        opened.append(os.fsdecode(args[0]))
sys.addaudithook(hook)
import redshift_etl_spark.queries  # noqa: F401
print(json.dumps(opened))
"""


def test_catalog_import_opens_no_data_file():
    """Importing the catalog must not read files from the repository:
    which queries exist, and in what order, is fixed by the code."""
    out = subprocess.run(
        [sys.executable, "-B", "-c", _AUDIT_IMPORT],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    )
    opened = json.loads(out.stdout.strip().splitlines()[-1])
    root = os.path.realpath(ROOT) + os.sep
    data = sorted(
        p
        for p in {os.path.realpath(os.path.join(ROOT, p)) for p in opened}
        if p.startswith(root) and not p.endswith((".py", ".pyc"))
    )
    assert not data, f"import opened non-code files: {data}"


def test_load_restores_read_confs_on_a_caller_session(spark):
    """A caller that owns the session may not have the engine's read
    confs: `tables.load` sets them itself, so timestamps still read as
    the oracle sees them."""
    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    tz = "spark.sql.session.timeZone"
    before = {k: spark.conf.get(k) for k in (nanos, tz)}
    try:
        spark.conf.set(nanos, "false")
        spark.conf.set(tz, "America/New_York")
        events = tables.load(spark, SF_SMOKE, "events")
        assert spark.conf.get(nanos) == "true"
        assert spark.conf.get(tz) == "UTC"
        got = events.agg(
            F.count(F.lit(1)), F.sum(F.unix_micros("ts"))
        ).first()
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)

    import duckdb

    want = duckdb.sql(
        f"SELECT count(*), sum(epoch_us(ts))::BIGINT "
        f"FROM '{SF_SMOKE}/events.parquet'"
    ).fetchone()
    assert tuple(got) == want



def _is_conf_mutation(node) -> bool:
    """``<x>.conf.set(...)`` or ``<x>.conf.unset(...)``."""
    import ast

    f = getattr(node, "func", None)
    return (
        isinstance(node, ast.Call)
        and isinstance(f, ast.Attribute)
        and f.attr in ("set", "unset")
        and isinstance(f.value, ast.Attribute)
        and f.value.attr == "conf"
    )


def test_only_ensure_conf_mutates_the_session_conf():
    """Session confs are shared by every thread on the session: a
    writer that flips one and restores it in ``finally`` can interleave
    with another writer's flip (two backfills on one session, one of
    them then a static overwrite that deletes every other partition).
    Writers scope their settings as writer options; the one session
    conf the engine sets is the read setup in `tables._ensure_conf`."""
    import ast

    pkg = os.path.join(ROOT, "redshift_etl_spark")
    found, allowed = [], []
    for dirpath, _dirs, files in os.walk(pkg):
        for name in (f for f in files if f.endswith(".py")):
            path = os.path.join(dirpath, name)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            rel = os.path.relpath(path, ROOT)
            found += [
                (rel, n.lineno) for n in ast.walk(tree) if _is_conf_mutation(n)
            ]
            if rel == os.path.join("redshift_etl_spark", "queries", "tables.py"):
                allowed += [
                    (rel, n.lineno)
                    for fn in ast.walk(tree)
                    if isinstance(fn, ast.FunctionDef)
                    and fn.name == "_ensure_conf"
                    for n in ast.walk(fn)
                    if _is_conf_mutation(n)
                ]
    assert allowed and sorted(found) == sorted(allowed), found
