from __future__ import annotations

import pytest

from redshift_etl_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="redshift_etl_spark_tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_ORACLE}/{t}.parquet'"
        )
    yield con
    con.close()


# --- slow-tier notice --------------------------------------------------------
# pytest.ini deselects the slow tier by default (`-m "not slow"`); say so at
# the end of the run, with the count and the command that runs everything.

_slow_deselected: list = []


def pytest_deselected(items):
    _slow_deselected.extend(i for i in items if i.get_closest_marker("slow"))


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    if _slow_deselected and "slow" in (config.option.markexpr or ""):
        terminalreporter.write_sep("-", "slow tier not run")
        terminalreporter.write_line(
            f"{len(_slow_deselected)} slow tests were deselected by "
            f'-m "{config.option.markexpr}"; run them with: '
            'python -m pytest tests/ -q -m ""'
        )
