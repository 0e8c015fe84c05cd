"""streaming/store.read_store: the narrow no-store catch (r12 ADVICE
item 2).

Only the two documented eager-resolution error classes —
``PATH_NOT_FOUND`` (first-ever batch) and ``UNABLE_TO_INFER_SCHEMA``
(footer-less empty dir from a failed first append) — may map to None.
Every other ``AnalysisException`` must RE-RAISE: a merge sink that
read None as an empty target would then OVERWRITE its target, so a
swallowed "store unreadable" error would destroy all prior state — the
exact data loss the Spark-side probe was built to prevent (r11 ADVICE),
just via a different trigger.

The two no-store classes were probed live on this Spark build
(pyspark 4.1.2): ``spark.read.parquet`` on a missing path raises
``[PATH_NOT_FOUND]`` and on an empty directory raises
``[UNABLE_TO_INFER_SCHEMA]``, both eagerly at read time."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException

from redshift_etl_spark.streaming.store import read_store


class _SyntheticAnalysisException(AnalysisException):
    """An AnalysisException carrying an arbitrary error class, for
    exercising the catch without needing a live failure of that class
    (constructing real error classes requires a registered message
    template)."""

    def __init__(self, error_class: str | None, message: str):
        Exception.__init__(self, message)
        self._cls = error_class
        self._msg = message

    def getCondition(self):  # noqa: N802 (pyspark camelCase API)
        return self._cls

    def getErrorClass(self):  # noqa: N802
        return self._cls

    def __str__(self):
        return self._msg


def _raising_reader(monkeypatch, spark, exc):
    class _Reader:
        def parquet(self, path):
            raise exc

    monkeypatch.setattr(
        type(spark), "read", property(lambda self: _Reader())
    )


def test_live_no_store_shapes_map_to_none(spark, tmp_path):
    # missing path (cluster-URI-style resolution through the JVM)
    assert read_store(spark, str(tmp_path / "never_written")) is None
    # footer-less empty dir (failed first append)
    empty = tmp_path / "empty_store"
    empty.mkdir()
    assert read_store(spark, str(empty)) is None


def test_live_real_store_reads_back(spark, tmp_path):
    path = str(tmp_path / "real_store")
    spark.range(3).write.parquet(path)
    got = read_store(spark, path)
    assert got is not None and got.count() == 3


def test_other_error_class_reraises(monkeypatch, spark):
    _raising_reader(
        monkeypatch, spark,
        _SyntheticAnalysisException("INVALID_URL", "[INVALID_URL] boom"),
    )
    with pytest.raises(AnalysisException, match="INVALID_URL"):
        read_store(spark, "s3a://bucket/store")


def test_no_store_classes_map_to_none_via_class_match(monkeypatch, spark):
    for cls in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
        _raising_reader(
            monkeypatch, spark,
            _SyntheticAnalysisException(cls, f"[{cls}] whatever"),
        )
        assert read_store(spark, "hdfs://nn/store") is None
