"""Unit tests for the scalar layer (SURVEY §2.6/§2.7) against the edge
inputs from FIXTURES.md — truthy sets, blanks, invalid dates, DST."""

from __future__ import annotations

from datetime import date, datetime

from pyspark.sql import Row
from pyspark.sql import functions as F

from redshift_etl_spark import functions as fx


def _vals(spark, template, data, in_type="string"):
    df = spark.createDataFrame([(d,) for d in data], f"x {in_type}")
    return [r[0] for r in df.selectExpr(f"{template.format('x')} AS o").collect()]


def test_bool01_truthy_set(spark):
    # `Salesforce/Matter/lambda_litify_matter.py:286-288` — the string
    # 'false' must be 0 (the task/user astype(bool) variant made it 1;
    # SURVEY §7 risk 4 canonicalizes on the truthy set)
    data = ["t", "T", "True", "true", "1", "false", "f", "", None, "yes"]
    assert _vals(spark, fx.BOOL01_SQL, data) == [1, 1, 1, 1, 1, 0, 0, 0, 0, 0]


def test_int0_float0_coercion(spark):
    assert _vals(spark, fx.INT0_SQL, ["3", "", "x", None, "4.7"]) == [3, 0, 0, 0, 4]
    assert _vals(spark, fx.FLOAT0_SQL, ["1234.56", "", "x", None]) == [
        1234.56, 0.0, 0.0, 0.0,
    ]


def test_ts_or_null_coercion(spark):
    out = _vals(
        spark, fx.TS_OR_NULL_SQL, ["2024-03-01 10:00:00", "not a date", "", None]
    )
    assert out[0] == datetime(2024, 3, 1, 10, 0)
    assert out[1] is None and out[2] is None and out[3] is None


def test_parse_ddmmyyyy(spark):
    # `Google Sheets/Employee/lambda_legal_employee_upsert.py:41-49`
    out = _vals(spark, fx.DDMMYYYY_SQL, ["25/12/2023", "31/02/2024", "", None])
    assert out == [date(2023, 12, 25), None, None, None]


def test_null_if_blank(spark):
    out = _vals(spark, fx.NULL_IF_BLANK_SQL, ["  x  ", "", "   ", None])
    assert out == ["x", None, None, None]


def test_concat_null_semantics(spark):
    # F4: Redshift `||` propagates NULL; concat_ws skips
    df = spark.createDataFrame([("a", None)], "x string, y string")
    strict, skip = df.select(
        fx.concat_strict("x", "y").alias("s"),
        fx.concat_skip_nulls("x", "y").alias("k"),
    ).first()
    assert strict is None and skip == "a"


def test_ctr_timestamp_parse_and_tz(spark):
    # F7+F8: UTC ISO-Z → NY local naive, incl. DST boundary
    df = spark.createDataFrame(
        [("2024-01-15T15:30:00Z",), ("2024-07-15T15:30:00Z",), ("garbage",)],
        "x string",
    )
    out = [
        r[0]
        for r in df.select(fx.parse_ctr_timestamp(F.col("x")).alias("o")).collect()
    ]
    assert out[0] == datetime(2024, 1, 15, 10, 30)  # EST: UTC-5
    assert out[1] == datetime(2024, 7, 15, 11, 30)  # EDT: UTC-4
    assert out[2] is None


def test_id_from_arn(spark):
    df = spark.createDataFrame(
        [Row(x="arn:aws:connect:us-east-1:1:instance/i/agent/AGENT123")]
    )
    assert df.select(fx.id_from_arn(F.col("x")).alias("o")).first()[0] == "AGENT123"


def test_epoch_diff_and_buckets(spark):
    df = spark.createDataFrame(
        [(datetime(2024, 1, 1, 0, 0, 0), datetime(2024, 1, 1, 1, 30, 0))],
        "a timestamp, b timestamp",
    )
    assert df.select(fx.epoch_diff("b", "a").alias("o")).first()[0] == 5400


def test_seconds_helpers(spark):
    df = spark.createDataFrame([(7200,), (90,)], "x int")
    hrs = [r[0] for r in df.select(fx.seconds_to_hours("x").alias("o")).collect()]
    mins = [r[0] for r in df.select(fx.seconds_to_minutes("x").alias("o")).collect()]
    assert hrs == [2.0, 0.03]
    assert mins == [120, 1]


def test_b64_roundtrip(spark):
    df = spark.createDataFrame([("hello",)], "x string")
    out = df.select(
        fx.b64_decode_str(fx.b64_encode_str(F.col("x"))).alias("o")
    ).first()[0]
    assert out == "hello"
