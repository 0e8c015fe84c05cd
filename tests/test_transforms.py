"""normalize() — the P1/P2/T1–T7 layer against FIXTURES.md §1/§3
fixtures (mixed-case headers, garbage cells, missing columns)."""

from __future__ import annotations

from datetime import datetime

from redshift_etl_spark import schemas as S
from redshift_etl_spark.transforms import lowercase_columns, normalize


def test_normalize_task_fixture(spark):
    raw = spark.createDataFrame(
        [
            (
                "00T1",
                "W1",
                "Call client",
                "2024-02-01",
                "Open",
                "true",
                "false",
                "2024-01-01 09:00:00",
                "2024-02-01 10:00:00",
                "",
                "Task",
                "U1",
            ),
            (
                "00T2",
                "",
                None,
                "not a date",
                "Done",
                "",
                "1",
                "2024-01-02 09:00:00",
                "2024-02-02 10:00:00",
                "2024-02-02 11:00:00",
                "Email",
                "U2",
            ),
        ],
        "Id string, WhatId string, Subject string, ActivityDate string, "
        "Status string, IsHighPriority string, IsClosed string, "
        "CreatedDate string, LastModifiedDate string, CompletedDateTime string, "
        "TaskSubtype string, OwnerId string",
    )
    out = normalize(raw, S.SF_TASK)
    assert out.columns == list(S.SF_TASK.fields)
    rows = {r["id"]: r for r in out.collect()}
    r1, r2 = rows["00T1"], rows["00T2"]
    assert r1["ishighpriority"] == 1 and r1["isclosed"] == 0
    assert r2["ishighpriority"] == 0 and r2["isclosed"] == 1
    assert r1["completeddatetime"] is None          # blank → NULL
    assert r2["activitydate"] is None               # garbage → NULL
    assert r2["whatid"] is None                     # '' → NULL (T6 round-trip)
    assert r1["activitydate"] == datetime(2024, 2, 1)


def test_normalize_missing_column_tolerated(spark):
    # `Salesforce/Matter/lambda_litify_matter.py:287` guards each bool
    # with `if field in df.columns` — absent columns become typed NULLs
    raw = spark.createDataFrame(
        [("M1", "2024-01-01 00:00:00", "t", "3")],
        "Id string, LastModifiedDate string, IsDeleted string, "
        "Lives_Saved__c string",
    )
    out = normalize(raw, S.SF_MATTER)
    row = out.first()
    assert row["isdeleted"] == 1
    assert row["lives_saved__c"] == 3
    assert row["urgent__c"] == 0            # missing bool col → NULL → 0
    assert row["name"] is None
    assert row["litify_pm__total_damages__c"] == 0.0


def test_normalize_strict_raises(spark):
    raw = spark.createDataFrame([("M1",)], "Id string")
    import pytest

    with pytest.raises(ValueError, match="missing required column"):
        normalize(raw, S.SF_MATTER, strict=True)


def test_lowercase_columns(spark):
    df = spark.createDataFrame([(1, 2)], "Foo long, BAR long")
    assert lowercase_columns(df).columns == ["foo", "bar"]


def test_employee_dates_ddmmyyyy(spark):
    raw = spark.createDataFrame(
        [("a@x.com", "25/12/2023", "31/02/2024", "")],
        "Email string, Hiring_Date string, Last_Working_Day string, "
        "Date_Of_Birth string",
    )
    out = normalize(raw, S.EMPLOYEE)
    row = out.first()
    assert str(row["hiring_date"]) == "2023-12-25"
    assert row["last_working_day"] is None
    assert row["date_of_birth"] is None


def test_observed_metrics_ride_the_action(spark):
    from redshift_etl_spark import transforms as TR
    from pyspark.sql import functions as F

    df = spark.range(10).select(
        F.col("id"),
        F.when(F.col("id") % 3 == 0, None).otherwise(F.col("id")).alias("v"),
    )
    out, obs = TR.observed(df, "ingest", null_cols=("v",))
    assert out.count() == 10          # the action that materializes metrics
    assert obs.get == {"n_rows": 10, "n_null_v": 4}


def test_schema_drift_report(spark):
    from pyspark.sql import types as T

    from redshift_etl_spark import schemas as SC

    contract = SC.ObjectSchema(
        name="drift_demo",
        key=("id",),
        recency_col="modified",
        fields={
            "id": SC.STRING,
            "amount": SC.FLOAT0,
            "n_items": SC.INT0,
            "active": SC.BOOL01,
            "modified": SC.TIMESTAMP,
        },
    )
    incoming = T.StructType(
        [
            T.StructField("ID", T.StringType()),          # key present (case-blind)
            T.StructField("amount", T.IntegerType()),     # widens into FLOAT0 — fine
            T.StructField("n_items", T.DoubleType()),     # double → INT0: break
            T.StructField("active", T.BooleanType()),     # fine
            T.StructField("new_upstream", T.StringType()),  # added
            # "modified" missing
        ]
    )
    rep = SC.schema_drift(incoming, contract)
    assert rep["added"] == ["new_upstream"]
    assert rep["missing"] == ["modified"]
    assert rep["type_changed"] == [("n_items", "double", SC.INT0)]
    assert rep["key_missing"] == []

    # missing merge key is reported separately (hard failure for SCD)
    no_key = T.StructType([T.StructField("amount", T.DoubleType())])
    rep2 = SC.schema_drift(no_key, contract)
    assert rep2["key_missing"] == ["id"]

    # string arrivals coerce into anything: never a type break
    stringly = T.StructType(
        [T.StructField(c, T.StringType()) for c in contract.columns()]
    )
    rep3 = SC.schema_drift(stringly, contract)
    assert rep3 == {
        "added": [], "missing": [], "type_changed": [], "key_missing": []
    }


# --- normalize as one SQL-text projection -------------------------------

_EDGE_VALUES = [
    "t", "T", "True", "true", "1", "false", "yes", "", "   ", "  x  ", None,
    "3", "4.7", "-2.5", "1e3", "NaN", "abc", "2024-03-01 10:00:00",
    "2024-03-01", "25/12/2023", "31/02/2024", "1/2/2024",
]


def _column_algebra(cls: str, c):
    """The per-class rules spelled as Column algebra (the form normalize
    used before it built SQL text, except for the string 'NaN': INT0 now
    try_casts to long, where a plain cast failed the whole load, and
    FLOAT0 maps it to 0.0 as its rule says, where it passed NaN
    through); both spellings must agree bit for bit."""
    from pyspark.sql import functions as F

    from redshift_etl_spark.functions import TRUTHY

    if cls == S.TIMESTAMP:
        return c.try_cast("timestamp")
    if cls == S.BOOL01:
        return F.when(c.cast("string").isin(*TRUTHY), F.lit(1)).otherwise(F.lit(0))
    if cls == S.INT0:
        return F.coalesce(c.try_cast("double").try_cast("long"), F.lit(0))
    if cls == S.FLOAT0:
        return F.coalesce(F.nanvl(c.try_cast("double"), F.lit(None)), F.lit(0.0))
    if cls == S.DATE_DDMMYYYY:
        return F.try_to_timestamp(c, F.lit("d/M/yyyy")).cast("date")
    t = F.trim(c)
    return F.when(t == "", F.lit(None)).otherwise(t)


_CLASSES = (S.STRING, S.TIMESTAMP, S.BOOL01, S.INT0, S.FLOAT0, S.DATE_DDMMYYYY)


def test_normalize_matches_column_algebra_for_every_class(spark):
    from pyspark.sql import functions as F

    fields = {f"c_{cls}": cls for cls in _CLASSES}
    schema = S.ObjectSchema("edge", ("c_string",), None, fields)
    raw = spark.createDataFrame(
        [(i, *([v] * len(fields))) for i, v in enumerate(_EDGE_VALUES)],
        "i long, " + ", ".join(f"C_{cls.upper()} string" for cls in _CLASSES),
    )
    out = normalize(raw.drop("i"), schema)
    ref = raw.drop("i").select(
        *[_column_algebra(cls, F.col(f"C_{cls.upper()}")).alias(name)
          for name, cls in fields.items()]
    )
    assert out.schema == ref.schema
    assert [f.dataType for f in out.schema] == [
        f.dataType for f in schema.spark_schema()
    ]
    assert out.collect() == ref.collect()
    row = {name: [r[name] for r in out.collect()] for name in fields}
    assert row["c_bool01"][:7] == [1, 1, 1, 1, 1, 0, 0]
    assert row["c_string"][7:10] == [None, None, "x"]
    assert row["c_int0"][11:16] == [3, 4, -2, 1000, 0]  # 'NaN' → 0
    assert row["c_float0"][14:16] == [1000.0, 0.0]


def test_normalize_absent_columns_take_class_defaults(spark):
    import pytest

    fields = {"id": S.STRING, **{f"c_{cls}": cls for cls in _CLASSES}}
    schema = S.ObjectSchema("absent", ("id",), None, fields)
    raw = spark.createDataFrame([("k1",)], "ID string")
    row = normalize(raw, schema).first().asDict()
    assert row == {
        "id": "k1", "c_string": None, "c_timestamp": None, "c_bool01": 0,
        "c_int0": 0, "c_float0": 0.0, "c_date_ddmmyyyy": None,
    }
    with pytest.raises(ValueError, match="missing required column 'c_string'"):
        normalize(raw, schema, strict=True)


def test_normalize_quotes_identifiers(spark):
    schema = S.ObjectSchema(
        "quoted", ("my key",), None,
        {"my key": S.STRING, "we`ird": S.INT0, "mixedcase": S.BOOL01,
         "dot.name": S.FLOAT0},
    )
    raw = spark.createDataFrame(
        [(" k ", "7", "true", "2.5")],
        "`My Key` string, `We``ird` string, MixedCase string, `dot.name` string",
    )
    out = normalize(raw, schema)
    assert out.columns == ["my key", "we`ird", "mixedcase", "dot.name"]
    assert tuple(out.first()) == ("k", 7, 1, 2.5)
