"""Sources layer: CSV-object read, path checkpointing (S3/ST4), REST
fan-out (S8), sinks."""

from __future__ import annotations

from redshift_etl_spark import schemas as S
from redshift_etl_spark.sources import batch, checkpoint, rest, sinks
from pyspark.sql import types as T


def test_read_csv_object_normalizes(spark, tmp_path):
    p = tmp_path / "task.csv"
    p.write_text(
        "Id,Subject,IsClosed,LastModifiedDate,ActivityDate\n"
        "T1,Call,true,2024-02-01 10:00:00,2024-02-01\n"
        "T2,,false,2024-02-02 10:00:00,garbage\n"
    )
    out = batch.read_csv_object(spark, str(p), S.SF_TASK)
    assert out.columns == list(S.SF_TASK.fields)
    rows = {r["id"]: r for r in out.collect()}
    assert rows["T1"]["isclosed"] == 1
    assert rows["T2"]["isclosed"] == 0
    assert rows["T2"]["subject"] is None
    assert rows["T2"]["activitydate"] is None
    assert rows["T1"]["whatid"] is None  # column absent from file


def test_json_lines_roundtrip(spark, tmp_path):
    src = spark.createDataFrame(
        [("T1", "s", 1)], "id string, subject string, isclosed int"
    )
    out_path = str(tmp_path / "stage")
    batch.write_json_lines(src, out_path)
    back = spark.read.json(out_path)
    assert back.count() == 1


def test_path_checkpoint_incremental(spark, tmp_path):
    ck = checkpoint.PathCheckpoint(spark, str(tmp_path / "state"))
    cand = spark.createDataFrame(
        [("f1",), ("f2",), ("f3",)], "key string"
    )
    assert ck.select_new(cand).count() == 3
    ck.mark_processed(["f1", "f3"])
    assert {r["key"] for r in ck.select_new(cand).collect()} == {"f2"}
    # re-marking is append-only but select_new stays correct
    ck.mark_processed(["f2"])
    assert ck.select_new(cand).count() == 0


def test_path_checkpoint_late_data_guard(spark, tmp_path):
    # ST4 — `Salesforce/Task/lambda_litify_task.py:192-200`
    ck = checkpoint.PathCheckpoint(spark, str(tmp_path / "state"))
    assert not ck.mark_folder_if_safe("new_empty", True, False)
    assert ck.mark_folder_if_safe("old_empty", True, True)
    assert ck.mark_folder_if_safe("has_files", False, False)
    assert {r["key"] for r in ck.processed().collect()} == {
        "old_empty", "has_files",
    }


def test_fanout_fetch_mapinpandas(spark):
    # S8 scale path with an injected deterministic "API"
    ids = spark.createDataFrame([(i,) for i in range(10)], "id long")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("detail", T.StringType()),
        ]
    )

    def fake_api(batch_ids):
        return [{"id": i, "detail": f"d{i}"} for i in batch_ids]

    out = rest.fanout_fetch(
        ids, fake_api, schema, id_col="id", batch_size=3, num_partitions=2
    )
    rows = {r["id"]: r["detail"] for r in out.collect()}
    assert rows == {i: f"d{i}" for i in range(10)}


def test_with_retry():
    calls = []

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise TimeoutError("rate limited")
        return "ok"

    assert (
        rest.with_retry(flaky, retries=3, backoff_s=0.0, retryable=TimeoutError)()
        == "ok"
    )
    assert len(calls) == 3


def test_merge_sql_generation():
    sql = sinks.jdbc_staged_merge_sql(
        "stg.task", "litify.task", ["id"], ["id", "subject", "lastmodifieddate"]
    )
    assert "MERGE INTO litify.task t USING stg.task s ON t.id = s.id" in sql
    assert "UPDATE SET subject = s.subject" in sql
    assert "INSERT (id, subject, lastmodifieddate)" in sql


def test_parquet_sink_append(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "x long")
    sinks.parquet_table_sink(df, str(tmp_path / "t"), mode="append")
    sinks.parquet_table_sink(df, str(tmp_path / "t"), mode="append")
    assert spark.read.parquet(str(tmp_path / "t")).count() == 2


def test_orc_round_trip(spark, tmp_path):
    """ORC is the second columnar lake format Spark ships natively —
    the engine's readers are format-agnostic DataFrames, so parity is a
    write/read identity plus predicate pushdown reaching the ORC scan."""
    from redshift_etl_spark import plans as P

    path = str(tmp_path / "orc_tbl")
    df = spark.range(1000).selectExpr("id", "id * 2 AS v")
    df.write.orc(path)
    back = spark.read.orc(path).filter("v > 100")
    assert back.count() == 949
    assert any("v" in f for f in P.pushed_filters(back))


def test_sql_surface_over_registered_views(spark):
    """Users of the reference run raw SQL against Redshift views; the
    engine's equivalent surface is spark.sql over register_tables —
    prove a join + agg + window statement round-trips against the
    DataFrame-API result."""
    from pyspark.sql import functions as F

    from redshift_etl_spark.queries.tables import load
    from redshift_etl_spark.sql import register_tables

    from .conftest import SF_ORACLE

    register_tables(spark, SF_ORACLE)
    got = spark.sql(
        """
        SELECT n.n_name,
               COUNT(*) AS n_custs,
               RANK() OVER (ORDER BY COUNT(*) DESC, n.n_name) AS rnk
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        """
    )
    want = (
        load(spark, SF_ORACLE, "customer")
        .join(
            load(spark, SF_ORACLE, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_custs"))
    )
    g = {(r["n_name"], r["n_custs"]) for r in got.collect()}
    w = {(r["n_name"], r["n_custs"]) for r in want.collect()}
    assert g == w and len(g) > 0
    # rank column is dense over the same ordering
    ranks = sorted(r["rnk"] for r in got.collect())
    assert ranks[0] == 1 and len(ranks) == len(g)


# --- ORC round-trip + pushdown ---------------------------------------------

def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    from pyspark.sql import functions as F

    from redshift_etl_spark import plans as P
    from redshift_etl_spark.queries.tables import load
    from redshift_etl_spark.sources.batch import read_orc_table, write_orc_table

    from .conftest import SF_ORACLE

    df = load(spark, SF_ORACLE, "nation")
    out = str(tmp_path / "nation_orc")
    write_orc_table(df, out, bloom_cols=["n_nationkey"])
    back = read_orc_table(spark, out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # predicate reaches the ORC scan
    q = back.filter(F.col("n_nationkey") == 3).select("n_name")
    assert "n_nationkey" in " ".join(P.pushed_filters(q))


def test_binaryfile_media_reader(spark, tmp_path):
    from redshift_etl_spark.sources.batch import read_media_dir

    d = tmp_path / "media"
    d.mkdir()
    (d / "a.wav").write_bytes(b"RIFF" + b"\x00" * 60)
    (d / "b.wav").write_bytes(b"RIFF" + b"\x01" * 600)
    (d / "skip.txt").write_bytes(b"not media")
    rows = read_media_dir(spark, str(d), glob="*.wav").collect()
    assert {r["path"].rsplit("/", 1)[-1] for r in rows} == {"a.wav", "b.wav"}
    by_name = {r["path"].rsplit("/", 1)[-1]: r for r in rows}
    assert bytes(by_name["a.wav"]["content"])[:4] == b"RIFF"
    assert by_name["b.wav"]["length"] == 604
    # the size guard prunes on the listing column
    small = read_media_dir(spark, str(d), glob="*.wav", max_bytes=100).collect()
    assert [r["path"].rsplit("/", 1)[-1] for r in small] == ["a.wav"]


def test_path_checkpoint_sees_a_uri_state_path(spark, tmp_path):
    """A ``file:`` URI state path names the same processed set as its
    plain path: marked folders are not selected again."""
    ck = checkpoint.PathCheckpoint(spark, (tmp_path / "state").as_uri())
    ck.mark_processed(["a", "b"])
    cand = spark.createDataFrame([("a",), ("b",), ("c",)], "key string")
    assert [r["key"] for r in ck.select_new(cand).collect()] == ["c"]
