"""Lake layout: partition pruning and shuffle-free bucketed joins,
asserted at the plan level."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from redshift_etl_spark import plans as P
from redshift_etl_spark.sources import lake


def test_partitioned_write_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-02 10:00:00")],
        "id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "fact")
    lake.write_partitioned(df, path, "ts", mode="overwrite")

    back = spark.read.parquet(path).filter(F.col("load_date") == "2024-01-01")
    assert back.count() == 1
    # partition filter must appear as a partition filter, not a data filter
    plan = P.physical_plan(back)
    assert "PartitionFilters" in plan and "load_date" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]


@pytest.mark.slow
def test_bucketed_join_no_shuffle(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
        b = spark.range(0, 1000).withColumn("w", F.col("id") + 1)
        lake.write_bucketed(a, "bk_a", "id", num_buckets=8)
        lake.write_bucketed(b, "bk_b", "id", num_buckets=8)
        joined = lake.read_table(spark, "bk_a").join(
            lake.read_table(spark, "bk_b"), "id"
        )
        # same-key same-bucket-count join: ZERO Exchange operators
        assert P.count_shuffles(joined) == 0
        assert joined.count() == 1000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_compact_partition(spark, tmp_path):
    path = str(tmp_path / "shards")
    # simulate a streaming sink's droppings: many tiny appended files
    # (AQE may coalesce a single repartition(40), so append in slices)
    import glob
    for lo in range(0, 40, 10):
        spark.range(lo, lo + 10).repartition(4).write.mode("append").parquet(path)
    n_small = len(glob.glob(f"{path}/part-*.parquet"))
    assert n_small >= 4

    n_out = lake.compact_partition(spark, path, target_bytes=1 << 30)
    files = glob.glob(f"{path}/part-*.parquet")
    assert n_out == 1 and len(files) == 1
    # contents survive the swap, temp/old dirs are gone
    assert sorted(
        r.id for r in spark.read.parquet(path).collect()
    ) == list(range(40))
    assert not glob.glob(f"{path}.__compact_*")


def test_compact_partition_crash_between_renames_recovers(
    spark, tmp_path, monkeypatch
):
    """A compaction that dies after parking the old copy and before
    renaming the new one into place leaves no table at the path; the
    next call puts the old copy back, then compacts."""
    import glob
    import os

    path = str(tmp_path / "shards")
    for lo in range(0, 20, 10):
        spark.range(lo, lo + 10).write.mode("append").parquet(path)
    real_rename, calls = lake._rename, []

    def dies_on_second(spark, src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("killed between the renames")
        real_rename(spark, src, dst)

    monkeypatch.setattr(lake, "_rename", dies_on_second)
    with pytest.raises(OSError, match="between the renames"):
        lake.compact_partition(spark, path)
    assert not os.path.exists(path)
    monkeypatch.setattr(lake, "_rename", real_rename)

    assert lake.compact_partition(spark, path) == 1
    assert sorted(
        r.id for r in spark.read.parquet(path).collect()
    ) == list(range(20))
    assert not glob.glob(f"{path}.__compact_*")


def test_read_merged_schema_evolution(spark, tmp_path):
    path = str(tmp_path / "evolving")
    spark.range(3).select(F.col("id")).write.parquet(path)
    spark.range(3, 6).select(
        F.col("id"), (F.col("id") * 10).alias("score")
    ).write.mode("append").parquet(path)

    df = lake.read_merged_schema(spark, path)
    assert set(df.columns) == {"id", "score"}
    rows = {r["id"]: r["score"] for r in df.collect()}
    assert rows[1] is None and rows[4] == 40


def test_sorted_write_tightens_row_group_stats(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    path = str(tmp_path / "sorted")
    df = (
        spark.range(100_000)
        .select(
            (F.xxhash64("id") % 1000000).alias("key"),
            F.lit("2024-01-01").cast("timestamp").alias("ts"),
        )
        .repartition(2)
    )
    # small row groups → many min/max stat ranges per file
    lake.write_sorted_partitioned(
        df, path, "ts", ["key"], options={"parquet.block.size": str(64 * 1024)}
    )

    spans = []
    for f in glob.glob(f"{path}/load_date=*/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "key"
            spans.append(col.statistics.max - col.statistics.min)
    # sorted rows → each row group covers a narrow disjoint slice of
    # the key domain (~domain / row-groups-per-file, since every file
    # holds a full-domain sample pre-sort), not the whole ±1e6 domain —
    # an unsorted write would put ~the full span in every row group
    assert len(spans) >= 10
    assert max(spans) < 2_000_000 / 10


def test_dynamic_partition_pruning(spark, tmp_path):
    # 100 TB posture: when the date predicate arrives via a dim join
    # (calendar/dim_date) instead of a literal, Catalyst must still prune
    # fact partitions AT RUNTIME (DPP) — the fact scan carries a
    # dynamicpruning subquery on load_date, not a full scan.
    rows = [(i, f"2024-01-{1 + i % 5:02d} 10:00:00") for i in range(200)]
    df = spark.createDataFrame(rows, "id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    path = str(tmp_path / "fact_dpp")
    lake.write_partitioned(df, path, "ts", mode="overwrite")

    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("2024-01-01", "holiday")], "d string, kind string"
    ).select(F.col("d").cast("date").alias("d"), "kind")
    joined = fact.join(
        F.broadcast(dim.filter(F.col("kind") == "holiday")),
        fact.load_date == dim.d,
    )
    plan = P.physical_plan(joined)
    assert "dynamicpruning" in plan.lower()
    assert joined.count() == 40


def test_zorder_narrows_stats_on_both_columns(spark, tmp_path):
    """Z-order vs single-column sort: a single-col sort narrows row
    groups only for the sorted column (the other spans its full domain
    in every group); the interleaved z-key narrows BOTH, which is what
    lets predicates on either column skip row groups."""
    import glob

    import pyarrow.parquet as pq

    df = (
        spark.range(100_000)
        .select(
            (F.xxhash64("id") % 100_000).alias("a"),
            (F.xxhash64("id", F.lit(1)) % 100_000).alias("b"),
            F.lit("2024-01-01").cast("timestamp").alias("ts"),
        )
        .repartition(2)
    )
    opts = {"parquet.block.size": str(64 * 1024)}

    def spans(path, col_idx):
        out = []
        for f in glob.glob(f"{path}/load_date=*/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(col_idx)
                out.append(col.statistics.max - col.statistics.min)
        return out

    zpath = str(tmp_path / "zordered")
    lake.write_zordered_partitioned(
        df, zpath, "ts", ["a", "b"], mode="overwrite", options=opts
    )
    spath = str(tmp_path / "single_sorted")
    lake.write_sorted_partitioned(
        df, spath, "ts", ["a"], mode="overwrite", options=opts
    )

    import statistics

    domain = 200_000  # xxhash64 % 100_000 spans ±100_000
    z_a, z_b = spans(zpath, 0), spans(zpath, 1)
    s_a, s_b = spans(spath, 0), spans(spath, 1)
    assert len(z_a) >= 10
    # z-order: the TYPICAL row group is narrow in BOTH columns
    # (~domain/√R in 2-D). Median, not max: z-curve locality is not
    # uniform — the few groups crossing a high-order quadrant boundary
    # legitimately span wide, and skipping still wins on the rest.
    assert statistics.median(z_a) < domain / 2
    assert statistics.median(z_b) < domain / 2
    # single sort: sorted col very narrow, the other ~full domain in
    # EVERY row group (nothing to skip on b)
    assert statistics.median(s_a) < domain / 10
    assert statistics.median(s_b) > domain * 0.8
    # z-order's typical b-span beats single-sort's decisively
    assert statistics.median(z_b) < statistics.median(s_b) / 2


def test_zorder_key_preserves_rows(spark):
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") * 7 % 113).alias("x"),
        (F.col("id") * 13 % 97).alias("y"),
    )
    keyed = lake.zorder_key(df, ["x", "y"], bits=8)
    assert keyed.count() == 1000
    assert set(keyed.columns) == {"id", "x", "y", "__zkey"}
    # same inputs → same keys (deterministic, partition-independent)
    k1 = {r["id"]: r["__zkey"] for r in keyed.collect()}
    k2 = {
        r["id"]: r["__zkey"]
        for r in lake.zorder_key(df.repartition(7), ["x", "y"], bits=8).collect()
    }
    assert k1 == k2


def test_backfill_fills_only_the_gaps(spark, tmp_path):
    from pyspark.sql import functions as F

    from redshift_etl_spark.sources import lake as L

    path = str(tmp_path / "facts")
    src = spark.createDataFrame(
        [(i, f"2024-01-0{d}", i * 10) for i, d in enumerate(
            [1, 1, 2, 3, 3, 4, 5], start=1)],
        ["id", "day", "v"],
    ).withColumn("day", F.to_date("day"))

    # initial load: only days 1 and 3 materialized
    L.write_partitioned(
        src.filter(F.dayofmonth("day").isin(1, 3)), path, "day"
    )
    assert L.existing_partitions(path) == {"2024-01-01", "2024-01-03"}
    gaps = L.missing_partitions(path, "2024-01-01", "2024-01-05")
    assert gaps == ["2024-01-02", "2024-01-04", "2024-01-05"]

    L.backfill_partitions(src, path, "day", gaps)
    assert L.missing_partitions(path, "2024-01-01", "2024-01-05") == []
    got = spark.read.parquet(path)
    assert got.count() == src.count()
    # re-running the same backfill is idempotent (dynamic overwrite)
    L.backfill_partitions(src, path, "day", gaps)
    assert spark.read.parquet(path).count() == src.count()
    # pre-existing partitions were never rewritten
    assert sorted(
        r["id"] for r in got.filter(F.col("load_date") == "2024-01-01").collect()
    ) == [1, 2]
