"""Lake layout — partitioning and bucketing for the 100 TB posture.

SURVEY §4: the reference's only partition-pruning analog is "process
only unprocessed date folders". The engine makes layout explicit:

- ``write_partitioned``: facts land partitioned by a date column →
  partition pruning turns time-window queries into directory pruning.
- ``write_bucketed``: big join/merge keys get bucketed tables → a join
  between two tables bucketed on the same key by the same bucket count
  is SHUFFLE-FREE (verified in tests/test_lake.py by plan inspection).
  This is exactly what the recurring SCD1 merge wants: target bucketed
  by key, only the (small) staging side ever shuffles.

Bucketed tables go through the session catalog (``saveAsTable``) —
Spark's bucketing metadata lives in the table definition, not the
parquet files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    date_col: str,
    mode: str = "append",
) -> None:
    """Date-partitioned fact layout (adds ``load_date`` if absent)."""
    if "load_date" not in df.columns:
        df = df.withColumn("load_date", F.to_date(F.col(date_col)))
    df.write.mode(mode).partitionBy("load_date").parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Bucketed catalog table; joins/aggregations on ``bucket_col``
    between equally-bucketed tables skip the shuffle entirely."""
    (
        df.write.mode(mode)
        .bucketBy(num_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table)
    )


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path`` — local or cluster URI."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _rename(spark: SparkSession, src: str, dst: str) -> None:
    fs, s = _fs_path(spark, src)
    if not fs.rename(s, _fs_path(spark, dst)[1]):
        raise OSError(f"could not rename {src!r} to {dst!r}")


def _aside(path: str) -> tuple[str, str]:
    """(temp copy, parked old copy) paths of a `swap_in` at ``path``."""
    base = path.rstrip("/")
    return base + ".__compact_tmp__", base + ".__compact_old__"


def restore_stranded(spark: SparkSession, path: str) -> None:
    """Finish a `swap_in` that crashed: drop a leftover temp copy (a
    crash before the swap), put the parked old copy back if nothing is
    at ``path`` (a crash between the two renames), else drop the stale
    old copy (a crash after them). Call it before reading ``path`` in
    anything that may run after a swap."""
    tmp, old = _aside(path)
    fs, p_tmp = _fs_path(spark, tmp)
    fs.delete(p_tmp, True)
    p_old = _fs_path(spark, old)[1]
    if fs.exists(p_old):
        if fs.exists(_fs_path(spark, path)[1]):
            fs.delete(p_old, True)
        else:
            _rename(spark, old, path)


def swap_in(spark: SparkSession, path: str, write) -> None:
    """Replace the directory ``path`` by what ``write(tmp)`` writes to a
    temp sibling: park the old copy aside, rename the temp copy into
    place, delete the parked copy. A reader never sees a half-written
    directory. A crash between the renames leaves nothing at ``path``
    until `restore_stranded` puts the old copy back, so every caller
    runs that before it reads ``path``."""
    tmp, old = _aside(path)
    write(tmp)
    _rename(spark, path, old)
    _rename(spark, tmp, path)
    fs, p_old = _fs_path(spark, old)
    fs.delete(p_old, True)


def compact_partition(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction for one partition directory (or an
    unpartitioned table root). Returns the output file count.

    Streaming `foreachBatch` appends and fine-grained incremental loads
    leave hundreds of tiny parquet files per partition; at 100 TB the
    resulting scan pays one task + one footer-read per file and the
    NameNode/listing cost dwarfs the I/O. Compaction rewrites the
    partition into ceil(bytes / target_bytes) files of ~target size
    (the 128 MiB default matches a typical HDFS/S3 block sweet spot).

    Uses coalesce (narrow — no shuffle: each output task concatenates
    whole input files), a temp dir and `swap_in`, so a reader never
    sees a half-compacted partition; a compaction that crashed inside
    the swap is finished by the next call (`restore_stranded`).
    """
    import math

    restore_stranded(spark, path)
    fs, p = _fs_path(spark, path)
    n_out = max(1, math.ceil(fs.getContentSummary(p).getLength() / target_bytes))
    src = spark.read.parquet(path).coalesce(n_out)
    swap_in(spark, path, lambda tmp: src.write.parquet(tmp))
    return n_out


def read_merged_schema(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet lake whose slices were written under EVOLVING
    schemas (columns added over time): ``mergeSchema`` unions the
    footers; rows from slices lacking a column read as NULL there.
    Schema merging is a footer-only operation (no data scan), but it
    reads every footer — on a million-file lake pin the schema
    explicitly instead and rely on by-name column resolution."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def write_sorted_partitioned(
    df: DataFrame,
    path: str,
    date_col: str,
    sort_cols: list[str],
    mode: str = "append",
    options: dict[str, str] | None = None,
) -> None:
    """Date-partitioned layout with rows SORTED WITHIN each file by
    ``sort_cols`` (sortWithinPartitions — a per-task sort, no shuffle
    beyond the partitioning write already does).

    Why: parquet stores per-row-group min/max stats; when a file's rows
    arrive sorted on a filter column, each row group covers a narrow,
    disjoint range, so a point/range predicate prunes most row groups
    at scan time (verified by footer stats in tests/test_lake.py). This
    is the poor-man's clustering index — same idea as Z-ordering for
    the single-column case, with zero extra machinery.
    ``options`` passes parquet writer knobs (e.g. ``parquet.block.size``
    to bound row-group size, the granularity of that skipping).
    """
    out = df
    if "load_date" not in out.columns:
        out = out.withColumn("load_date", F.to_date(F.col(date_col)))
    writer = out.sortWithinPartitions(*sort_cols).write.mode(mode)
    if options:
        writer = writer.options(**options)
    writer.partitionBy("load_date").parquet(path)


def zorder_key(
    df: DataFrame, z_cols: list[str], bits: int = 12
) -> DataFrame:
    """Adds ``__zkey``: the interleaved-bit Z-order key over the given
    numeric columns — points close in EVERY dimension get close keys,
    so sorting by ``__zkey`` co-locates multi-dimensional neighborhoods
    the way a single-column sort cannot.

    Delegates to the canonical engine-portable implementation in
    `operators/zorder.zorder_layout` (min-max bucketing + div/mod
    Morton interleave, oracle-verified cross-engine by the
    `zorder_curve` catalog query); this wrapper only fixes the output
    column name for the lake writer. The min/max stats pass is one
    bounded aggregate; at 100 TB compute it from a sample or catalog
    stats instead — the key only needs APPROXIMATE ranges to cluster
    well (outliers merely crowd edge cells)."""
    from ..operators.zorder import zorder_layout

    return zorder_layout(df, z_cols, bits=bits, out_col="__zkey")


def write_zordered_partitioned(
    df: DataFrame,
    path: str,
    date_col: str,
    z_cols: list[str],
    bits: int = 12,
    mode: str = "append",
    options: dict[str, str] | None = None,
) -> None:
    """Date-partitioned layout with rows Z-ORDERED within each file:
    the multi-column generalization of `write_sorted_partitioned`. A
    single-column sort narrows row-group min/max stats for that column
    only — the other filter columns still span their full domain in
    every row group, so predicates on them skip nothing. Z-ordering
    narrows EVERY interleaved column to ~domain/√R per row group (2-D;
    R row groups), so scans filtering on any of the z-columns prune
    (verified against parquet footer stats in tests/test_lake.py)."""
    out = zorder_key(df, z_cols, bits)
    if "load_date" not in out.columns:
        out = out.withColumn("load_date", F.to_date(F.col(date_col)))
    writer = (
        out.sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode(mode)
    )
    if options:
        writer = writer.options(**options)
    writer.partitionBy("load_date").parquet(path)


def existing_partitions(path: str) -> set[str]:
    """The lake table's materialized load_date partition values, from
    the directory layout alone — no data read, no Spark job. (On object
    stores this is one LIST call per table; with a catalog/metastore,
    swap in SHOW PARTITIONS.)"""
    import os

    if not os.path.isdir(path):
        return set()
    return {
        d.split("=", 1)[1]
        for d in os.listdir(path)
        if d.startswith("load_date=")
    }


def missing_partitions(
    path: str, start_date: str, end_date: str
) -> list[str]:
    """Backfill plan: the calendar dates in [start, end] with no
    materialized partition — the gap list a scheduler turns into
    backfill runs. Pure metadata (directory listing vs a generated
    calendar)."""
    from datetime import date, timedelta

    y, m, d = map(int, start_date.split("-"))
    y2, m2, d2 = map(int, end_date.split("-"))
    cur, stop = date(y, m, d), date(y2, m2, d2)
    have = existing_partitions(path)
    out = []
    while cur <= stop:
        s = cur.isoformat()
        if s not in have:
            out.append(s)
        cur += timedelta(days=1)
    return out


def backfill_partitions(
    source: DataFrame,
    path: str,
    date_col: str,
    dates: list[str],
) -> None:
    """Materialize exactly the given missing partitions from the source
    frame: one pushed-down date filter (partition values prune at the
    scan when the source is itself partitioned), one dynamic-partition
    append. Idempotent per partition — re-running a backfill overwrites
    only the partitions it writes (dynamic overwrite), never touching
    the rest of the table. The dynamic mode is a writer option, not a
    session conf: two backfills on one session cannot interleave a
    conf flip and run as a static overwrite that deletes every other
    partition."""
    if not dates:
        return
    (
        source.withColumn("load_date", F.to_date(F.col(date_col)))
        .filter(F.col("load_date").cast("string").isin(dates))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("load_date")
        .parquet(path)
    )
