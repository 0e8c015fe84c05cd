"""Batch file sources — the reference's S3-CSV ingest path (SURVEY §2.1
S1/S2/S4) as schema-first Spark readers.

The reference reads each CSV with pandas inference then coerces by hand
(`Salesforce/Task/lambda_litify_task.py:158-159`, `:97-111`); here the
read applies the registry schema *as strings* (CSV arrives untyped) and
the normalize op does the typed coercion — so bad cells degrade to NULL
per T1–T7 instead of failing the file.

Scale notes: multi-path globs give Spark one distributed read over all
new folders (the reference loops folders serially in one Lambda);
`maxPartitionBytes` controls split sizing; column pruning/pushdown work
because normalize is a single projection over the scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..schemas import ObjectSchema
from ..transforms import normalize


def read_csv_object(
    spark: SparkSession,
    paths: str | Sequence[str],
    schema: ObjectSchema,
    header: bool = True,
) -> DataFrame:
    """S1 — CSV scan + normalize. All columns are read as strings
    (no inference — deterministic across files), then coerced per the
    object schema in one projection."""
    if isinstance(paths, str):
        paths = [paths]
    raw = spark.read.csv(list(paths), header=header, inferSchema=False)
    return normalize(raw, schema)


def write_json_lines(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S4 (write side) — JSON-lines sink; ISO timestamps are Spark's
    default JSON format, matching the reference's
    ``date_format='iso'``."""
    df.write.mode(mode).json(path)


def read_orc_table(
    spark: SparkSession, paths: str | Sequence[str]
) -> DataFrame:
    """Columnar ORC scan (lake-format breadth beyond parquet): ORC is
    a first-class Spark format with the same pushdown machinery —
    predicate pushdown (plus optional bloom filters at write time via
    ``orc.bloom.filter.columns``), column pruning, and vectorized
    reads — so every operator in this engine runs unchanged over an
    ORC lake. Schema comes from the file footers (typed, unlike CSV),
    so no normalize pass is needed unless coercion is wanted."""
    if isinstance(paths, str):
        paths = [paths]
    return spark.read.orc(list(paths))


def write_orc_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    bloom_cols: Sequence[str] = (),
) -> None:
    """ORC sink; pass ``bloom_cols`` to embed per-column bloom filters
    in the stripes so point-lookup predicates skip stripes at read
    time (the ORC analog of the z-order + footer-skipping recipe)."""
    w = df.write.mode(mode)
    if bloom_cols:
        w = w.option("orc.bloom.filter.columns", ",".join(bloom_cols))
    w.orc(path)


def read_media_dir(
    spark: SparkSession,
    path: str,
    glob: str = "*",
    max_bytes: int | None = None,
) -> DataFrame:
    """Opaque-media ingest via Spark's ``binaryFile`` source: one row
    per file with (path, modificationTime, length, content BINARY) —
    the reader that feeds `operators/multimodal` feature extraction
    without any Python touching bytes on the driver. Distributed: each
    executor reads its own split of the listing; ``pathGlobFilter``
    prunes by extension BEFORE reads, and ``max_bytes`` guards against
    a stray giant blob flooding executor memory (filter on the LISTING
    column ``length``, so oversize files are never opened)."""
    reader = spark.read.format("binaryFile").option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        from pyspark.sql import functions as F

        df = df.filter(F.col("length") <= max_bytes)
    return df
