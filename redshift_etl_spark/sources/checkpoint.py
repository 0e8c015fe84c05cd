"""Incremental-ingest checkpointing — the Spark-native replacement for
the reference's DynamoDB processed-folder registry (SURVEY §2.1 S3,
§2.8 ST4; `Salesforce/Task/lambda_litify_task.py:117-126,171-204`).

A tiny parquet state table records processed path keys. Selection of
new work is a `left_anti` join — no driver-side set membership at scale.
The reference's late-data guard (mark an empty folder processed only if
a later folder exists, `:192-200`) is preserved.

For true streaming file ingest, prefer Structured Streaming's file
source, which tracks processed files natively (see streaming/).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.store import read_store


class PathCheckpoint:
    def __init__(self, spark: SparkSession, state_path: str):
        self.spark = spark
        self.state_path = state_path

    def processed(self) -> DataFrame:
        # probed through Spark: a local exists() is blind to URI paths
        stored = read_store(self.spark, self.state_path)
        if stored is not None:
            return stored
        return self.spark.createDataFrame([], "key string, processed_at timestamp")

    def select_new(self, candidates: DataFrame, key_col: str = "key") -> DataFrame:
        """Anti-join candidates against the processed set."""
        proc = self.processed().select(F.col("key").alias(key_col))
        return candidates.join(proc, key_col, "left_anti")

    def mark_processed(self, keys: list[str]) -> None:
        if not keys:
            return
        df = self.spark.createDataFrame(
            [(k,) for k in keys], "key string"
        ).withColumn("processed_at", F.current_timestamp())
        df.write.mode("append").parquet(self.state_path)

    def mark_folder_if_safe(
        self, folder_key: str, is_empty: bool, later_folder_exists: bool
    ) -> bool:
        """ST4 late-data guard: an empty folder is only marked processed
        once a later folder exists (files may still land in the newest
        folder) — `Salesforce/Task/lambda_litify_task.py:192-200`."""
        if is_empty and not later_folder_exists:
            return False
        self.mark_processed([folder_key])
        return True
