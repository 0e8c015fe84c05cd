"""What every streaming sink shares: the one start-up (`start_sink`),
the Spark-side store probe (`read_store`) and the per-epoch writer
(`overwrite_epoch`).

Replay rule. After a crash Structured Streaming re-delivers a batch
with the same epoch id and input; each kind of store makes the second
application a no-op in one way:

- A store of per-epoch rows (the CTR fact, the top-k summaries, the
  drift histograms, the quality metrics) is partitioned by epoch, and a
  batch overwrites only its own partition (`overwrite_epoch`): a replay
  rewrites the identical partition and reads nothing first. Epochs
  restart at 0 with every new checkpoint, so such a store belongs to
  one checkpoint, and `start_sink` refuses a second one
  (`StoreCheckpointMismatch`).
- A store that accumulates across epochs keys replay by its content or
  its commit record: the dedup ingest and the ANN index anti-join the
  batch against the stored keys; the versioned SCD1 merge and the
  streaming MV commit (stream id, epoch) with the snapshot
  (`sources/versioned._apply_once`).

Why `read_store` goes through Spark, not ``os.path.exists``: a deployed
store path is a cluster URI (``hdfs://``, ``s3a://``) that the driver's
local filesystem does not know, so a local check would always say "no
store" and disarm the anti-join. The two "no store yet" shapes, a
missing path and a footer-less empty directory (a failed first write),
raise ``AnalysisException`` at eager schema resolution with the error
classes ``PATH_NOT_FOUND`` and ``UNABLE_TO_INFER_SCHEMA`` (Spark ≥ 3.5,
which ``ctr.dedup_stream`` needs). Every other ``AnalysisException``
re-raises: a sink that read an unreadable store as "empty" would
rewrite it and lose its state."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The two (and only two) eager-resolution error classes that mean "no
# store exists yet". Anything else is a real error and must propagate.
_NO_STORE_ERROR_CLASSES = frozenset(
    {"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"}
)


class StoreCheckpointMismatch(ValueError):
    """A per-epoch store already holds data and the sink was started
    from a checkpoint that has never planned a batch."""


def read_store(spark: SparkSession, store_path: str) -> DataFrame | None:
    """The store's current contents as a DataFrame, or None when the
    store does not exist yet (missing path OR an empty directory with
    no parquet footer to infer a schema from). Path resolution happens
    in the JVM against the session's Hadoop configuration, so cluster
    URIs behave exactly like local paths. Any AnalysisException other
    than the two no-store classes re-raises (see module docstring)."""
    from pyspark.errors import AnalysisException

    try:
        # spark.read.parquet resolves the path and infers the schema
        # EAGERLY, so both no-store shapes raise here, not at action time
        return spark.read.parquet(store_path)
    except AnalysisException as exc:
        # getCondition is the 4.x name; getErrorClass is the deprecated
        # alias kept for older builds
        get_cls = getattr(exc, "getCondition", None) or exc.getErrorClass
        if get_cls() in _NO_STORE_ERROR_CLASSES:
            return None
        raise


def overwrite_epoch(
    df: DataFrame, store_path: str, epoch_id: int, epoch_col: str = "epoch"
) -> None:
    """Write ``df`` as epoch ``epoch_id`` of a per-epoch store: set
    ``epoch_col`` and replace that one partition, leaving every other
    epoch in place. A replay of the epoch rewrites the same partition."""
    (
        df.withColumn(epoch_col, F.lit(int(epoch_id)).cast("long"))
        .write.mode("overwrite")
        # writer-scoped, NOT a session conf mutation: other writers in
        # the session keep their static-overwrite default
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(epoch_col)
        .parquet(store_path)
    )


def _check_epoch_store(spark, store_path, epoch_col, checkpoint_path) -> None:
    """Refuse a per-epoch store that the stream would write over or
    beside. Offsets, not commits, mark the store's own checkpoint: one
    that crashed inside batch 0 has an offset and no commit, and must
    restart."""
    stored = read_store(spark, store_path)
    if stored is None:
        return
    if epoch_col not in stored.columns:
        # e.g. a CTR fact of the earlier flat-append layout: a reader of
        # root files next to epoch=N dirs silently sees only the dirs
        raise ValueError(
            f"store {store_path!r} has no {epoch_col!r} partition column "
            "(an earlier build's layout); write the stream to a new store"
        )
    offsets = spark._jvm.org.apache.hadoop.fs.Path(checkpoint_path, "offsets")
    fs = offsets.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(offsets) or not any(
        f.getPath().getName().isdigit() for f in fs.listStatus(offsets)
    ):
        raise StoreCheckpointMismatch(
            f"store {store_path!r} holds data and checkpoint "
            f"{checkpoint_path!r} is new: its epochs would overwrite the "
            "stored ones; restart from the store's own checkpoint"
        )


def start_sink(
    stream: DataFrame,
    checkpoint_path: str,
    apply,
    trigger_seconds: int | None = None,
    epoch_store: str | None = None,
    epoch_col: str = "epoch",
):
    """Start ``stream`` with ``apply(batch_df, epoch_id)`` as its
    foreachBatch body: the one writer set-up of every streaming sink.
    A per-epoch sink passes its store path and partition column
    (``epoch_store``, ``epoch_col``) to be checked first
    (`_check_epoch_store`)."""
    if epoch_store is not None:
        _check_epoch_store(
            stream.sparkSession, epoch_store, epoch_col, checkpoint_path
        )
    writer = stream.writeStream.foreachBatch(apply).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
