"""Continuous ANN index maintenance — the streaming form of the
train-once / search-many IVF posture (`operators/similarity.ivf_topk`,
`operators/pq.ivf_pq_topk`): the coarse codebook is a committed BUILD
artifact and never moves per batch (re-training per trigger would
silently invalidate every stored cell assignment), while each
micro-batch of new embeddings is assigned to its cell and APPENDED to
a cell-partitioned routing store. A vector becomes searchable at the
trigger after it arrives; searches probe exactly one cell partition.

Exactly-once without a transaction log: the vector id is the
idempotence key — each batch anti-joins the store's (cell-pruned) id
column, so a crash-replayed batch appends nothing. Same
content-as-ledger argument as `streaming/ingest.dedup_ingest_batch`,
with the id in place of the fingerprint.

PRECONDITION — immutable embeddings (ADVICE r09): the anti-join keys
on (cluster, id) so it stays partition-to-partition against the
cell-partitioned store; that catches crash REPLAYS (same id, same
bytes, same cell) but NOT a re-sent id whose embedding changed — the
new bytes assign to a different cell and a second row for the id
lands. Embeddings here are immutable facts keyed by id; a mutable
(upsert) index needs the versioned-sink machinery instead. The
contract is pinned by `tests/test_ann_index_stream.py`
(test_mutated_embedding_same_id_is_out_of_contract).

Scale shape per trigger: one Arrow-kernel cell assignment over the
BATCH only against the collected codebook (k rows — bounded by the
build, not the data), one anti-join batch-vs-store on (cluster, id) where the store
side prunes to its id column and the cluster key joins
partition-to-partition, one append write. Stored vectors are never
re-scored and never re-assigned.

Reference analog: the reference's incremental loads land new rows and
leave historical rows untouched (`…/SP_boto3_connect_redshift.sql`
anti-join pattern); this is that discipline applied to a vector index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .store import read_store, start_sink


def index_ingest_batch(
    batch_df: DataFrame,
    store_path: str,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One micro-batch body (module-level so tests can drive replay
    semantics directly): batch-internal id dedup (min-id-first is
    irrelevant — ids are the key, first writer wins) → cell assignment
    against the FIXED codebook → anti-join against stored ids →
    append survivors partitioned by cell."""
    from ..operators.similarity import assign_clusters

    spark = batch_df.sparkSession
    batch = batch_df.select(id_col, vec_col).dropDuplicates([id_col])
    assigned = assign_clusters(batch, centroids, id_col, vec_col).select(
        F.col(id_col), F.col(vec_col), F.col("cluster")
    )
    # Spark-side store probe (see streaming/store.py): local exists()
    # checks are blind to cluster URIs, which would skip the stored-id
    # anti-join on a deployed store and re-append every replayed vector
    store = read_store(spark, store_path)
    if store is not None:
        stored = store.select("cluster", id_col)
        assigned = assigned.join(
            stored, ["cluster", id_col], "left_anti"
        )
    # append = new part files under each cell's partition dir; the
    # store read above already resolved its file list, so mid-append
    # reads are consistent (same argument as the dedup-ingest store)
    assigned.write.mode("append").partitionBy("cluster").parquet(
        store_path
    )


def start_ann_index_sink(
    stream: DataFrame,
    store_path: str,
    checkpoint_path: str,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trigger_seconds: int | None = None,
):
    """Attach the index-maintenance body to an embedding stream. The
    target is a cell-partitioned vector store in which every id occurs
    exactly once across the stream's lifetime — the corpus side of an
    IVF index, kept current trigger by trigger.

    Requires immutable embeddings per id (see the module docstring):
    idempotence is guaranteed for replayed batches (same id ⇒ same
    bytes ⇒ same cell); re-sending an id with DIFFERENT bytes is an
    upsert, out of this sink's contract, and would append a second
    row under the id's new cell."""

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        index_ingest_batch(
            batch_df, store_path, centroids, id_col, vec_col
        )

    return start_sink(stream, checkpoint_path, apply, trigger_seconds)


def probe_index(
    store: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """IVF probe over the MAINTAINED store: queries assign to their
    cell against the same fixed codebook, the store joins on its
    STORED cluster column (no corpus re-assignment — that is the
    point of maintaining the store), exact cosine rescore, per-query
    top-k with the engine's (cosine DESC, id ASC) total order.

    Reading the store with a ``cluster = <cell>`` predicate prunes to
    one partition directory per query cell; the equi-join on cluster
    keeps the scan cell-sized even for many queries."""
    from pyspark.sql import Window

    from ..operators.similarity import assign_clusters, cosine

    q = assign_clusters(queries, centroids, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.col("cluster"),
    )
    s = store.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__sv"),
        "cluster",
    )
    scored = (
        q.join(s, "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("__qv"), F.col("__sv")), 6).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)
