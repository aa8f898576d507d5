"""Streaming IVF index maintenance — the incremental ANN ingest driven
by Structured Streaming.

The batch-mode form (``analytics/ivf.append_ivf_batch``) appends one
vector batch to the cell-partitioned IVF store against a frozen
codebook; production runs it continuously: embedding files land (a
crawl's encoder output), each micro-batch's vectors are
coarse-quantized and appended under the epoch's own partition leaves,
so the index grows as the corpus does — without re-quantizing anything
already indexed. ``foreachBatch`` is the seam, exactly as for the
near-dup ingestion loop (``streaming/neardup.py``) and the shard
export (``streaming/shards.py``): the append is a keyed,
replay-idempotent mutation of a maintained store.

Exactly-once shape inherited from the append's durability protocol:
the epoch id IS the batch_seq (Structured Streaming retries an epoch
under the SAME id), so a replayed committed epoch is a ledger no-op,
and a retry after a mid-write crash self-heals by wiping only the
epoch's own ``batch_seq=<epoch>`` leaves before rewriting. The ledger
row is written last (the commit marker); an empty epoch commits a
``(epoch, 0)`` row and writes no files. Because assignment is a pure
function of (vector, frozen codebook), epochs are independent — the
streaming drain needs no ordering guarantee at all, the property that
distinguishes this store from the token-shard exporter's offset chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..analytics.ivf import append_ivf_batch, ivf_store_paths
from ..io.maintenance import read_committed, store_exists
from .events import drain_available_now, stream_events

VEC_SCHEMA = "vec_id long, embedding array<float>"
_STORE_SCHEMA = (
    "vec_id long, embedding array<float>, nrm double, cell int, "
    "batch_seq int"
)


def stream_ivf_ingest(
    spark: SparkSession,
    source_dir: str,
    centroids: DataFrame,
    root: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Drain all pending embedding files into the IVF store
    (Trigger.AvailableNow) and return the stored vector rows.

    Each micro-batch runs :func:`..analytics.ivf.append_ivf_batch`
    with the epoch id as the batch sequence: the epoch's vectors are
    assigned to their frozen-codebook cells and appended under the
    epoch's own leaves — vectors indexed by an earlier micro-batch are
    never rewritten, and searches over the growing store keep their
    partition-pruned candidate scans.
    """

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        # no empty-epoch guard: append_ivf_batch commits an empty epoch
        # as a (batch_seq, 0) ledger row with no vector files
        append_ivf_batch(
            spark,
            batch_df.select("vec_id", "embedding"),
            centroids,
            root,
            int(epoch_id),
        )

    drain_available_now(
        stream_events(
            spark, source_dir, schema=VEC_SCHEMA, max_files_per_trigger=1
        ),
        ingest,
        checkpoint_dir=checkpoint_dir,
    )
    vectors_path, ledger_path = ivf_store_paths(root)
    # existence probe via the Hadoop FileSystem API (os.path.isdir is
    # always false on HDFS/S3A — the filesystems this store targets)
    if not store_exists(spark, vectors_path):
        # nothing pending is a normal state for a continuous indexer
        return spark.createDataFrame([], _STORE_SCHEMA)
    # committed-read isolation: a prior crashed drain's orphan epoch
    # leaves stay invisible
    return read_committed(spark, vectors_path, ledger_path)


def stream_ivfpq_ingest(
    spark: SparkSession,
    source_dir: str,
    centroids: DataFrame,
    codebook_subs: DataFrame,
    root: str,
    checkpoint_dir: str,
) -> DataFrame:
    """The IVF-PQ form of :func:`stream_ivf_ingest`: drain pending
    embedding files into the codes-only IVF-PQ store
    (``analytics/pq.append_ivfpq_batch``), epoch id as batch sequence.
    Same exactly-once shape — both quantizers are frozen, so epochs are
    independent and a replayed committed epoch is a ledger no-op.
    Returns the stored code rows."""
    from ..analytics.pq import append_ivfpq_batch, ivfpq_store_paths

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        append_ivfpq_batch(
            spark,
            batch_df.select("vec_id", "embedding"),
            centroids,
            codebook_subs,
            root,
            int(epoch_id),
        )

    drain_available_now(
        stream_events(
            spark, source_dir, schema=VEC_SCHEMA, max_files_per_trigger=1
        ),
        ingest,
        checkpoint_dir=checkpoint_dir,
    )
    codes_path, ledger_path = ivfpq_store_paths(root)
    if not store_exists(spark, codes_path):
        return spark.createDataFrame(
            [], "vec_id long, codes array<int>, cell int, batch_seq int"
        )
    return read_committed(spark, codes_path, ledger_path)
