"""Streaming token-shard export — the terminal materialization driven
by Structured Streaming.

The batch-mode form (``analytics/mixing.append_token_shard_batch``)
appends one document batch to a token-bounded shard set; production
runs it continuously: document files land, each micro-batch is
assigned shard ids starting at the ledger's global token offset and
its files are appended under the batch's own partition leaves, so the
corpus's training shards grow as the corpus does — without ever
rewriting a closed shard. ``foreachBatch`` is the right seam, exactly
as for the near-dup ingestion loop (``streaming/neardup.py``): the
shard append is a keyed, replay-idempotent mutation of a maintained
store.

Exactly-once shape, every leg, inherited from the append's durability
protocol: the epoch id IS the batch_seq (Structured Streaming retries
an epoch under the SAME id), so a replayed committed epoch is a ledger
no-op, and a retry after a mid-write crash self-heals by wiping only
the epoch's own ``batch_seq=<epoch>`` leaves before rewriting — files
from earlier epochs are never candidates. The ledger row is written
last (the commit marker). One micro-batch per input file
(``maxFilesPerTrigger=1``) keeps cross-epoch shard filling honest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..analytics.mixing import (
    SHARD_BUDGET,
    append_token_shard_batch,
    shard_store_paths,
)
from ..io.maintenance import read_committed, store_exists
from .events import drain_available_now, stream_events

DOC_SCHEMA = "doc_id long, text string"
_SHARD_SCHEMA = (
    "doc_id long, text string, n_tokens bigint, shard_id bigint, "
    "batch_seq int"
)


def stream_shard_export(
    spark: SparkSession,
    source_dir: str,
    root: str,
    checkpoint_dir: str,
    budget: int = SHARD_BUDGET,
) -> DataFrame:
    """Drain all pending document files into the shard store
    (Trigger.AvailableNow) and return the exported shard rows.

    Each micro-batch runs :func:`append_token_shard_batch` with the
    epoch id as the batch sequence: the epoch's docs fill the last
    partial shard from the ledger's running token offset, then open
    new shards — docs exported by an EARLIER micro-batch are never
    rewritten, which is the closed-shard stability property the
    batch-mode tests checksum.
    """

    def export(batch_df: DataFrame, epoch_id: int) -> None:
        # no empty-epoch guard: append_token_shard_batch commits an
        # empty epoch as a (batch_seq, 0, 0) ledger row with no shard
        # files, so the ledger records every drained epoch uniformly
        append_token_shard_batch(
            spark,
            batch_df.select("doc_id", "text"),
            root,
            int(epoch_id),
            budget=budget,
        )

    drain_available_now(
        stream_events(
            spark, source_dir, schema=DOC_SCHEMA, max_files_per_trigger=1
        ),
        export,
        checkpoint_dir=checkpoint_dir,
    )
    shards_path, ledger_path = shard_store_paths(root)
    # Hadoop-FS probe: os.path.isdir is always false on HDFS/S3A
    if not store_exists(spark, shards_path):
        # nothing pending is a normal state for a continuous exporter
        return spark.createDataFrame([], _SHARD_SCHEMA)
    # committed-read isolation: a prior crashed drain's orphan leaves
    # (epoch files without their ledger row) stay invisible
    return read_committed(spark, shards_path, ledger_path)
