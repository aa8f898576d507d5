"""Streaming near-duplicate ingestion — the NearDupIndex loop driven
by Structured Streaming.

The batch-mode loop (``textops/neardup_index.NearDupIndex``) is probe →
verify → append-accepted; production runs it continuously: document
files land, each micro-batch is filtered against the corpus index and
the accepted documents' bands/shingles are appended so the NEXT
micro-batch sees them. ``foreachBatch`` is the right seam — the index
mutation (a keyed, replay-idempotent append) is exactly the
"merge into a table per epoch" pattern Structured Streaming reserves
foreachBatch for, and the decision table is appended per epoch so the
stream's output is an auditable ingestion ledger.

Exactly-once shape, every leg: the index append is replay-idempotent
(``ingest_batch``'s id guard drops already-indexed docs), the DECISIONS
are replay-stable (the probe excludes the batch's own ids from the
probed snapshot, so a replayed epoch — whose docs the earlier attempt
already appended — reproduces its original rows instead of flagging
every doc as its own near-dup), and the ledger write is an overwrite
of the epoch's own partition directory, so a replay replaces identical
rows rather than appending contradictory duplicates — together the
same argument ``stream_upsert`` makes with its keyed merge. One
micro-batch per input file (``maxFilesPerTrigger=1``) keeps
cross-batch detection honest in replays; at 100 TB/day the index lives
in a bucketed table (``NearDupIndex.build(bucket_bands=...)``) so the
probe join never reshuffles it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..io.maintenance import store_exists
from ..textops.neardup_index import NearDupIndex
from .events import drain_available_now, stream_events

DOC_SCHEMA = "doc_id long, text string"
# decision columns + the epoch partition column the ledger dirs encode
_LEDGER_SCHEMA = (
    "batch_id long, n_candidates bigint, n_verified_dups bigint, "
    "is_near_dup boolean, epoch_id int"
)


def stream_neardup_ingest(
    spark: SparkSession,
    source_dir: str,
    index: NearDupIndex,
    decisions_path: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Drain all pending document files through the ingestion loop
    (Trigger.AvailableNow) and return the decision ledger.

    Each micro-batch runs ``index.ingest_batch`` (probe the corpus
    index, verify candidates with exact Jaccard, append accepted docs'
    bands/shingles) and appends the epoch-stamped decision table to
    ``decisions_path`` — near-dups of documents accepted in an EARLIER
    micro-batch are rejected, which is the cross-batch property the
    ledger proves.
    """

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.take(1):
            return
        decisions = index.ingest_batch(batch_df.select("doc_id", "text"))
        # idempotent ledger commit: the epoch owns its partition dir, so
        # an at-least-once replay overwrites identical rows (decisions
        # are replay-stable) instead of appending duplicates
        decisions.write.mode("overwrite").parquet(
            os.path.join(decisions_path, f"epoch_id={epoch_id}")
        )

    drain_available_now(
        stream_events(
            spark, source_dir, schema=DOC_SCHEMA, max_files_per_trigger=1
        ),
        ingest,
        checkpoint_dir=checkpoint_dir,
    )
    # Hadoop-FS probe: os.path.isdir is always false on HDFS/S3A
    if not store_exists(spark, decisions_path):
        # nothing pending is a normal state for a continuous loop — an
        # empty ledger, not a read error on a never-created directory
        return spark.createDataFrame([], _LEDGER_SCHEMA)
    return spark.read.parquet(decisions_path)
