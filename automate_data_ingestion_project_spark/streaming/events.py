"""Structured Streaming over the events table shape
(``ts timestamp, event_type string, user_id long``).

The reference is pure batch (SURVEY.md §2.13: no streams) — its
"incremental" behavior is the keyed upsert. A complete engine also
ships the streaming versions of its aggregations:

- file-source ``readStream`` (at scale: Kafka — same DataFrame code);
- event-time windowed counts with a WATERMARK so state for
  late-beyond-bound windows is dropped (bounded state at 100 TB/day);
- session windows (``session_window`` gap-based grouping);
- a custom stateful operator via ``applyInPandasWithState`` — running
  per-user totals, the template for anything the built-in windows
  can't express.

Every transformation is identical batch/streaming DataFrame code —
tests replay the streams with ``Trigger.AvailableNow`` and assert the
result EQUALS the batch computation on the same files.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..io.maintenance import session_conf_scope

EVENT_SCHEMA = "ts timestamp, event_type string, user_id bigint"
# keyed variant: the delivery key rides along for streaming dedup
KEYED_EVENT_SCHEMA = f"event_id bigint, {EVENT_SCHEMA}"


def stream_events(
    spark: SparkSession,
    source_dir: str,
    fmt: str = "parquet",
    schema: str = EVENT_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source event stream. Without ``max_files_per_trigger``,
    Trigger.AvailableNow drains ALL pending files in one micro-batch —
    set it to 1 when a test's point is behavior ACROSS batch boundaries
    (state-store suppression, watermark advancement)."""
    reader = spark.readStream.schema(schema).format(fmt).option("path", source_dir)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load()


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling event-time counts per (window, event_type).

    The watermark bounds state: windows older than (max event time −
    watermark) finalize and evict. Late rows inside the bound still
    update their window (the correctness half of watermarking)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def sessionized_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows: a session extends while events arrive
    within ``gap`` of the previous one."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def deduped_events(events: DataFrame, watermark: str = "30 days") -> DataFrame:
    """Streaming exactly-once dedup on ``event_id`` — the ingestion
    front-door for at-least-once delivery (Kafka redelivery, file
    re-drops): each key is emitted the first time it is seen and
    suppressed afterwards.

    ``dropDuplicatesWithinWatermark`` bounds the key state: a key's
    dedup record is evicted once the watermark passes its event time +
    delay, so state is O(events per watermark window), not O(stream
    lifetime). The delay is therefore the redelivery bound the deployment
    guarantees — here it is set wider than the whole fixture's time span
    so the replayed stream dedups completely and equals batch DISTINCT
    (the batch-equivalence harness); production sets it to its actual
    redelivery SLA.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running event totals via
    ``applyInPandasWithState`` (the escape hatch when built-in windows
    can't express the semantics — per-key state lives in the state
    store, one Arrow batch per key per micro-batch)."""

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        n = sum(len(pdf) for pdf in pdfs)
        total = (state.get[0] if state.exists else 0) + n
        state.update((total,))
        yield pd.DataFrame({"user_id": [user_id], "total_events": [total]})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, total_events bigint",
        stateStructType="total bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# Shuffle width of every micro-batch drain (and of the batch ingest
# replays that mirror them). Stateful operators allocate ONE state
# store per shuffle partition per micro-batch, each with its own
# checkpoint commit, and AQE cannot coalesce a stateful exchange
# because the partitioning is frozen into the checkpoint: a default-200
# session spent ~3x the query's own wall-clock on commits of kilobytes
# of state. Stateless foreachBatch bodies shuffle batch-sized relations
# and pay the same per-task overhead. The width never changes a result
# (keyed state and keyed merges are deterministic per key), only where
# state lives; a checkpoint that already exists keeps the width
# recorded in its offset log, which Spark restores on restart.
DRAIN_SHUFFLE_PARTITIONS = 8


def drain_available_now(
    stream_df: DataFrame,
    sink: str | Callable[[DataFrame, int], None],
    output_mode: str = "append",
    checkpoint_dir: str | None = None,
) -> None:
    """Run ``stream_df`` over all available input (Trigger.AvailableNow)
    and return when the query terminates; an error in a micro-batch
    raises here. ``sink`` is a ``foreachBatch`` function or the name of
    a memory table. ``spark.sql.shuffle.partitions`` is pinned to
    :data:`DRAIN_SHUFFLE_PARTITIONS` for the run and restored after."""
    writer = stream_df.writeStream.outputMode(output_mode)
    if callable(sink):
        writer = writer.foreachBatch(sink)
    else:
        writer = writer.format("memory").queryName(sink)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    with session_conf_scope(
        stream_df.sparkSession,
        "spark.sql.shuffle.partitions",
        DRAIN_SHUFFLE_PARTITIONS,
    ):
        q = writer.trigger(availableNow=True).start()
        try:
            q.awaitTermination()
        finally:
            q.stop()


def stream_upsert(
    events: DataFrame,
    path: str,
    keys: list[str],
    checkpoint_dir: str,
) -> None:
    """Incremental keyed upsert from a stream (``foreachBatch``) — the
    streaming edition of the reference's ``INSERT OR REPLACE`` load:
    each micro-batch merges into the parquet target by key, so replays
    and at-least-once delivery stay idempotent (the batch epoch id +
    keyed merge give effective exactly-once table contents)."""
    from ..io.sink import upsert_parquet

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        upsert_parquet(batch_df.sparkSession, batch_df, path, keys=keys)

    drain_available_now(events, merge, checkpoint_dir=checkpoint_dir)


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Replay all available input into a memory sink and return the
    result table — the batch-equivalence harness."""
    drain_available_now(stream_df, query_name, output_mode, checkpoint_dir)
    return stream_df.sparkSession.table(query_name)
