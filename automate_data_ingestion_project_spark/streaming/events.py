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

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

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

    q = (
        events.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    checkpoint_dir: str | None = None,
    shuffle_partitions: int | None = 8,
) -> DataFrame:
    """Replay all available input (Trigger.AvailableNow) into a memory
    sink and return the result table — the batch-equivalence harness.

    ``shuffle_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    duration of the run (restored after). Stateful operators allocate
    ONE state store per shuffle partition per micro-batch, each with its
    own checkpoint commit, and — unlike batch shuffles — AQE cannot
    coalesce a stateful exchange because the partitioning is frozen into
    the checkpoint. Sizing this to the state volume is therefore a real
    streaming-deployment knob, not a test shortcut: a default-200
    session spends 200 file-commit round-trips per stateful op per
    micro-batch on kilobytes of state (measured ~3× the wall-clock of
    the query itself on the replay harness), while at 100 TB/day the
    same setting is raised so each store's state fits executor memory.
    Partitioning never affects the RESULT (hash-partitioned keyed state
    is deterministic per key), only where state lives. Pass ``None`` to
    leave the session setting untouched.
    """
    spark = stream_df.sparkSession
    conf_key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(conf_key)
    if shuffle_partitions is not None:
        spark.conf.set(conf_key, str(shuffle_partitions))
    try:
        writer = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
        )
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        q = writer.start()
        q.awaitTermination()
    finally:
        if shuffle_partitions is not None:
            spark.conf.set(conf_key, prior)
    return spark.table(query_name)
