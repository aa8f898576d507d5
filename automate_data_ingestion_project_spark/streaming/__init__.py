"""Structured Streaming surface: the events stream plus the streaming
near-dup ingestion loop."""

from .neardup import stream_neardup_ingest
from .events import (
    KEYED_EVENT_SCHEMA,
    deduped_events,
    run_available_now,
    sessionized_counts,
    stream_events,
    stream_upsert,
    user_running_totals,
    windowed_event_counts,
)

__all__ = [
    "KEYED_EVENT_SCHEMA",
    "deduped_events",
    "run_available_now",
    "sessionized_counts",
    "stream_events",
    "stream_neardup_ingest",
    "stream_upsert",
    "user_running_totals",
    "windowed_event_counts",
]
