"""Structured Streaming CORRECTNESS query.

The reference is pure batch (SURVEY.md §2.13) — streaming is part of the
engine's extension surface (streaming/events.py). This registers the
windowed-count stream as a driver-checked query with a FULL value-hash
oracle, exploiting the Dataset-API guarantee that a replayed stream
(``Trigger.AvailableNow``, complete mode) must equal the batch
computation over the same files:

1. the events fixture is materialized into a multi-file scratch source
   (micro-batch replay units);
2. ``readStream`` → watermark → tumbling 1-hour window counts per
   event_type → memory sink, run to completion;
3. the sink table is returned as a plain DataFrame, hash-matched against
   DuckDB's ``date_trunc('hour')`` batch aggregation.

A 1-hour tumbling window starting at the epoch is exactly
``date_trunc('hour', ts)``, so the oracle needs no window arithmetic.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..io import load_table
from ..streaming import (
    run_available_now,
    sessionized_counts,
    stream_events,
    windowed_event_counts,
)
from .load import scratch_dir
from .registry import register


def _cached_source(spark: SparkSession, sf_dir: str, name, build) -> str:
    """Build-once streaming SOURCE directory keyed by the events
    fixture's content fingerprint (same protocol as the near-dup
    corpus index). The replay harness used to rewrite its multi-file
    scratch source on every run — 1-2 s per query that a production
    deployment never pays, because the source is the landing zone that
    already exists. The replay's per-run state (checkpoint, memory
    sink) stays fresh per call; only the INPUT is cached.

    Micro-batch order safety: FileStreamSource orders files by
    modification time, ``build(tmp)`` writes the planted later-batch
    files second (later mtime), and the atomic ``os.rename`` publish
    preserves mtimes — so cached and freshly-built sources replay in
    the same batch order.
    """
    from ..io.artifacts import fixture_artifact

    root = fixture_artifact(sf_dir, f"stream_src/{name}", ("events",), build)
    return os.path.join(root, "events")


def _base_events_source(spark: SparkSession, sf_dir: str) -> str:
    """The shared plain source: ts/event_type/user_id in 2 files (≥2 so
    AvailableNow actually replays multiple units)."""

    def _build(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "ts", "event_type", "user_id"
        )
        ev.repartition(2).write.mode("overwrite").parquet(
            os.path.join(tmp, "events")
        )

    return _cached_source(spark, sf_dir, "base", _build)


@register(
    "stream_windowed_counts",
    oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
    survey_ref="streaming extension (windowed agg + watermark; batch-equivalent)",
)
def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _base_events_source(spark, sf_dir)

    stream = windowed_event_counts(stream_events(spark, src))
    name = f"swc_{uuid.uuid4().hex[:8]}"
    return run_available_now(stream, name, output_mode="complete")


@register(
    "stream_session_counts",
    oracle="""
    WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events
    ),
    ordered AS (
        SELECT user_id, ts,
               epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
        FROM ev
    ),
    flagged AS (
        SELECT user_id, ts,
               CASE WHEN gap_us IS NULL OR gap_us >= 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM ordered
    ),
    sessions AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING
               ) AS session_id
        FROM flagged
    )
    SELECT MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
    survey_ref="streaming extension (session windows + watermark; batch-equivalent)",
)
def stream_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user gap-based session windows through a REAL stream replay.

    ``session_window(ts, '30 minutes')`` merges events while each
    arrives within the gap of the session's end (end = last event +
    gap); the oracle recomputes the identical semantics with a µs-
    precision gaps-and-islands window (a new session starts when the
    gap is >= 30 min — Spark's merge condition is strictly-less-than).
    """
    src = _base_events_source(spark, sf_dir)

    stream = sessionized_counts(stream_events(spark, src), gap="30 minutes")
    name = f"ssc_{uuid.uuid4().hex[:8]}"
    return run_available_now(stream, name, output_mode="complete")


@register(
    "stream_dedup_events",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, user_id
    FROM events
    """,
    survey_ref="streaming extension (watermarked exactly-once dedup on delivery key)",
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion dedup through a real replay with PLANTED
    redelivery: the source directory gets the full events table plus a
    second file re-delivering every 3rd event, and the watermarked
    ``dropDuplicatesWithinWatermark`` stream must reduce it back to
    exactly the batch table (the at-least-once → exactly-once front
    door every streaming ingestion needs).

    The redelivered file is written second (a later micro-batch in the
    AvailableNow replay), so suppression crosses the batch boundary
    through the state store, not just within one batch. Watermark delay
    (90 days) exceeds the fixture's 30-day span so no replayed row is
    ever late; production sets it to the delivery layer's actual
    redelivery SLA, which is what bounds state at 100 TB/day.
    """
    from pyspark.sql import functions as F

    from ..streaming import KEYED_EVENT_SCHEMA, deduped_events

    def _build(tmp: str) -> None:
        src = os.path.join(tmp, "events")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "user_id"
        )
        ev.repartition(2).write.mode("overwrite").parquet(src)
        # planted redelivery: every 3rd event arrives a second time,
        # later. repartition(1), not coalesce(1): coalesce propagates
        # the 1-task constraint UP the plan (the whole filter scan would
        # run single-threaded); repartition inserts a shuffle boundary
        # so the scan stays parallel and only the write is one file
        # (= one micro-batch)
        ev.filter(F.col("event_id") % 3 == 0).repartition(1).write.mode(
            "append"
        ).parquet(src)

    src = _cached_source(spark, sf_dir, "dedup_redelivery", _build)

    # one file per micro-batch, so the redelivered file really is a LATER
    # batch and suppression must cross the batch boundary through the
    # state store (AvailableNow would otherwise drain all files in one
    # batch and only exercise within-batch dedup)
    stream = deduped_events(
        stream_events(
            spark, src, schema=KEYED_EVENT_SCHEMA, max_files_per_trigger=1
        ),
        watermark="90 days",
    )
    name = f"sde_{uuid.uuid4().hex[:8]}"
    root = scratch_dir("stream_dedup_events_ckpt")
    return run_available_now(
        stream, name, output_mode="append",
        checkpoint_dir=os.path.join(root, "ckpt"),
    )


@register(
    "stream_stateful_totals",
    oracle="""
    SELECT user_id, COUNT(*) AS total_events
    FROM events
    GROUP BY user_id
    """,
    survey_ref="streaming extension (applyInPandasWithState custom stateful op)",
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator through a real stream replay.

    ``applyInPandasWithState`` accumulates per-user totals in the state
    store across micro-batches (update mode emits one row per touched
    user per batch; totals only grow, so max(emission) = final total).
    The oracle is the plain batch count — state accumulation across
    replayed batches must converge to it exactly.
    """
    from pyspark.sql import functions as F

    from ..streaming import user_running_totals

    root = scratch_dir("stream_stateful_totals")
    src = _base_events_source(spark, sf_dir)

    stream = user_running_totals(stream_events(spark, src))
    name = f"sst_{uuid.uuid4().hex[:8]}"
    got = run_available_now(
        stream, name, output_mode="update",
        checkpoint_dir=os.path.join(root, "ckpt"),
    )
    return got.groupBy("user_id").agg(F.max("total_events").alias("total_events"))


@register(
    "stream_stream_join",
    oracle="""
    SELECT v.user_id,
           v.event_id AS view_id,
           CAST(v.ts AS TIMESTAMP) AS view_ts,
           c.event_id AS click_id,
           CAST(c.ts AS TIMESTAMP) AS click_ts
    FROM events v
    JOIN events c
      ON v.user_id = c.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 60 MINUTE
    """,
    survey_ref="streaming extension (stream-stream interval join w/ watermarks)",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution via a REAL stream-stream inner join: the view stream
    joins the click stream on user within a 60-minute event-time bound,
    both sides watermarked — the canonical two-unbounded-inputs shape
    (ad impressions ⋈ clicks) that batch engines fake with a windowed
    self-join.

    Why this is its own operator: a stream-stream join buffers BOTH
    sides in the state store, and the watermark + the time-bound join
    condition are what let Spark evict state (a view older than
    watermark − 60 min can never match a future click). Without the
    interval bound the state grows without limit — the join condition
    IS the retention policy at 100 TB/day. Replay uses
    Trigger.AvailableNow + append mode (the only mode stream-stream
    inner joins support); the result must equal the batch interval
    join, which is the oracle.
    """
    from pyspark.sql import functions as F

    def _build(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "user_id"
        )
        ev.filter(F.col("event_type") == "view").repartition(2).write.mode(
            "overwrite"
        ).parquet(os.path.join(tmp, "events", "views"))
        ev.filter(F.col("event_type") == "click").repartition(2).write.mode(
            "overwrite"
        ).parquet(os.path.join(tmp, "events", "clicks"))

    base = _cached_source(spark, sf_dir, "view_click_split", _build)
    vsrc, csrc = os.path.join(base, "views"), os.path.join(base, "clicks")

    schema = "event_id long, ts timestamp, event_type string, user_id long"
    # one file per trigger: each side has 2 files, so matches MUST form
    # across micro-batches through the join's buffered state (a click
    # arriving in batch 3 joining a view buffered since batch 1) — the
    # whole point of a stream-stream join; a single drained batch would
    # only exercise within-batch matching
    views = (
        stream_events(spark, vsrc, schema=schema, max_files_per_trigger=1)
        .select(
            F.col("user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "90 days")
    )
    clicks = (
        stream_events(spark, csrc, schema=schema, max_files_per_trigger=1)
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "90 days")
    )
    joined = views.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 60 MINUTES")),
    ).select("user_id", "view_id", "view_ts", "click_id", "click_ts")

    name = f"ssj_{uuid.uuid4().hex[:8]}"
    root = scratch_dir("stream_stream_join_ckpt")
    return run_available_now(
        joined,
        name,
        output_mode="append",
        checkpoint_dir=os.path.join(root, "ckpt"),
    )


@register(
    "stream_upsert_foreachbatch",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, user_id
    FROM events WHERE event_id % 5 <> 0
    UNION ALL
    SELECT event_id, CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS ts,
           'corrected' AS event_type, user_id
    FROM events WHERE event_id % 5 = 0
    """,
    survey_ref="streaming extension (foreachBatch -> keyed upsert sink, last-writer-wins)",
)
def stream_upsert_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC-style ingestion into a KEYED TABLE: readStream →
    ``foreachBatch`` → the engine's transactional upsert sink
    (:func:`..streaming.stream_upsert` over
    :func:`..io.sink.upsert_parquet`), proven by replay with planted
    CORRECTIONS — a later micro-batch re-delivers every 5th event with
    changed values, and the final table must hold last-writer-wins per
    key (the oracle states it exactly).

    Why this is its own operator: the other streaming queries end in a
    memory/append sink; real pipelines land in a keyed table, and
    ``foreachBatch`` is Spark's bridge from exactly-once micro-batches
    to MERGE semantics — the checkpoint guarantees each batch is
    applied at least once, and the upsert's key-idempotency turns that
    into effectively-once (a replayed batch rewrites the same rows).
    At 100 TB the sink is a partitioned parquet table, so each batch's
    upsert rewrites only the partitions it hits (the
    ``incremental_daily_rollup`` path); the loop shape is identical.
    """
    from pyspark.sql import functions as F

    from ..streaming import KEYED_EVENT_SCHEMA, stream_upsert

    def _build(tmp: str) -> None:
        src = os.path.join(tmp, "events")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "user_id"
        )
        ev.repartition(2).write.mode("overwrite").parquet(src)
        # corrections arrive LAST (later mtime => later micro-batch):
        # same keys, mutated payload — the upsert must replace, and the
        # replacement must win over the base rows from earlier batches
        corr = ev.filter(F.col("event_id") % 5 == 0).select(
            "event_id",
            (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
            F.lit("corrected").alias("event_type"),
            "user_id",
        )
        corr.repartition(1).write.mode("append").parquet(src)

    src = _cached_source(spark, sf_dir, "upsert_corrections", _build)
    root = scratch_dir("stream_upsert_fb")
    target = os.path.join(root, "target")
    stream_upsert(
        stream_events(
            spark, src, schema=KEYED_EVENT_SCHEMA, max_files_per_trigger=1
        ),
        target,
        ["event_id"],
        os.path.join(root, "ckpt"),
    )
    return spark.read.parquet(target)


@register(
    "stream_late_data_drop",
    oracle="""
    WITH m AS (
        SELECT MAX(CAST(ts AS TIMESTAMP)) - INTERVAL 61 MINUTE AS wm
        FROM events
    ),
    agg AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
               event_type, COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events
    FROM agg, m
    WHERE window_start + INTERVAL 1 HOUR <= m.wm
    """,
    survey_ref="streaming extension (watermark late-data DROP, finalized-window append)",
)
def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermark actually DROPPING late data, proven by replay: the
    source delivers the full events table, then a LATER micro-batch
    delivers one PLANTED event 10 days older than everything — far
    behind the 61-minute watermark, whose window state was already
    evicted. Append-mode windowed counts must therefore equal the
    batch aggregation (a) WITHOUT the late event and (b) restricted to
    windows FINALIZED by the final watermark (window_end <= max_ts −
    61 min) — both mirrored exactly by the oracle. The other streaming
    queries run watermarks longer than the fixture's span, so nothing
    ever drops; this one pins the eviction path, which is what bounds
    state at 100 TB/day (the delay is the lateness SLA; anything
    later is, by contract, discarded).

    The 61-minute delay (not 60) keeps the watermark off exact window
    boundaries, so the <=/< emission edge cannot be fixture-sensitive.
    """
    from pyspark.sql import functions as F

    def _build(tmp: str) -> None:
        src = os.path.join(tmp, "events")
        ev = load_table(spark, sf_dir, "events").select(
            "ts", "event_type", "user_id"
        )
        ev.repartition(2).write.mode("overwrite").parquet(src)
        late = (
            spark.createDataFrame(
                [("click", 1)], "event_type string, user_id long"
            )
            .crossJoin(
                ev.agg((F.min("ts") - F.expr("INTERVAL 10 DAYS")).alias("ts"))
            )
            .select("ts", "event_type", "user_id")
        )
        # written second => a LATER micro-batch (one file per trigger
        # below): the watermark has already advanced past this event's
        # window. repartition(1), not coalesce(1): coalesce would
        # collapse the upstream min(ts) aggregate's SCAN into one task
        # (measured 5.5 s of this query's 9.2 s); the shuffle boundary
        # keeps it parallel.
        late.repartition(1).write.mode("append").parquet(src)

    src = _cached_source(spark, sf_dir, "late_planted", _build)

    stream = (
        stream_events(spark, src, max_files_per_trigger=1)
        .withWatermark("ts", "61 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    name = f"sld_{uuid.uuid4().hex[:8]}"
    root = scratch_dir("stream_late_data_drop_ckpt")
    return run_available_now(
        stream,
        name,
        output_mode="append",
        checkpoint_dir=os.path.join(root, "ckpt"),
    )
