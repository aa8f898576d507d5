"""Event-analytics extensions: batch sessionization (gaps-and-islands)
and JSON property extraction.

Sessionization is the batch twin of ``streaming.sessionized_counts``:
a session breaks when the gap to the previous event exceeds 30 minutes.
Implemented as lag → boundary flag → running sum (the session id) →
group — two window passes over one shuffle on ``user_id``, then the
final per-session aggregate. ``event_id`` breaks timestamp ties so the
ordering (and therefore the session ids) is total and deterministic in
both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import dsum, dsum_expr
from ..io import load_table
from .registry import register

GAP_SECONDS = 1800

# ONE definition of "session" shared by every consumer (event_sessions,
# peak_concurrent_sessions): gap threshold, (ts, event_id) tie order and
# NULL-gap handling live here so the queries cannot silently diverge.
# Compare in microseconds on BOTH engines: unix_timestamp() truncates to
# whole seconds while DuckDB epoch() keeps fractions, so a gap within ~1s
# of the threshold could classify differently (events.ts is µs-precise).
_SESSION_CTE = f"""ordered AS (
        SELECT user_id, ts, event_id,
               epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN gap_us IS NULL OR gap_us > {GAP_SECONDS} * 1000000
                    THEN 1 ELSE 0 END
                   AS new_session
        FROM ordered
    ),
    sessions AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS session_id
        FROM flagged
    )"""


def session_rows(ev: DataFrame) -> DataFrame:
    """(user_id, ts, session_id): the Spark twin of ``_SESSION_CTE``."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_session",
        F.when(gap_us.isNull() | (gap_us > GAP_SECONDS * 1_000_000), 1).otherwise(0),
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return flagged.withColumn(
        "session_id", F.sum("new_session").over(run).cast("long")
    ).select("user_id", "ts", "session_id")


@register(
    "event_sessions",
    oracle=f"""
    WITH {_SESSION_CTE}
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
    survey_ref="batch sessionization: gaps-and-islands (streaming twin, engine ext)",
)
def event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    return session_rows(ev).groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
    )


@register(
    "events_json_props",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               AS total_k,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
    survey_ref="JSON scalar extraction over a string column (engine ext; S2 twin)",
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.sum(k).cast("bigint").alias("total_k"),
        F.count("*").alias("n_events"),
    )


@register(
    "events_weekly_heatmap",
    oracle=f"""
    SELECT CAST(isodow(CAST(ts AS TIMESTAMP)) AS INTEGER) AS dow,
           CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS hour_of_day,
           COUNT(*) AS n_events,
           {dsum_expr('value')} AS sum_value
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
    survey_ref="time-of-day profile: ISO day-of-week x hour activity matrix",
)
def events_weekly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap over the event stream: (ISO day-of-week, hour)
    counts and value sums — the load-profile query behind capacity
    planning dashboards. Narrow extraction + ONE bounded-key shuffle
    (≤ 7×24 groups at any scale, partial-aggregated map-side).

    Cross-engine convention trap: Spark's ``dayofweek`` is 1=Sunday
    while DuckDB's is 0=Sunday; both sides therefore use the ISO form —
    Spark ``weekday()`` (0=Monday) + 1 equals DuckDB ``isodow``
    (1=Monday) exactly.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        ev.select(
            (F.weekday("ts") + 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hour_of_day"),
            "value",
        )
        .groupBy("dow", "hour_of_day")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
    )


@register(
    "peak_concurrent_sessions",
    oracle=f"""
    WITH {_SESSION_CTE},
    intervals AS (
        SELECT user_id, session_id, MIN(ts) AS s,
               MAX(ts) + INTERVAL {GAP_SECONDS} SECOND AS e
        FROM sessions GROUP BY 1, 2
    ),
    days AS (
        SELECT s, e,
               CAST(unnest(generate_series(
                   CAST(s AS DATE), CAST(e AS DATE), INTERVAL 1 DAY))
                   AS DATE) AS day
        FROM intervals
    ),
    bounds AS (
        SELECT day, greatest(s, CAST(day AS TIMESTAMP)) AS t, 1 AS delta
        FROM days
        UNION ALL
        SELECT day, least(e, CAST(day AS TIMESTAMP) + INTERVAL 1 DAY) AS t,
               -1 AS delta
        FROM days
    ),
    running AS (
        SELECT day, delta,
               SUM(delta) OVER (
                   PARTITION BY day ORDER BY t, delta
                   ROWS UNBOUNDED PRECEDING) AS cur
        FROM bounds
    )
    SELECT day,
           CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sessions,
           CAST(MAX(cur) AS BIGINT) AS peak_concurrency
    FROM running GROUP BY 1
    """,
    survey_ref="interval sweep-line: peak concurrent sessions per day (engine ext)",
)
def peak_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak simultaneous OPEN sessions per day — the classic sweep-line
    (+1 at session start, −1 at session end, running sum, max), the
    load-planning number behind capacity dashboards. A session stays
    open ``GAP_SECONDS`` past its last event (the session-window
    semantics) and counts in every day it touches, boundaries clipped
    to the day.

    Scale shape: the naive sweep is ONE global ordered running sum —
    a single-task serialization at 100 TB. Clipping each interval to
    the days it touches makes the sweep per-day independent: the
    window partitions by ``day`` (bounded rows per partition, parallel
    across days), and no cross-day carry is needed because a session
    spanning midnight contributes a +1 at 00:00 of the later day by
    construction. Tie order (t, delta) processes ends before starts at
    equal timestamps — half-open [s, e) intervals, deterministic in
    both engines; equal-(t, delta) permutations cannot change the
    prefix-sum multiset, so MAX is stable under ROWS-frame tie
    arbitrariness.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    intervals = session_rows(ev).groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s"),
        (F.max("ts") + F.expr(f"INTERVAL {GAP_SECONDS} SECONDS")).alias("e"),
    )
    days = intervals.select(
        "s",
        "e",
        F.explode(F.sequence(F.to_date("s"), F.to_date("e"))).alias("day"),
    )
    starts = days.select(
        "day",
        F.greatest(F.col("s"), F.col("day").cast("timestamp")).alias("t"),
        F.lit(1).alias("delta"),
    )
    ends = days.select(
        "day",
        F.least(
            F.col("e"),
            F.date_add("day", 1).cast("timestamp"),
        ).alias("t"),
        F.lit(-1).alias("delta"),
    )
    bounds = starts.unionByName(ends)
    sweep = Window.partitionBy("day").orderBy("t", "delta").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    running = bounds.withColumn("cur", F.sum("delta").over(sweep))
    return running.groupBy("day").agg(
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_sessions"),
        F.max("cur").cast("long").alias("peak_concurrency"),
    )


@register(
    "events_variant_props",
    oracle="""
    SELECT event_type,
           CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) // 25
                AS BIGINT) AS k_bucket,
           COUNT(*) AS n_events,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
    GROUP BY 1, 2
    """,
    survey_ref="semi-structured VARIANT ingestion (Spark 4 native; S2/engine ext)",
)
def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of the ``props.k`` payload bucketed by 25, computed
    through Spark 4's native VARIANT type rather than per-path string
    extraction.

    Why VARIANT at 100 TB: ``get_json_object`` re-parses the JSON text
    once PER PATH per row; ``parse_json`` parses once into a binary
    semi-structured encoding, and every subsequent ``variant_get`` is a
    cheap typed probe — the schema-on-read pattern for telemetry lakes
    where the payload shape drifts and whole-corpus schema inference is
    an extra 100 TB scan nobody runs. The cast to BIGINT happens inside
    ``try_variant_get`` (type binding at access, NULL on mismatch —
    corrupt payloads degrade to NULL rather than failing the job).

    Plan shape: narrow parse + ONE bounded-key shuffle (|event_type| ×
    ~5 buckets), partial-aggregated map-side. The DuckDB oracle uses
    its JSON path functions — same values, different encoding, which is
    the point: VARIANT is an execution-strategy choice, not a
    semantics change.

    Bucket semantics: ``(k / 25).cast('bigint')`` truncates toward
    zero, and so does the oracle's DuckDB integer ``//`` (measured:
    ``-3 // 25 = 0``) — the engines agree for ALL signs of ``k``, not
    just the fixture's 0-99 range. Do not "fix" this to ``F.floor``;
    that would diverge from the oracle on negative payloads. Pinned by
    ``tests/test_sql_surfaces.py::
    test_variant_bucket_truncation_matches_duckdb_for_all_signs``.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "props")
    v = ev.select("event_type", F.parse_json("props").alias("v"))
    k = F.try_variant_get("v", "$.k", "bigint")
    return (
        v.select("event_type", k.alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy(
            "event_type",
            (F.col("k") / F.lit(25)).cast("bigint").alias("k_bucket"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "event_sessions_udtf",
    oracle=f"""
    WITH {_SESSION_CTE}
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
    survey_ref="custom table-in/table-out operator: Python UDTF over TABLE PARTITION BY (engine ext)",
)
def event_sessions_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`event_sessions` computed by a Python UDTF over
    ``TABLE(events) PARTITION BY user_id ORDER BY ts, event_id`` — the
    Spark-4 custom table-function surface, hash-checked against the
    SAME oracle as the native window form.

    Why this exists next to the window implementation: the window form
    is the scale default (codegen'd, two passes over one shuffle), but
    it can only express rules that fit lag/running-sum algebra. The
    UDTF is the escape hatch for per-group ORDERED logic that doesn't —
    dynamic gap thresholds, per-session early-exit, multi-state
    machines — while keeping Spark's distribution: the engine shuffles
    on the PARTITION BY key, feeds each group in ORDER BY order to a
    fresh UDTF instance (per-partition state isolation is the
    contract), and ``terminate()`` flushes the open session at group
    end. Sessions aggregate INSIDE the iterator, so the operator emits
    |sessions| rows, never |events|.

    Determinism: the 30-minute boundary compares exact ``timedelta``
    microseconds (no float), and (ts, event_id) total order matches
    ``_SESSION_CTE``. Python-side per-row iteration is the cost —
    prefer the window form when the rule allows. The Arrow-batched
    UDTF exchange (``spark.sql.execution.pythonUDTF.arrow.enabled``)
    was MEASURED and rejected for this operator: 12.7-13.3 s vs
    2.3-2.7 s warm at sf0.1 (~5× slower, interleaved runs, identical
    95,465-row result). Arrow wins when eval is vectorizable per
    batch; this UDTF is a per-row state machine yielding ~one row per
    session, so the per-batch pandas wrap/unwrap only adds overhead to
    work that stays row-at-a-time either way. Keep the default
    (pickle) exchange."""
    import datetime

    from pyspark.sql.functions import udtf

    gap = datetime.timedelta(seconds=GAP_SECONDS)

    @udtf(returnType=(
        "user_id bigint, session_id bigint, session_start timestamp, "
        "session_end timestamp, n_events bigint"
    ))
    class Sessionize:
        def __init__(self):
            self.user = None
            self.sid = 0
            self.start = None
            self.end = None
            self.n = 0

        def _flush(self):
            return (self.user, self.sid, self.start, self.end, self.n)

        def eval(self, row):
            if self.n and row.ts - self.end > gap:
                yield self._flush()
                self.n = 0
            if not self.n:
                self.sid += 1
                self.start = row.ts
            self.user, self.end, self.n = row.user_id, row.ts, self.n + 1

        def terminate(self):
            if self.n:
                yield self._flush()

    spark.udtf.register("sessionize_events", Sessionize)
    # The UDTF's PARTITION BY alone plans a REPARTITION_BY_COL exchange,
    # which AQE coalesces BY BYTES; a row-at-a-time Python state
    # machine's cost is per ROW, so the small shuffle coalesced to 2-3
    # partitions and serialized the Python work (measured 2.6 → 1.5 s
    # at sf0.1 on local[32] once coalescing was off). An explicit-width
    # repartition is REPARTITION_BY_NUM, which AQE never coalesces. At
    # the session's shuffle width its hash partitioning on user_id
    # already satisfies the PARTITION BY (the analyzer's
    # ``user_id AS partition_by_0`` projects it through), so
    # EnsureRequirements drops the UDTF's own exchange and ONE
    # full-width shuffle feeds the UDTF. At any other width both
    # exchanges stay and the upper one coalesces again.
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    view = "events_for_udtf_sessions"
    load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    ).repartition(width, "user_id").createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT * FROM sessionize_events(
            TABLE({view}) PARTITION BY user_id ORDER BY (ts, event_id)
        )
        """
    )
