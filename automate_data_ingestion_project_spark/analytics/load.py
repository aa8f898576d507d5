"""Load-layer CORRECTNESS queries — the keyed idempotent upsert (L1/L4).

The scenario of FIXTURES.md §6, registered as a driver-checked query:

1. batch1 = the normalized DV3F fixture (7 rows, PK ``uid``);
2. batch2 = the ``dep='01'`` rows with a changed metric and one column
   MISSING (``sbati_median`` — exercising BY NAME reconciliation), plus
   one brand-new row;
3. upsert batch1, then batch2, then batch2 AGAIN (idempotence);
4. return the final table.

Expected final state (the DuckDB oracle recomputes it with an anti-join
+ union): batch1-only rows unchanged, batch2 keys replaced (their
``sbati_median`` now NULL — DuckDB ``INSERT OR REPLACE BY NAME``
default-fills missing columns), the new row inserted, and run 3 having
changed nothing. Matches ``/root/reference/scripts/extract_load.py:233-240``.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dsum, dsum_expr
from ..io.sink import read_parquet, upsert_parquet
from .dv3f import METRICS, _oracle_sql as _dv3f_oracle_sql, normalize_dv3f
from .registry import register

SCRATCH_ROOT = os.path.join(tempfile.gettempdir(), "adi_spark_warehouse")

# the new row inserted by batch2 (annee, dep, libdep, cod + metric values)
_NEW_KEY = ("2017", "04", "Alpes-de-Haute-Provence", "111")
_NEW_VALS = [float(7000 + i) + 0.5 for i in range(len(METRICS) - 1)]  # no sbati_median

_BATCH2_METRICS = METRICS[:-1]  # sbati_median intentionally absent


def _new_row_sql(dialect: str = "duckdb") -> str:
    annee, dep, libdep, cod = _NEW_KEY
    concat = f"concat('{annee}', '{dep}', '{cod}')"
    uid = f"sha2({concat}, 256)" if dialect == "spark" else f"sha256({concat})"
    cells = ", ".join(
        f"CAST({v!r} AS DOUBLE) AS {m}" for m, v in zip(_BATCH2_METRICS, _NEW_VALS)
    )
    return (
        f"SELECT {uid} AS uid, "
        f"'{annee}' AS annee, '{dep}' AS dep, '{libdep}' AS libdep, "
        f"'{cod}' AS cod, {cells}"
    )


def scratch_path(name: str) -> str:
    """Path a query's scratch WOULD occupy, without wiping or creating
    it. For callers that must inspect/release resources rooted under
    the previous invocation's tree BEFORE :func:`scratch_dir` wipes it
    (e.g. shutting down a still-booted embedded Derby database whose
    files live there — deleting under a booted database is undefined
    behavior)."""
    return os.path.join(SCRATCH_ROOT, f"pid{os.getpid()}", name)


def scratch_dir(name: str) -> str:
    """Fresh per-query scratch, wiped at every call so re-runs are
    stable. PID-scoped: two engine processes running the same query
    concurrently (e.g. a test harness next to the grading driver) must
    not wipe each other's in-flight streaming checkpoints / upsert
    targets — observed as CANNOT_WRITE_STATE_STORE when they shared a
    path. Stale PID trees from previous processes are reaped lazily."""
    mine = scratch_path(name)
    if os.path.isdir(mine):
        shutil.rmtree(mine)
    os.makedirs(mine, exist_ok=True)
    # best-effort reap of scratch left by processes that no longer exist
    try:
        for d in os.listdir(SCRATCH_ROOT):
            if not d.startswith("pid"):
                continue
            try:
                pid = int(d[3:])
            except ValueError:
                continue
            if pid != os.getpid() and not _pid_alive(pid):
                shutil.rmtree(os.path.join(SCRATCH_ROOT, d), ignore_errors=True)
    except OSError:
        pass
    return mine


def _pid_alive(pid: int) -> bool:
    """Portable liveness probe. ``kill(pid, 0)`` sends no signal but
    performs the existence/permission check everywhere POSIX —
    checking ``/proc/<pid>`` would report every process dead on
    non-Linux hosts and reap LIVE processes' scratch (reintroducing
    the concurrent-checkpoint-wipe bug the PID scoping fixed).
    EPERM means the pid exists but belongs to another user: alive."""
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    except OSError:
        return True  # unknown — never reap on doubt


def cache_dir(name: str) -> str:
    """Like :func:`scratch_dir` but PERSISTENT across calls: for
    build-once artifacts (materialized indexes) keyed by content, where
    a re-run should find the previous build instead of wiping it."""
    d = os.path.join(SCRATCH_ROOT, name)
    os.makedirs(d, exist_ok=True)
    return d


@register(
    "upsert_idempotent",
    oracle=f"""
    WITH batch1 AS ({_dv3f_oracle_sql()}),
    batch2 AS (
        SELECT uid, annee, dep, libdep, cod,
               nbtrans + 10000 AS nbtrans,
               {", ".join(_BATCH2_METRICS[1:])},
               CAST(NULL AS DOUBLE) AS sbati_median
        FROM batch1 WHERE dep = '01'
        UNION ALL
        SELECT uid, annee, dep, libdep, cod, {", ".join(_BATCH2_METRICS)},
               CAST(NULL AS DOUBLE) AS sbati_median
        FROM ({_new_row_sql()})
    )
    SELECT * FROM batch1 WHERE uid NOT IN (SELECT uid FROM batch2)
    UNION ALL
    SELECT * FROM batch2
    """,
    survey_ref="L1,L3,L4,Q4 (extract_load.py:233-240 INSERT OR REPLACE BY NAME)",
)
def upsert_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = os.path.join(scratch_dir("upsert_idempotent"), "src_departement")

    batch1 = normalize_dv3f(spark, sf_dir)
    modified = (
        batch1.filter(F.col("dep") == "01")
        .withColumn("nbtrans", F.col("nbtrans") + 10000)
        .drop("sbati_median")
    )
    batch2 = modified.unionByName(spark.sql(_new_row_sql("spark")))

    upsert_parquet(spark, batch1, path, keys=["uid"])
    upsert_parquet(spark, batch2, path, keys=["uid"])
    upsert_parquet(spark, batch2, path, keys=["uid"])  # idempotence: no-op
    return read_parquet(spark, path)


@register(
    "incremental_daily_rollup",
    oracle=f"""
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           event_type,
           COUNT(*) AS n_events,
           {dsum_expr('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    survey_ref="incremental aggregate maintenance (partition-keyed rollup upsert)",
)
def incremental_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized daily rollup maintained INCREMENTALLY: each arriving
    batch aggregates only its own days and upserts them by
    (day, event_type); re-delivery of a batch is a no-op. The final
    table must equal the full recompute (the oracle) — the
    materialized-view refresh loop a 100 TB/day pipeline runs instead
    of re-aggregating history.

    Scale shape: a batch's aggregate is |its days × types| rows — the
    upsert rewrites only touched partitions (dynamic partition
    overwrite in `upsert_parquet`), never the table. Day-partitioned
    arrival means every day is wholly owned by one batch, which is what
    makes delta-aggregation exact; late data for a closed day re-upserts
    just that day. Sums accumulate exactly so batch boundaries can't
    change low bits vs the one-shot oracle.
    """
    from ..io import load_table

    path = os.path.join(scratch_dir("incremental_daily_rollup"), "rollup")
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"),
        "event_type",
        "value",
    )
    cut = "2024-01-16"
    batch1 = ev.filter(F.col("day") < F.lit(cut).cast("date"))
    batch2 = ev.filter(F.col("day") >= F.lit(cut).cast("date"))
    for batch in (batch1, batch2, batch2):  # 3rd run: idempotent redelivery
        agg = batch.groupBy("day", "event_type").agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("total_value"),
        )
        upsert_parquet(
            spark, agg, path, keys=["day", "event_type"], partition_by=["day"]
        )
    return read_parquet(spark, path)


@register(
    "zorder_pruned_scan",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE user_id BETWEEN 2 AND 9 AND event_id BETWEEN 100 AND 499
    """,
    survey_ref="L4 + multi-dim clustering: Z-order layout, 2-D predicate scan",
)
def zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan a Z-ORDER-clustered copy of ``events`` with a predicate on
    BOTH cluster columns — the layout :func:`..io.sink.
    write_zorder_clustered` exists for. The result is layout-invariant
    (hence the trivial oracle); the 100 TB property is in the LAYOUT:
    every file covers a narrow [min,max] box on user_id AND event_id,
    so parquet row-group stats kill most files for a 2-D predicate
    where 1-D range clustering prunes only its leading column
    (measured in ``tests/test_load_layer.py::
    test_zorder_write_skips_files_on_both_dimensions``; the Morton code
    is a codegen'd shift/mask expression, no UDF). The clustered copy
    is a fingerprint-keyed build-once artifact — at scale it is the
    table's maintained layout (OPTIMIZE ZORDER), not per-query work.
    Both predicates also reach the scan as PushedFilters for
    row-group-level skipping."""
    from ..io.artifacts import fixture_artifact
    from ..io.sink import write_zorder_clustered

    def _build(tmp: str) -> None:
        from ..io import load_table

        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        write_zorder_clustered(
            ev, os.path.join(tmp, "events_z"), "user_id", "event_id", n_files=16
        )

    root = fixture_artifact(sf_dir, "zorder_events", ("events",), _build)
    ev = spark.read.parquet(os.path.join(root, "events_z"))
    return ev.filter(
        F.col("user_id").between(2, 9) & F.col("event_id").between(100, 499)
    ).select("event_id", "user_id", "event_type", "value")
