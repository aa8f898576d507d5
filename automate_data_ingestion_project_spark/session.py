"""SparkSession factory tuned for both local testing and cluster scale.

The reference delegates execution to DuckDB + eager pandas
(``/root/reference/scripts/extract_load.py:213``); here a single
SparkSession replaces both. Config choices are scale-minded:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the
  static plan is always wrong somewhere; AQE repairs it per-stage.
- ``spark.sql.shuffle.partitions`` defaults to the local core count for
  tests; on a real cluster this is overridden (or AQE's
  ``coalescePartitions`` makes the initial number mostly irrelevant).
- UTC session timezone so timestamp semantics match the DuckDB oracle
  and are stable across clusters.
- Arrow enabled for every pandas interchange (Pandas UDFs, toPandas).
- DataFrame origin capture off (``spark.python.sql.dataFrameDebugging.
  enabled``). With it on, PySpark walks ``inspect.stack()`` and makes
  ~5 extra JVM calls around every Column function, so building a
  dashboard query cost more driver time than running it
  (``pricing_summary``: 1993 Py4J round trips with it, 533 without).
  The price: a DataFrame API error no longer names the Python line
  that built the failing expression. Errors still raise.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "automate-data-ingestion-spark"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory() -> str:
    """The driver-heap default, sized against the HOST rather than a
    fixed number: half of detected physical memory, capped at 8g (the
    size the sf1 scale demo needs for local-mode broadcast builds),
    floored at PySpark's own 1g. A flat 8g launch request would fail —
    or invite the OOM killer — on a small container, where the old 1g
    default at least always started. ``SPARK_GRAFT_DRIVER_MEM`` wins
    outright when set."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        total_mb = (
            os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        ) // (1024 * 1024)
    except (ValueError, OSError, AttributeError):
        return "8g"  # physical memory undetectable: keep the old default
    return f"{max(1024, min(8192, total_mb // 2))}m"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults."""
    cores = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cores)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # ANSI off: reference semantics (DuckDB INSERT OR REPLACE pipeline)
        # never raise on overflow/cast; keep permissive NULL-on-error casts.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # Heap: in local mode spark.driver.memory IS the whole JVM (driver,
    # every "executor" thread, and every broadcast build share it), and
    # PySpark's 1g launch default is a toy size for a 32-thread session
    # — the sf1 scale demo OOM'd a broadcast build under it. Setting it
    # through the builder IS honored when getOrCreate launches the JVM
    # (the plain-python path used everywhere here); it is a no-op only
    # if a JVM already exists in the process (e.g. under spark-submit,
    # where --driver-memory owns it). The default is host-sized, not
    # fixed (see default_driver_memory) — a flat 8g would over-reserve
    # on small containers.
    builder = builder.config("spark.driver.memory", default_driver_memory())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if os.environ.get("SPARK_GRAFT_SILENCE_WINDOW_WARN") == "1":
        _silence_bounded_window_warning(spark)
    return spark


def _silence_bounded_window_warning(spark: SparkSession) -> None:
    """Drop WindowExec's "No Partition Defined" warning to ERROR for
    sessions built here. Every unpartitioned window in this package
    operates on a post-aggregation relation bounded by construction
    (bucket totals ≤ corpus/1000, months, 25 nations — the scale-safe
    two-phase prefix-sum design; sites audited in the r14 verdict:
    mixing.py, sampling.py, warehouse_ext.py, profiling.py), so the
    warning is noise in bench tails, not a defect signal.

    OPT-IN via ``SPARK_GRAFT_SILENCE_WINDOW_WARN=1`` (r16, from the
    r15 advisory): the suppression previously applied to EVERY session
    built here, so a genuinely unbounded window added later — or run
    by a library user — would lose its scale-defect warning too. Only
    the bench entrypoint (whose tail the audited-benign messages
    drowned) sets the variable; every other session keeps the default
    WARN. Best-effort: log4j2's Configurator is Spark's bundled
    logging backend, but a deployment that swaps it keeps the default
    warning."""
    try:
        jvm = spark._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass
