#!/usr/bin/env python
"""Solo best-of-N adjudication runs for bench-sweep flags (SCALE.md
protocol, r14 `incremental_daily_rollup` precedent).

Mirrors bench.py's methodology exactly — same session builder, same
warm-up, same pre-built artifacts outside the timed region, same
release_caches between samples — but runs ONLY the named queries,
N samples each, and prints the full series plus CPU/IO canaries so the
run can be certified quiet.

Usage:
    python scripts/adjudicate_flags.py [-n 6] query [query ...]
"""
from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("-n", type=int, default=6)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from automate_data_ingestion_project_spark.session import get_spark
    from automate_data_ingestion_project_spark.analytics import QUERIES
    import __spark_entry__  # noqa: F401

    spark = get_spark(app_name="adjudicate")
    QUERIES["pricing_summary"].fn(spark, sf_dir).collect()

    from automate_data_ingestion_project_spark.operators.caching import (
        release_caches,
    )
    from bench import prebuild_artifacts

    prebuild_artifacts(spark, sf_dir)

    def canary() -> float:
        c = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            spark.range(0, 400_000_000, 1, 32).selectExpr(
                "sum(id * 2 + 1) AS s"
            ).collect()
            c = min(c, time.perf_counter() - t0)
        return round(c, 4)

    def io_canary() -> float:
        from automate_data_ingestion_project_spark.analytics.load import (
            scratch_dir,
        )

        path = os.path.join(scratch_dir("adjudicate_io_canary"), "t")
        c = float("inf")
        for i in range(2):
            t0 = time.perf_counter()
            spark.range(0, 2_000_000, 1, 8).selectExpr(
                "id", "id * 2 AS a", "CAST(id AS STRING) AS s"
            ).write.mode("overwrite").parquet(f"{path}{i}")
            spark.read.parquet(f"{path}{i}").count()
            c = min(c, time.perf_counter() - t0)
        return round(c, 4)

    print(f"canary_start={canary()} io_canary_start={io_canary()}", flush=True)
    for name in args.queries:
        series = []
        for _ in range(args.n):
            t0 = time.perf_counter()
            QUERIES[name].fn(spark, sf_dir).collect()
            series.append(round(time.perf_counter() - t0, 3))
            release_caches()
        print(f"{name}: series={series} best={min(series)}", flush=True)
    print(f"canary_end={canary()} io_canary_end={io_canary()}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
