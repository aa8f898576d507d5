#!/usr/bin/env python
"""Per-job profile of one registered query — optimization tooling.

Runs ``QUERIES[name]`` once (or twice: the second run is the timed one,
the first pays JIT) with the Spark event log enabled, then parses the
event log and prints one line per Spark job: wall seconds, task count,
and the call site that submitted it. This answers "where do the N
seconds of a store-protocol query actually go" at job granularity —
the level the optimization guide's §1 loop needs for queries whose
cost is many small actions rather than one big plan.

Usage: python scripts/profile_jobs.py <query_name> [--cold]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time


def main() -> int:
    name = sys.argv[1]
    cold = "--cold" in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)

    evdir = "/tmp/spark-events-profile"
    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir, exist_ok=True)

    from automate_data_ingestion_project_spark.session import get_spark
    from automate_data_ingestion_project_spark.analytics import QUERIES
    import __spark_entry__  # noqa: F401

    spark = get_spark(
        app_name=f"profile-{name}",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
        },
    )
    from automate_data_ingestion_project_spark.operators.caching import (
        release_caches,
    )
    from bench import prebuild_artifacts

    prebuild_artifacts(spark, sf_dir)  # outside the timed region

    if not cold:
        QUERIES[name].fn(spark, sf_dir).collect()  # warm-up run
        release_caches()
    sc = spark.sparkContext
    sc.setJobDescription(f"TIMED:{name}")
    t0 = time.perf_counter()
    QUERIES[name].fn(spark, sf_dir).collect()
    wall = time.perf_counter() - t0
    release_caches()
    app_id = sc.applicationId
    spark.stop()

    # parse the event log: job start/end + first repo frame of the call
    # site. Spark 4 writes a rolling dir eventlog_v2_<app>/events_* —
    # handle both layouts.
    path = os.path.join(evdir, app_id)
    if not os.path.exists(path):
        path = os.path.join(evdir, f"eventlog_v2_{app_id}")
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.startswith("events_")
        )
    else:
        files = [path]
    jobs = {}
    order = []
    t_first = None

    def _lines():
        for f in files:
            if f.endswith(".zstd"):
                import subprocess

                out = subprocess.run(
                    ["zstd", "-dc", f], capture_output=True, check=True
                )
                yield from out.stdout.decode().splitlines()
            else:
                with open(f) as fh:
                    yield from fh

    if True:
        for line in _lines():
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                desc = props.get("spark.job.description", "")
                site = props.get("callSite.short", "")
                nstages = len(ev.get("Stage Infos", []))
                ntasks = sum(
                    s.get("Number of Tasks", 0)
                    for s in ev.get("Stage Infos", [])
                )
                jobs[jid] = {
                    "t0": ev["Submission Time"],
                    "desc": desc,
                    "site": site,
                    "stages": nstages,
                    "tasks": ntasks,
                }
                if t_first is None:
                    t_first = ev["Submission Time"]
                order.append(jid)
            elif e == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["t1"] = ev["Completion Time"]

    timed = [
        (jid, jobs[jid])
        for jid in order
        if jobs[jid]["desc"].startswith(f"TIMED:{name}")
        and "t1" in jobs[jid]
    ]
    print(f"\n=== {name}: wall {wall:.3f} s, {len(timed)} jobs ===")
    total_job = 0.0
    prev_end = None
    for jid, j in timed:
        dur = (j["t1"] - j["t0"]) / 1000.0
        gap = (j["t0"] - prev_end) / 1000.0 if prev_end else 0.0
        prev_end = j["t1"]
        total_job += dur
        print(
            f"job {jid:4d}  {dur:7.3f}s  gap {gap:6.3f}s  "
            f"stages={j['stages']:2d} tasks={j['tasks']:4d}  {j['site']}"
        )
    print(
        f"sum(job)={total_job:.3f}s  wall={wall:.3f}s  "
        f"driver/gaps={wall - total_job:.3f}s"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
