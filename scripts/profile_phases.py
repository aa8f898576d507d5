#!/usr/bin/env python
"""Phase-level wall-clock attribution for one registered query.

Monkeypatches the store-protocol / index functions with timers (call
count + inclusive wall seconds, nesting-aware so a parent's EXCLUSIVE
time is also shown), runs the query once warm, and prints the table.
Complements profile_jobs.py: that one says how much time is inside
Spark jobs vs driver gaps; this one says WHICH repo function owns the
wall-clock.

Usage: python scripts/profile_phases.py <query_name>
"""

from __future__ import annotations

import os
import sys
import time
from collections import defaultdict


def main() -> int:
    name = sys.argv[1]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)

    from automate_data_ingestion_project_spark.session import get_spark
    from automate_data_ingestion_project_spark.analytics import QUERIES
    import __spark_entry__  # noqa: F401

    spark = get_spark(app_name=f"phases-{name}")
    from automate_data_ingestion_project_spark.operators.caching import (
        release_caches,
    )
    from automate_data_ingestion_project_spark.analytics.dedup import (
        corpus_neardup_index,
        minhash_pairs_evidence,
    )
    from automate_data_ingestion_project_spark.analytics.ivf import (
        ivf_cell_table,
    )
    from automate_data_ingestion_project_spark.analytics.ivf_train import (
        ivf_trained_artifact,
    )
    from automate_data_ingestion_project_spark.analytics.pq_train import (
        _train as pq_train_artifact,
    )

    corpus_neardup_index(spark, sf_dir)
    minhash_pairs_evidence(spark, sf_dir)
    pq_train_artifact(spark, sf_dir)
    ivf_cell_table(spark, sf_dir)
    ivf_trained_artifact(spark, sf_dir)
    release_caches()

    stats = defaultdict(lambda: [0, 0.0, 0.0])  # label -> [n, incl, child]
    stack: list[str] = []

    def wrap(obj, attr, label=None):
        fn = getattr(obj, attr)
        lab = label or f"{getattr(obj, '__name__', obj.__class__.__name__)}.{attr}"

        def timed(*a, **k):
            stack.append(lab)
            t0 = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                dt = time.perf_counter() - t0
                stack.pop()
                stats[lab][0] += 1
                stats[lab][1] += dt
                if stack:
                    stats[stack[-1]][2] += dt

        setattr(obj, attr, timed)

    import automate_data_ingestion_project_spark.io.maintenance as mnt
    import automate_data_ingestion_project_spark.textops.neardup_index as ndi
    import automate_data_ingestion_project_spark.analytics.dedup as ddp
    import automate_data_ingestion_project_spark.analytics.mixing as mix
    import automate_data_ingestion_project_spark.io.sink as snk

    for attr in (
        "_ledger_rows",
        "append_ledger_row",
        "commit_batch",
        "committed_batch_seqs",
        "read_committed",
        "_apply_tombstone_mask",
        "append_store_batch",
        "append_tombstones",
        "compact_flat_tree",
        "compact_store_tree",
        "compact_bucketed_table",
        "read_store_changes",
        "consume_changes",
        "consume_changes_with_retractions",
        "store_exists",
        "vacuum_store",
        "read_store_asof",
        "checkpoint_ledger",
        "data_file_count",
    ):
        if hasattr(mnt, attr):
            wrap(mnt, attr, f"mnt.{attr}")
    for attr in (
        "delete_docs",
        "ingest_batch",
        "filter_batch",
        "compact",
        "_run_batch",
        "_candidates",
        "_verify",
        "_append",
        "bands",
        "rows",
        "hashes",
    ):
        wrap(ndi.NearDupIndex, attr, f"NearDupIndex.{attr}")
    if hasattr(ddp, "_clone_replay_index"):
        wrap(ddp, "_clone_replay_index", "dedup._clone_replay_index")
    if hasattr(ddp, "_replay_batches"):
        wrap(ddp, "_replay_batches", "dedup._replay_batches")
    for attr in ("append_token_shard_batch",):
        if hasattr(mix, attr):
            wrap(mix, attr, f"mix.{attr}")
    for attr in ("write_bucketed_table",):
        if hasattr(snk, attr):
            wrap(snk, attr, f"sink.{attr}")

    QUERIES[name].fn(spark, sf_dir).collect()  # warm-up
    release_caches()
    for v in stats.values():
        v[0] = 0
        v[1] = 0.0
        v[2] = 0.0
    t0 = time.perf_counter()
    QUERIES[name].fn(spark, sf_dir).collect()
    wall = time.perf_counter() - t0
    release_caches()

    print(f"\n=== {name}: wall {wall:.3f} s ===")
    print(f"{'phase':38s} {'n':>4s} {'incl_s':>8s} {'excl_s':>8s}")
    for lab, (n, incl, child) in sorted(
        stats.items(), key=lambda kv: -(kv[1][1] - kv[1][2])
    ):
        if n == 0:
            continue
        print(f"{lab:38s} {n:4d} {incl:8.3f} {incl - child:8.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
