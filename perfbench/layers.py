"""Metric names, the layer wrapping of the traced run, and the
per-layer numbers computed from its spans and the Spark event log.

Per-layer values are per timed op (total over the run's timed ops
divided by their number) unless the name says otherwise:
``session.get_spark_s`` is the one session start, and
``io.maintenance.data_files`` counts the parquet files under the store
roots at the end of the run. A layer the workload never reaches reads 0.
"""

from __future__ import annotations

import os
from collections import defaultdict

import host
from spans import Tracer, clip, read_event_log, union_length

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}

# (module attribute path, span name) of the functions the traced run
# wraps; calls the package makes internally go through these too
WRAPPED = (
    ("pipeline", "run_pipeline", "pipeline.run_pipeline"),
    ("pipeline", "read_api", "ingest.rest.read_api"),
    ("pipeline", "normalize_wide", "operators.reshape.normalize_wide"),
    ("pipeline", "upsert_auto", "io.lakehouse.upsert_auto"),
    ("textops.neardup_index:NearDupIndex", "ingest_batch", "textops.neardup_index.ingest_batch"),
    ("textops.neardup_index:NearDupIndex", "delete_docs", "textops.neardup_index.delete_docs"),
    ("textops.neardup_index:NearDupIndex", "compact", "textops.neardup_index.compact"),
) + tuple(
    ("io.maintenance", fn, f"io.maintenance.{fn}")
    for fn in ("append_tombstones", "committed_batch_seqs", "compact_flat_tree",
               "store_exists", "invalidate_swapped_path")
)

TIMED = [name for _, _, name in WRAPPED if name != "pipeline.run_pipeline"] + [
    "quality.violation_counts", "analytics.plan", "analytics.collect",
    "operators.caching.release_caches",
]
SPARK_LAYERS = {
    "io.lakehouse": ("jobs", "tasks", "executor_run_s", "shuffle_bytes"),
    "textops.neardup_index": ("jobs", "tasks", "executor_run_s", "shuffle_bytes"),
    "analytics": ("jobs", "tasks", "executor_run_s", "shuffle_bytes", "spill_bytes",
                  "bytes_read"),
}
_UNITS = {"jobs": "count", "tasks": "count", "executor_run_s": "s",
          "shuffle_bytes": "B", "spill_bytes": "B", "bytes_read": "B"}

PER_LAYER = {
    "session.get_spark_s": "s",
    **{f"{n}_s": "s" for n in TIMED},
    "pipeline.run_pipeline_self_s": "s",
    "ingest.rest.fetch_wait_s": "s",
    "ingest.rest.pages": "count",
    "ingest.rest.records": "count",
    "io.lakehouse.bytes_written": "B",
    "io.lakehouse.rows_written_per_row_upserted": "rows/row",
    "io.maintenance.bytes_written": "B",
    "io.maintenance.data_files": "count",
    "textops.neardup_index.candidates_per_verified_dup": "1",
    **{f"{layer}.{m}": _UNITS[m] for layer, ms in SPARK_LAYERS.items() for m in ms},
    "spark.driver_gap_s": "s",
    "trace.overhead_s": "s",
    "trace.unattributed_s": "s",
}


def _resolve(path: str):
    import importlib

    mod, _, cls = path.partition(":")
    obj = importlib.import_module(f"automate_data_ingestion_project_spark.{mod}")
    return getattr(obj, cls) if cls else obj


def wrap_layers(tracer: Tracer) -> None:
    for path, attr, name in WRAPPED:
        tracer.wrap(_resolve(path), attr, name)


def layer_of(span_name: str) -> str:
    return span_name.rsplit(".", 1)[0]


def fs_probe(tracer: Tracer):
    """Bytes written through the ``file`` scheme. The event log is not
    among them: Spark writes it through its own FileSystem instance,
    whose counters are not in the global statistics."""
    return lambda: host.fs_bytes(tracer.spark)[0]


def merged_delta(spans) -> int:
    """Probe growth over the union of the spans' intervals: overlapping
    spans (concurrent threads) are merged so no byte counts twice."""
    total, cur = 0, None
    for s in sorted(spans, key=lambda s: s.start):
        if cur is None or s.start > cur[1].end:
            if cur is not None:
                total += cur[1].b1 - cur[0].b0
            cur = [s, s]
        elif s.end > cur[1].end:
            cur[1] = s
    if cur is not None:
        total += cur[1].b1 - cur[0].b0
    return total


def layer_metrics(wl, tracer: Tracer, eventlog_dir: str,
                  op_latency: list[float]) -> dict[str, tuple[float, str]]:
    n_ops = sum(1 for x in op_latency if x == x)
    out = {k: 0.0 for k in PER_LAYER}
    n = max(1, n_ops)
    spans = tracer.spans
    timed = [s for s in spans if s.op >= 0]
    setup = [s for s in spans if s.name == "session.get_spark"]
    out["session.get_spark_s"] = sum(s.end - s.start for s in setup)

    by_op_name: dict[tuple[int, str], list] = defaultdict(list)
    for s in timed:
        by_op_name[(s.op, s.name)].append((s.start, s.end))
    for (_, name), ivs in by_op_name.items():
        key = f"{name}_s"
        if key in out:
            out[key] += union_length(ivs) / n

    self_t = tracer.self_times()
    out["pipeline.run_pipeline_self_s"] = sum(
        self_t[s.sid] for s in timed if s.name == "pipeline.run_pipeline") / n

    server = getattr(wl, "server", None)
    if server is not None:
        out["ingest.rest.fetch_wait_s"] = server.wait_s / n
        out["ingest.rest.pages"] = server.pages_served / n
        out["ingest.rest.records"] = server.records_served / n

    out["io.lakehouse.bytes_written"] = sum(
        s.b1 - s.b0 for s in timed if s.name == "io.lakehouse.upsert_auto") / n
    top_maint = [s for s in timed if layer_of(s.name) == "io.maintenance"
                 and (s.parent is None or layer_of(spans[s.parent].name) != "io.maintenance")]
    out["io.maintenance.bytes_written"] = merged_delta(top_maint) / n
    if hasattr(wl, "index"):
        out["io.maintenance.data_files"] = sum(host.tree_bytes(r)[1] for r in wl.store_roots())
    if getattr(wl, "verified", 0):
        out["textops.neardup_index.candidates_per_verified_dup"] = wl.cands / wl.verified

    files = [f for f in os.listdir(eventlog_dir) if not f.startswith(".")]
    jobs, stages = read_event_log(os.path.join(eventlog_dir, files[0])) if files else ([], {})
    timed_ids = {s.sid for s in timed}
    records_written = 0.0
    for j in jobs:
        if j.sid not in timed_ids:
            continue
        layer = layer_of(spans[j.sid].name)
        st = [stages[i] for i in j.stages if i in stages]
        if layer == "io.lakehouse":
            records_written += sum(m["records_written"] for m in st)
        for m in SPARK_LAYERS.get(layer, ()):
            key = f"{layer}.{m}"
            out[key] += (1.0 if m == "jobs" else sum(x[m] for x in st)) / n
    if wl.user_rows and getattr(wl, "server", None) is not None:
        out["io.lakehouse.rows_written_per_row_upserted"] = records_written / wl.user_rows

    # driver gap, per op
    roots = [s for s in timed if s.name == "op"]
    job_ivs: dict[int, list] = defaultdict(list)
    for j in jobs:
        if j.sid is not None and spans[j.sid].op >= 0:
            job_ivs[spans[j.sid].op].append((j.start, j.end))
    gap = 0.0
    for r in roots:
        covered = union_length([c for c in (clip(iv, r.start, r.end)
                                            for iv in job_ivs[r.op]) if c])
        gap += (r.end - r.start) - covered
    out["spark.driver_gap_s"] = gap / n
    out["trace.unattributed_s"] = sum(unattributed_by_op(tracer, op_latency).values()) / n
    out["trace.overhead_s"] = sum(v for op, v in tracer.overhead.items() if op >= 0) / n
    return {k: (v, PER_LAYER[k]) for k, v in out.items()}


def unattributed_by_op(tracer: Tracer, op_latency: list[float]) -> dict[int, float]:
    """Per timed op: its measured latency minus the self times of the
    layer spans below its root span, i.e. the op's time under no layer
    span (the root span's self time plus the tracer's own time around
    the root)."""
    self_t = tracer.self_times()
    layer_self: dict[int, float] = defaultdict(float)
    for s in tracer.spans:
        if s.op >= 0 and s.parent is not None:
            layer_self[s.op] += self_t[s.sid]
    return {op: lat - layer_self[op] for op, lat in enumerate(op_latency) if lat == lat}
