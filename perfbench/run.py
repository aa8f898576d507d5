"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One process, one closed-loop client,
one Spark session on ``local[<cores>]``. The run:

1. makes its inputs from ``--seed`` and sets up (timed as ``setup_s``);
2. runs ops back to back for ``--seconds`` seconds of op time, and on
   until the workload's minimum op count and a whole round of its op
   mix are done, checking each op's output outside the timed region;
3. prints a report (every metric with its unit and sample count, the
   host canaries, the write accounting) and, as the last line, one JSON
   object ``{"correct", "attempted", "failed", "metrics"}`` holding the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``, a run with spans and the Spark event log on).

Everything the run writes lives under ``.perfbench_scratch/`` in the
checkout and is removed at exit. Exit code 1 means an op failed its
check (the JSON line still says which), 2 a usage or set-up error.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from dataclasses import dataclass  # noqa: E402

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import host  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402
from layers import (  # noqa: E402
    END_TO_END,
    fs_probe,
    layer_metrics,
    wrap_layers,
)

SCRATCH_DIR = ".perfbench_scratch"
# fixed JVM heap (initial = max): G1 then never resizes the heap, so the
# peak resident set does not depend on when the heap happened to grow
HEAP = "2g"


@dataclass
class Ctx:
    seed: int
    scratch: str
    spark: object
    tracer: object


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_scratch(root: str) -> str:
    """A fresh scratch tree for this process; trees left by dead runs
    are removed so nothing carries from one run to the next."""
    base = os.path.join(root, SCRATCH_DIR)
    os.makedirs(base, exist_ok=True)
    for d in os.listdir(base):
        pid = d.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    scratch = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    for sub in ("tmp", "spark-local", "eventlog", "cwd"):
        os.makedirs(os.path.join(scratch, sub))
    return scratch


def isolate(scratch: str, cores: int) -> None:
    """Point every temp/scratch location of the package, the JVM and
    Python at the run's scratch tree (the package's scratch and artifact
    cache live under ``tempfile.gettempdir()``)."""
    tmp = os.path.join(scratch, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    # the JVM inherits this cwd: stray relative-path files (derby.log,
    # spark-warehouse) land in the scratch tree, never in the checkout
    os.chdir(os.path.join(scratch, "cwd"))


def spark_conf(scratch: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(scratch, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(scratch, "cwd", "spark-warehouse"),
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(scratch, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def loop(wl, seconds: float):
    """Closed loop: ops back to back until ``seconds`` of op time have
    passed, at least ``wl.min_ops`` ops have run and the current round
    of the workload's op mix is complete."""
    lat, oks = [], []
    i = 0
    while True:
        try:
            t, ok = wl.op(i)
        except Exception:  # an op that raises is a failed op
            wl.fail(f"op {i}: raised {traceback.format_exc(limit=3)[-600:]}")
            t, ok = float("nan"), False
        lat.append(t)
        oks.append(ok)
        i += 1
        busy = sum(x for x in lat if x == x)
        if busy >= seconds and i >= wl.min_ops and i % wl.round_len == 0:
            return lat, oks


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it
    (the JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "automate_data_ingestion_project_spark")):
        print("perfbench: run from the root of a checkout holding the package",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    scratch = prepare_scratch(root)
    try:
        return run(args, WORKLOADS[args.workload], scratch)
    finally:
        os.chdir(root)
        shutil.rmtree(scratch, ignore_errors=True)


def run(args, workload_cls, scratch: str) -> int:
    cores = len(os.sched_getaffinity(0))
    spark = None
    try:
        isolate(scratch, cores)
        t = time.perf_counter()
        canary0 = (host.cpu_canary(), host.io_canary(scratch))
        canary_s = time.perf_counter() - t
        from spans import Tracer

        tracer = None
        if args.trace:
            tracer = Tracer(probed=("io.lakehouse.", "io.maintenance."))
            tracer.probe = fs_probe(tracer)
            wrap_layers(tracer)
        from automate_data_ingestion_project_spark import session

        with (tracer.op_span(-1, "setup") if tracer else nullcontext()):
            with (tracer.span("session.get_spark") if tracer else nullcontext()):
                spark = session.get_spark(
                    app_name="perfbench", extra_conf=spark_conf(scratch, args.trace))
        if tracer:
            tracer.spark = spark
        wl = workload_cls(Ctx(args.seed, scratch, spark, tracer))
        wl.setup()
        # the start canary is a diagnostic, not set-up work
        setup_s = time.perf_counter() - PROCESS_T0 - canary_s
        tree0 = sum(host.tree_bytes(r)[0] for r in wl.store_roots())
        fs0, jiffies0 = host.fs_bytes(spark)[0], host.cpu_jiffies()
        lat, oks = loop(wl, args.seconds)
        fs_written = host.fs_bytes(spark)[0] - fs0
        steal = host.steal_share(jiffies0, host.cpu_jiffies())
        bad_ops = wl.finish()
        oks = [ok and i not in bad_ops for i, ok in enumerate(oks)]
        rss = host.vm_hwm_mb(os.getpid()) + host.vm_hwm_mb(host.jvm_pid(spark))
        canary1 = (host.cpu_canary(), host.io_canary(scratch))
        store = [host.tree_bytes(r) for r in wl.store_roots()]
        master = spark.sparkContext.master
        stop_spark(spark)  # also flushes and closes the event log
        spark = None
    except Exception:
        print("perfbench: run failed:\n" + traceback.format_exc(), file=sys.stderr)
        return 2
    finally:
        if spark is not None:
            stop_spark(spark)

    done = [x for x in lat if x == x]
    if not done:  # every op raised
        print(json.dumps({"failures": wl.failures[:20]}, indent=1))
        print(json.dumps({"correct": False, "attempted": len(oks),
                          "failed": len(oks), "metrics": {}}))
        return 1
    loop_s = sum(done)
    e2e = {  # name -> (value, sample count)
        "setup_s": (setup_s, 1),
        "op_p50_s": (stats.median(done), len(done)),
        "ops_per_s": (len(done) / loop_s, len(done)),
        "peak_rss_mb": (rss, 1),
    }
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": cores, "master": master,
        "canary_start": {"cpu_s": canary0[0], "io_s": canary0[1]},
        "canary_end": {"cpu_s": canary1[0], "io_s": canary1[1]},
        "loop_cpu_steal_share": steal,
        "end_to_end": {k: {"value": e2e[k][0], "unit": u, "n": e2e[k][1]}
                       for k, u in END_TO_END.items()},
        "op_latency_s": lat,
        "fail_ratio": {"value": oks.count(False) / len(oks), "unit": "1", "n": len(oks)},
        "failures": wl.failures[:20],
    }
    t = stats.tail(done)
    report["op_tail_s"] = (
        {"value": t[0], "unit": "s", "percentile": t[1], "n": t[2]} if t
        else {"value": None, "note": f"{len(done)} ops: too few for a tail "
              f"with {stats.TAIL_MIN_BEYOND} samples beyond it"})
    if wl.writes:
        on_disk = sum(b for b, _ in store)
        report["rows_per_s"] = {"value": wl.user_rows / loop_s, "unit": "rows/s",
                                "n": len(done)}
        # cross-check of the FileSystem counter against a tree walk:
        # it must cover at least the net growth of the store trees
        report["write_amp"] = {"value": fs_written / max(1, wl.user_bytes),
                               "unit": "B/B", "n": len(done),
                               "bytes_written": fs_written,
                               "user_bytes": wl.user_bytes,
                               "tree_bytes_before": tree0,
                               "tree_bytes_after": on_disk,
                               "counter_covers_tree_growth": fs_written >= on_disk - tree0,
                               "flush_policy": "local FS, no fsync"}
        report["space_amp"] = {"value": on_disk / max(1, wl.live_user_bytes()),
                               "unit": "B/B", "n": 1, "bytes_on_disk": on_disk,
                               "live_user_bytes": wl.live_user_bytes()}
    if tracer:
        per_layer = layer_metrics(wl, tracer, os.path.join(scratch, "eventlog"), lat)
        report["per_layer"] = per_layer
        # per op, the layer spans' self times add up to the op's latency
        # within the tracing overhead: time under no layer span fails it
        unattributed = layers.unattributed_by_op(tracer, lat)
        report["unattributed_by_op_s"] = unattributed
        report["accounting_ok"] = all(
            u <= tracer.overhead[op] for op, u in unattributed.items())
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(report, indent=1, default=str))
    result = {"correct": all(oks), "attempted": len(oks),
              "failed": oks.count(False), "metrics": metrics}
    print(json.dumps(result))
    return 0 if all(oks) else 1


if __name__ == "__main__":
    sys.exit(main())
