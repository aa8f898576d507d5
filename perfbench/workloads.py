"""The workloads: set-up, one timed op, and the op's output check.

Each workload object is driven by ``run.py``:

- ``setup()`` makes the inputs from the seed, builds the stores and
  runs the warm-up ops (all of it counted in ``setup_s``);
- ``op(i)`` runs op ``i`` and returns ``(latency_s, ok)``; only the
  program's own work sits inside the timed region, the output check
  runs after it;
- ``finish()`` runs the checks that need the whole run (the DuckDB
  oracles) and returns the indices of the timed ops they fail.

Ops call only the package's public functions. With a tracer attached,
the workload opens one root span per op and spans around the layer
functions it calls directly; ``run.py`` wraps the layers' functions
for the calls the package makes internally.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import nullcontext

import gen
import oracle

PKG = "automate_data_ingestion_project_spark"


class Timer:
    """Accumulates the timed regions of one op."""

    def __init__(self):
        self.total = 0.0

    def __enter__(self):
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.total += time.perf_counter() - self._t0
        return False


class Workload:
    name = ""
    round_len = 1  # the loop only stops after a whole round of ops
    min_ops = 1  # and after at least this many ops
    writes = False

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.user_bytes = 0  # user data bytes offered to the timed ops
        self.user_rows = 0
        self.failures: list[str] = []

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def op_span(self, i: int):
        return self.tracer.op_span(i) if self.tracer else nullcontext()

    def release(self):
        from automate_data_ingestion_project_spark.operators import caching

        with self.span("operators.caching.release_caches"):
            caching.release_caches()

    def fail(self, msg: str) -> bool:
        self.failures.append(msg)
        return False

    def store_roots(self) -> list[str]:
        return []

    def live_user_bytes(self) -> int:
        return 0

    def finish(self) -> set[int]:
        """Whole-run checks; returns the timed op indices they fail."""
        return set()


# ---------------------------------------------------------------------------


class IngestUpsert(Workload):
    """Scheduled DV3F runs: ``pipeline.run_pipeline`` over a sliding
    window of departement codes plus one code the server fails with
    HTTP 500, then the declared-schema quality gate."""

    name = "ingest_upsert"
    writes = True
    # one run takes ~6.5 s; three fit the per-run time budget (README)
    min_ops = 3
    WARMUP_RUNS = 1  # run 0 fills the table; timed runs replace keys

    def setup(self):
        from automate_data_ingestion_project_spark.schemas import schemas_from_yaml

        self.plan = gen.IngestPlan.make(self.ctx.seed)
        self.server = gen.StubServer(self.plan)
        self.model = gen.ExpectedTable(self.plan)
        cfg = os.path.join(os.path.dirname(__import__(PKG).__file__),
                           "configs", "dv3f_schema.yaml")
        with open(cfg) as fh:
            self.schema = schemas_from_yaml(fh.read())["src_departement"]
        self.root = os.path.join(self.ctx.scratch, "warehouse_dv3f")
        self.path = os.path.join(self.root, "src_departement")
        for k in range(self.WARMUP_RUNS):
            lat, ok = self._run(k, op_id=-1)
            if not ok:
                raise RuntimeError("ingest warm-up run failed: " + "; ".join(self.failures))
        self.server.bytes_served = self.server.pages_served = 0
        self.server.records_served = 0
        self.server.wait_s = 0.0

    def op(self, i: int):
        return self._run(self.WARMUP_RUNS + i, op_id=i)

    def _run(self, k: int, op_id: int):
        from automate_data_ingestion_project_spark import pipeline, quality

        codes = self.plan.codes_for_run(k) if k else self.plan.first_run_codes()
        cfg = {"args": {"scope": {"departement": codes}}}
        self.server.run = k
        bytes0 = self.server.bytes_served
        t = Timer()
        with self.op_span(op_id), t:
            (report,) = pipeline.run_pipeline(
                self.spark, cfg, {"departement": self.path}, gen.DV3F_METRICS,
                fetch=self.server, schemas={"departement": self.schema},
            )
            with self.span("quality.violation_counts"):
                gate = quality.violation_counts(
                    self.spark.read.parquet(self.path),
                    quality.checks_from_schema(self.schema),
                ).collect()
            self.release()
        if op_id >= 0:
            self.user_bytes += self.server.bytes_served - bytes0
            self.user_rows += self.plan.rows_per_run()
        # -- output check (untimed)
        self.model.apply_run(self.server, k, codes)
        planted = {c for c in codes if c in self.plan.failing}
        ok = True
        if set(report.codes_failed) != planted:
            ok = self.fail(f"run {k}: codes_failed {sorted(report.codes_failed)} != {sorted(planted)}")
        bad = [(r.column_name, r.rule, r.violations) for r in gate if r.violations]
        if bad:
            ok = self.fail(f"run {k}: quality violations {bad}")
        df = self.spark.read.parquet(self.path)
        got = oracle.table_hash(df.columns, df.collect())
        want = oracle.table_hash(self.model.columns(), self.model.rows.values())
        if got != want or report.rows_upserted != len(self.model.rows):
            ok = self.fail(f"run {k}: table (rows, hash) {got} != expected {want}")
        return t.total, ok

    def store_roots(self):
        return [self.root]

    def live_user_bytes(self):
        return sum(len(json.dumps(r)) for r in self.model.rows.values())


# ---------------------------------------------------------------------------


class CorpusMaintain(Workload):
    """Near-dup index maintenance: ingest batches of planted edits and
    fresh documents, periodic takedowns and compactions."""

    name = "corpus_maintain"
    writes = True
    round_len = len(gen.CorpusModel.CYCLE)

    def setup(self):
        from automate_data_ingestion_project_spark.textops.neardup_index import NearDupIndex

        docs = gen.documents_table(self.ctx.seed)
        texts = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
        self.model = gen.CorpusModel(self.ctx.seed, texts)
        self.root = os.path.join(self.ctx.scratch, "neardup_index")
        corpus = self.spark.createDataFrame(
            list(texts.items()), "doc_id long, text string")
        with self.op_span(-1), self.span("textops.neardup_index.build"):
            self.index = NearDupIndex.build(self.spark, corpus, self.root)
        self.cands = self.verified = 0

    def op(self, i: int):
        t = Timer()
        ok = self._apply(self.model.next_op(), i, t)
        return t.total, ok

    def _apply(self, op: "gen.CorpusOp", op_id: int, t: Timer) -> bool:
        ok = True
        if op.kind == "ingest":
            batch = self.spark.createDataFrame(op.docs, "doc_id long, text string")
            with self.op_span(op_id), t:
                with self.span("textops.neardup_index.ingest_batch"):
                    decisions = self.index.ingest_batch(batch).collect()
                self.release()
            self.user_rows += len(op.docs)
            self.user_bytes += sum(len(txt.encode()) for _, txt in op.docs)
            for r in decisions:
                self.cands += r.n_candidates
                self.verified += r.n_verified_dups
                if r.is_near_dup != op.expected_dup.get(r.batch_id):
                    ok = self.fail(f"op {op_id}: doc {r.batch_id} decided "
                                   f"{r.is_near_dup}, expected {op.expected_dup.get(r.batch_id)}")
            if len(decisions) != len(op.docs):
                ok = self.fail(f"op {op_id}: {len(decisions)} decisions for {len(op.docs)} docs")
        elif op.kind == "delete":
            ids = self.spark.createDataFrame([(i,) for i in op.delete_ids], "doc_id long")
            with self.op_span(op_id), t:
                self.index.delete_docs(ids)
                self.release()
        else:
            with self.op_span(op_id), t:
                self.index.compact()
                self.release()
            live = self.index.hashes().count()
            if live != len(self.model.live):
                ok = self.fail(f"op {op_id}: {live} live docs after compact, "
                               f"expected {len(self.model.live)}")
        return ok

    def store_roots(self):
        return [self.root]

    def live_user_bytes(self):
        return sum(len(txt.encode()) for txt in self.model.live.values())


# ---------------------------------------------------------------------------


class BiQueries(Workload):
    """Seeded rounds over the dashboard queries on the sf0.1 warehouse
    tables; every result is checked against its DuckDB oracle after the
    loop."""

    name = "bi_queries"
    QUERY_NAMES = ("pricing_summary", "revenue_by_nation", "orders_by_month",
                   "top_brands_by_quantity", "normalize_dv3f")
    # a round is two passes over the queries, each in its own seeded
    # order: the median then sits between two samples of one query
    round_len = 2 * len(QUERY_NAMES)

    def setup(self):
        import __spark_entry__ as entry

        self.sf_dir = os.path.join(self.ctx.scratch, "sf")
        gen.write_tables(gen.warehouse_tables(self.ctx.seed), self.sf_dir)
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.rng = gen.rng_for(self.ctx.seed, self.name)
        self.orders: list[list[str]] = []
        # query -> distinct result signature -> op ids that produced it
        self.results: dict[str, dict] = {n: {} for n in self.QUERY_NAMES}
        for name in self.QUERY_NAMES:  # warm-up pass
            self._query(name, op_id=-1)

    def op(self, i: int):
        npass, j = divmod(i, len(self.QUERY_NAMES))
        while len(self.orders) <= npass:
            self.orders.append([str(q) for q in self.rng.permutation(self.QUERY_NAMES)])
        return self._query(self.orders[npass][j], op_id=i)

    def _query(self, name: str, op_id: int):
        t = Timer()
        with self.op_span(op_id), t:
            with self.span("analytics.plan"):
                df = self.queries[name](self.spark, self.sf_dir)
            with self.span("analytics.collect"):
                rows = df.collect()
            self.release()
        sig = (tuple(sorted(df.columns)), *oracle.table_hash(df.columns, rows))
        self.results[name].setdefault(sig, []).append(op_id)
        return t.total, True

    def finish(self):
        bad = set()
        for name in self.QUERY_NAMES:
            want_cols, n, h = oracle.duckdb_hash(self.oracles[name], self.sf_dir)
            want = (tuple(want_cols), n, h)
            for got, ops in self.results[name].items():
                if got != want:
                    bad |= {i for i in ops if i >= 0}
                    self.fail(f"{name}: result (cols, rows, hash) {got} != oracle {want}")
        return bad


WORKLOADS = {w.name: w for w in (IngestUpsert, CorpusMaintain, BiQueries)}
