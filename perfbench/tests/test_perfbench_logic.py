"""The benchmark's own logic, without Spark: input determinism, the
tail-percentile rule, span self-time arithmetic, the ingest model and
the event-log reader."""

from __future__ import annotations

import json

import gen
import layers
import stats
from spans import Span, Tracer, read_event_log, union_length


# -- generator determinism ----------------------------------------------


def test_warehouse_tables_same_seed_same_tables():
    a, b, c = gen.warehouse_tables(7), gen.warehouse_tables(7), gen.warehouse_tables(8)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert {t: a[t].num_rows for t in a} == {
        t: n for t, n in gen.SF01_ROWS.items() if t in a}


def test_documents_are_seeded():
    assert gen.documents_table(3).equals(gen.documents_table(3))
    assert not gen.documents_table(3).equals(gen.documents_table(4))


def test_ingest_plan_and_pages_are_seeded():
    p, q = gen.IngestPlan.make(5), gen.IngestPlan.make(5)
    assert (p.pool, p.failing) == (q.pool, q.failing)
    assert gen.StubServer(p).page(2, p.pool[0], 1) == gen.StubServer(q).page(2, q.pool[0], 1)
    assert not set(p.pool) & set(p.failing)
    for k in range(1, 6):
        codes = p.codes_for_run(k)
        assert len([c for c in codes if c in p.failing]) == 1
        assert len(codes) == gen.CODES_PER_RUN + 1


def test_corpus_op_stream_is_seeded():
    texts = dict(enumerate(gen.documents_table(9).column("text").to_pylist()))
    m1, m2 = gen.CorpusModel(9, texts), gen.CorpusModel(9, texts)
    n = 2 * len(gen.CorpusModel.CYCLE)
    ops1 = [m1.next_op() for _ in range(n)]
    ops2 = [m2.next_op() for _ in range(n)]
    assert [(o.kind, o.docs, o.delete_ids) for o in ops1] == \
           [(o.kind, o.docs, o.delete_ids) for o in ops2]
    assert [o.kind for o in ops1] == [*gen.CorpusModel.CYCLE] * 2
    assert m1.live == m2.live


def test_corpus_round_is_mostly_ingests():
    kinds = gen.CorpusModel.CYCLE
    assert kinds.count("ingest") > len(kinds) / 2
    assert kinds.count("delete") == kinds.count("compact") == 1


def test_planted_edit_changes_one_token_of_a_live_doc():
    texts = dict(enumerate(gen.documents_table(9).column("text").to_pylist()))
    m = gen.CorpusModel(9, texts)
    op = m.next_op()
    for doc_id, text in op.docs:
        if op.expected_dup[doc_id]:
            words = text.split(" ")
            assert len(words) >= m.MIN_EDIT_WORDS
            assert any(sum(a != b for a, b in zip(words, t.split(" "))) == 1
                       and len(t.split(" ")) == len(words) for t in texts.values())
        else:
            assert m.live[doc_id] == text


# -- tail-percentile rule -----------------------------------------------


def test_tail_picks_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 1001)]  # 1..1000
    assert stats.tail(xs) == (990.0, 99.0, 1000)  # 10 samples above p99
    xs = [float(i) for i in range(1, 26)]
    assert stats.tail(xs) == (13.0, 50.0, 25)  # p75 would leave only 6
    assert stats.tail([1.0] * 19) is None  # p50 leaves 9


def test_tail_ignores_input_order():
    xs = [5.0, 1.0, 9.0] * 10
    assert stats.tail(xs) == stats.tail(sorted(xs))


# -- span arithmetic ------------------------------------------------------


def _tracer(spans):
    t = Tracer()
    t.spans = [Span(i, n, 0, p, a, b) for i, (n, p, a, b) in enumerate(spans)]
    return t


def test_self_time_subtracts_children():
    t = _tracer([("op", None, 0.0, 10.0), ("a.f", 0, 1.0, 4.0), ("b.g", 1, 2.0, 3.0)])
    assert t.self_times() == {0: 7.0, 1: 2.0, 2: 1.0}


def test_self_time_splits_overlap_of_concurrent_children():
    t = _tracer([
        ("op", None, 0.0, 10.0),
        ("a.f", 0, 1.0, 4.0),
        ("b.g", 0, 3.0, 6.0),  # overlaps a.f on [3, 4]
        ("c.h", 1, 2.0, 3.0),
    ])
    self_t = t.self_times()
    assert self_t == {0: 5.0, 1: 1.5, 2: 2.5, 3: 1.0}
    assert sum(self_t.values()) == 10.0  # the op's wall, exactly


def test_unattributed_is_op_time_under_no_layer_span():
    t = _tracer([
        ("op", None, 0.0, 10.0),
        ("a.f", 0, 1.0, 4.0),
        ("b.g", 1, 2.0, 3.0),
        ("c.h", 0, 4.0, 9.5),
    ])
    # the layer spans cover [1, 9.5] of an op that measured 10.25 s
    assert layers.unattributed_by_op(t, [10.25]) == {0: 1.75}


def test_union_length_and_merged_probe_delta():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    a = Span(0, "io.maintenance.x", 0, None, 0.0, 2.0, b0=100, b1=150)
    b = Span(1, "io.maintenance.y", 0, None, 1.0, 3.0, b0=120, b1=180)
    c = Span(2, "io.maintenance.z", 0, None, 5.0, 6.0, b0=200, b1=210)
    # a and b overlap: one window 100 -> 180, then c adds 10
    assert layers.merged_delta([b, c, a]) == 90


# -- ingest expected-table model ------------------------------------------


def test_expected_table_two_runs_keeps_latest_values():
    plan = gen.IngestPlan.make(1)
    server = gen.StubServer(plan)
    model = gen.ExpectedTable(plan)
    model.apply_run(server, 0, plan.first_run_codes())
    assert len(model.rows) == len(plan.pool) * len(gen.YEARS) * len(gen.DV3F_CODS)
    first = dict(model.rows)
    codes = plan.codes_for_run(1)
    model.apply_run(server, 1, codes)
    assert len(model.rows) == len(first)  # run 1 only replaces keys
    refetched = {c for c in codes if c not in plan.failing}
    assert len(refetched) == gen.CODES_PER_RUN
    pages = range(1, gen.PAGES_PER_CODE + 1)
    for key, row in model.rows.items():
        uid, annee, dep, _, cod, *vals = row
        assert uid == gen.uid(annee, dep, cod) == key
        want_run = 1 if dep in refetched else 0
        rec = next(r for p in pages for r in server.page(want_run, dep, p)["results"]
                   if r["annee"] == annee)
        assert vals == [rec.get(f"{m}_cod{cod}") for m in gen.DV3F_METRICS]
    # the partial column is absent from odd pages, so NULL in the model
    odd_year = gen.YEARS[0]
    row = model.rows[gen.uid(odd_year, plan.pool[0], "121")]
    assert row[5 + gen.DV3F_METRICS.index("sbati_median")] is None


def test_stub_server_pages_cover_every_year_once():
    plan = gen.IngestPlan.make(3)
    server = gen.StubServer(plan)
    pages = [server.page(0, plan.pool[0], p) for p in range(1, gen.PAGES_PER_CODE + 1)]
    assert [r["annee"] for p in pages for r in p["results"]] == gen.YEARS
    assert pages[-1]["next"] is None and all(p["next"] for p in pages[:-1])


def test_stub_server_fails_planted_codes_and_counts_bytes():
    plan = gen.IngestPlan.make(2)
    server = gen.StubServer(plan)
    assert server(f"https://x/departements/annuel/{plan.failing[0]}/", {}).status_code == 500
    resp = server(f"https://x/departements/annuel/{plan.pool[0]}/", {"page": 1})
    assert resp.status_code == 200 and resp.payload["next"] == "?page=2"
    assert server.bytes_served == len(json.dumps(resp.payload).encode())
    assert server.pages_served == 1 and server.records_served == gen.PAGE_SIZE


# -- event log ------------------------------------------------------------


def test_read_event_log_attributes_jobs_to_spans(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.job.description": "perfbench:4"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Number of Tasks": 3, "Accumulables": [
                {"Name": "internal.metrics.executorRunTime", "Value": 1500},
                {"Name": "internal.metrics.shuffle.write.bytesWritten", "Value": 42}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3100},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs, stages = read_event_log(str(path))
    assert [(j.jid, j.sid, j.start, j.end) for j in jobs] == [(0, 4, 1.0, 2.5), (1, None, 3.0, 3.1)]
    assert stages[0]["tasks"] == 3 and stages[0]["executor_run_s"] == 1.5
    assert stages[0]["shuffle_bytes"] == 42 and 1 not in stages


def test_benchmark_file_lists_the_metrics_the_run_prints():
    import os
    import re

    path = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")
    with open(path) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == layers.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.PER_LAYER
    import workloads

    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    for name in [*layers.END_TO_END, *layers.PER_LAYER]:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name), name
    for unit in [*layers.END_TO_END.values(), *layers.PER_LAYER.values()]:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", unit), unit
