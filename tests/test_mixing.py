"""Corpus mixing: determinism/known-value checks plus oracle parity."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from automate_data_ingestion_project_spark.analytics.mixing import (
    SEQ_BUDGET,
    corpus_sample_mix,
    pack_sequences,
)
from tests.oracle import compare, duckdb_connection

SF_DIR = "/root/testdata/sf0.001"


def test_sampling_is_deterministic_and_rate_shaped(spark):
    a = {r["source"]: r for r in corpus_sample_mix(spark, SF_DIR).collect()}
    b = {r["source"]: r for r in corpus_sample_mix(spark, SF_DIR).collect()}
    assert a == b  # rerun keeps the identical sample
    for r in a.values():
        assert 10 <= r["rate_pct"] <= 94
        assert 0 <= r["n_sampled"] <= r["n_docs"]
    # at least one source samples strictly, at least one keeps docs
    assert any(r["n_sampled"] < r["n_docs"] for r in a.values())
    assert any(r["n_sampled"] > 0 for r in a.values())


def test_pack_sequences_partitions_every_doc_once(spark):
    out = pack_sequences(spark, SF_DIR).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert sum(r["n_docs"] for r in out) == docs.count()
    for r in out:
        # a sequence never holds more docs than fit at 1 token each
        assert 1 <= r["n_docs"] <= SEQ_BUDGET
        assert r["first_doc_id"] <= r["last_doc_id"]
    # seq ids are dense enough: every source starts at sequence 0
    sources = {r["source"] for r in out}
    zero = {r["source"] for r in out if r["seq_id"] == 0}
    assert zero == sources


def test_pack_known_values(spark, tmp_path):
    # one source, docs of 3 tokens each, budget 256 → first 86 docs
    # start under offset 256 (85*3=255 < 256), doc 87 starts seq 1
    rows = [(i, "a b c", "en", "s0", 5) for i in range(1, 91)]
    d = tmp_path / "docs"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(d / "documents.parquet"))
    out = {r["seq_id"]: r for r in pack_sequences(spark, str(d)).collect()}
    assert out[0]["n_docs"] == 86 and out[0]["seq_tokens"] == 258
    assert out[1]["n_docs"] == 4
    assert out[1]["first_doc_id"] == 87


def test_source_doc_cap_matches_one_window_form_and_caps(spark):
    """The two-phase (salted) top-K must equal the naive per-source
    ROW_NUMBER window row-for-row, honor the cap, and its plan's
    row-scale window must be partitioned by (source, _salt) — the
    source-only window runs over the bounded survivor relation only."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from automate_data_ingestion_project_spark.analytics.mixing import (
        DOC_CAP,
        _scramble,
        source_doc_cap,
    )
    from automate_data_ingestion_project_spark.io import load_table

    df = source_doc_cap(spark, SF_DIR)
    got = sorted(tuple(r) for r in df.collect())

    docs = load_table(spark, SF_DIR, "documents")
    w = Window.partitionBy("source").orderBy(
        F.expr(_scramble("spark", "cap")), "doc_id"
    )
    naive = (
        docs.withColumn("keep_rank", F.row_number().over(w))
        .filter(F.col("keep_rank") <= DOC_CAP)
        .select("doc_id", "source", "keep_rank")
    )
    want = sorted(tuple(r) for r in naive.collect())
    assert got == want and len(got) > 0
    per_source: dict[str, int] = {}
    for _, s, rk in got:
        per_source[s] = max(per_source.get(s, 0), rk)
        assert 1 <= rk <= DOC_CAP
    assert all(v <= DOC_CAP for v in per_source.values())
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan  # phase-1 window carries the salt key


def test_source_token_budget_cap_matches_one_window_form(spark):
    """The two-phase prefix sum in scramble space must equal the naive
    per-source ordered window row-for-row, every kept doc's running
    total must respect the budget, and the plan's row-scale window must
    be partitioned by the hash-range bucket."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from automate_data_ingestion_project_spark.analytics.mixing import (
        TOKEN_BUDGET,
        _scramble,
        source_token_budget_cap,
    )
    from automate_data_ingestion_project_spark.io import load_table
    from automate_data_ingestion_project_spark.textops import analysis as ta

    df = source_token_budget_cap(spark, SF_DIR)
    got = sorted(tuple(r) for r in df.collect())

    docs = load_table(spark, SF_DIR, "documents")
    sized = docs.select(
        "doc_id",
        "source",
        F.expr(ta.n_tokens("text", "spark")).alias("n_tokens"),
        F.expr(_scramble("spark", "budget")).alias("_hkey"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("_hkey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    naive = (
        sized.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )
    want = sorted(tuple(r) for r in naive.collect())
    assert got == want and len(got) > 0
    assert all(r[3] <= TOKEN_BUDGET for r in got)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(source" in plan and "_hbucket" in plan
    # the tiny (source, bucket) offsets relation joins back broadcast —
    # the docs relation is never reshuffled for the offset join
    assert "BroadcastHashJoin" in plan


def test_export_token_shards_matches_one_window_form(spark):
    """The global two-phase prefix sum must equal the naive single
    global ordered window shard-for-shard; every doc must land in
    exactly one shard; each shard's token total may exceed the budget
    only by its final document's overhang (the starting-offset rule);
    the written layout must hold one directory per shard; and the plan
    must keep the row-scale window partitioned by the hash bucket with
    the offsets joined back broadcast."""
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from automate_data_ingestion_project_spark.analytics.load import (
        scratch_path,
    )
    from automate_data_ingestion_project_spark.analytics.mixing import (
        SHARD_BUDGET,
        _scramble,
        export_token_shards,
    )
    from automate_data_ingestion_project_spark.io import load_table
    from automate_data_ingestion_project_spark.textops import analysis as ta

    df = export_token_shards(spark, SF_DIR)
    got = sorted(tuple(r) for r in df.collect())

    docs = load_table(spark, SF_DIR, "documents")
    sized = docs.select(
        "doc_id",
        F.expr(ta.n_tokens("text", "spark")).alias("n_tokens"),
        F.expr(_scramble("spark", "shard")).alias("_hkey"),
    )
    w = Window.orderBy("_hkey", "doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    naive = (
        sized.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .withColumn(
            "shard_id", F.expr(f"(cum_tokens - n_tokens) div {SHARD_BUDGET}")
        )
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
    )
    want = sorted(tuple(r) for r in naive.collect())
    assert got == want and len(got) > 0
    # every doc exported exactly once
    assert sum(r[1] for r in got) == docs.count()
    # a shard overruns the budget only by its last doc's overhang
    max_doc_tokens = sized.agg(F.max("n_tokens")).collect()[0][0]
    assert all(r[2] < SHARD_BUDGET + max_doc_tokens for r in got)
    # written layout: one partition directory per shard
    out = os.path.join(scratch_path("token_shards"), "shards")
    dirs = {d for d in os.listdir(out) if d.startswith("shard_id=")}
    assert len(dirs) == len(got)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan  # stats come from the WRITTEN files


def test_export_token_shards_plan_is_bucket_partitioned(spark):
    """Plan pin on the ASSIGNMENT side (pre-write): the row-scale
    cumulative window is partitioned by _hbucket (never a global
    unpartitioned window over the corpus) and the tiny offsets relation
    joins back broadcast."""
    from pyspark.sql import functions as F

    from automate_data_ingestion_project_spark.analytics.mixing import (
        _HBUCKET_DIV,
        _scramble,
    )
    from automate_data_ingestion_project_spark.io import load_table
    from automate_data_ingestion_project_spark.textops import analysis as ta
    from pyspark.sql import Window

    docs = load_table(spark, SF_DIR, "documents")
    sized = docs.select(
        "doc_id",
        F.expr(ta.n_tokens("text", "spark")).alias("n_tokens"),
        F.expr(_scramble("spark", "shard")).alias("_hkey"),
    ).withColumn("_hbucket", F.expr(f"_hkey div {_HBUCKET_DIV}"))
    totals = sized.groupBy("_hbucket").agg(F.sum("n_tokens").alias("_total"))
    off_w = Window.orderBy("_hbucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "_hbucket",
        F.coalesce(F.sum("_total").over(off_w), F.lit(0)).alias("_offset"),
    )
    in_bucket = (
        Window.partitionBy("_hbucket")
        .orderBy("_hkey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    assigned = sized.join(F.broadcast(offsets), "_hbucket").withColumn(
        "cum_tokens", F.col("_offset") + F.sum("n_tokens").over(in_bucket)
    )
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(_hbucket" in plan
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize(
    "name",
    [
        "corpus_sample_mix",
        "pack_sequences",
        "source_doc_cap",
        "source_token_budget_cap",
        "export_token_shards",
        "incremental_shard_export",
        "stream_shard_export",
        "shard_manifest",
    ],
)
def test_oracle_parity(spark, name):
    con = duckdb_connection(SF_DIR)
    res = compare(
        entry.queries()[name](spark, SF_DIR), con, entry.oracle_sql()[name]
    )
    assert res["ok"], res


def _file_md5s(root):
    """{relative parquet path: md5} under a shard tree."""
    import hashlib
    import os

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            p = os.path.join(dirpath, f)
            out[os.path.relpath(p, root)] = hashlib.md5(
                open(p, "rb").read()
            ).hexdigest()
    return out


def test_incremental_shard_append_is_byte_stable(spark, tmp_path):
    """Appending a batch must only ADD files under the new batch's
    batch_seq leaves — every file batch 0 wrote stays byte-identical
    (closed shards are never rewritten), the tail shard is FILLED
    across batches, and per-shard stats equal a from-scratch export in
    the (batch_seq, scramble, doc_id) walk order."""
    from pyspark.sql import Window, functions as F

    from automate_data_ingestion_project_spark.analytics.mixing import (
        append_token_shard_batch,
        shard_store_paths,
    )
    from automate_data_ingestion_project_spark.io import load_table
    from automate_data_ingestion_project_spark.textops import analysis as ta

    docs = load_table(spark, SF_DIR, "documents")
    root = str(tmp_path / "store")
    budget = 5000  # ~6 shards at sf0.001, with a cross-batch one
    b0 = docs.filter(F.col("doc_id") % 3 != 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 0)
    append_token_shard_batch(spark, b0, root, 0, budget=budget)
    shards_path, _ = shard_store_paths(root)
    before = _file_md5s(shards_path)
    assert before  # batch 0 wrote files

    append_token_shard_batch(spark, b1, root, 1, budget=budget)
    after = _file_md5s(shards_path)
    # every batch-0 file is still there, byte-identical
    assert {p: after[p] for p in before} == before
    # every NEW file lives under a batch_seq=1 leaf
    assert all("batch_seq=1" in p for p in set(after) - set(before))

    # stats match a from-scratch export in the same walk order
    got = {
        r.shard_id: (r.n_docs, r.shard_tokens)
        for r in spark.read.parquet(shards_path)
        .groupBy(F.col("shard_id").cast("bigint").alias("shard_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
        )
        .collect()
    }
    sized = docs.select(
        "doc_id",
        F.expr(ta.n_tokens("text", "spark")).alias("n_tokens"),
        F.expr(
            "cast(conv(substr(md5(concat('shard:', cast(doc_id as string)))"
            ", 1, 14), 16, 10) as bigint)"
        ).alias("hkey"),
        (F.col("doc_id") % 3 == 0).cast("int").alias("batch_seq"),
    )
    w = Window.orderBy("batch_seq", "hkey", "doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    expected = {
        r.shard_id: (r.n_docs, r.shard_tokens)
        for r in sized.withColumn("cum", F.sum("n_tokens").over(w))
        .withColumn("shard_id", F.expr(f"(cum - n_tokens) div {budget}"))
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
        )
        .collect()
    }
    assert got == expected
    # cross-batch filling actually happened: some shard holds both
    n_batches = {
        r.shard_id: r.nb
        for r in spark.read.parquet(shards_path)
        .groupBy("shard_id")
        .agg(F.countDistinct("batch_seq").alias("nb"))
        .collect()
    }
    assert max(n_batches.values()) == 2


def test_incremental_shard_append_replay_and_order_guard(spark, tmp_path):
    """A replayed committed batch is a no-op (ledger = commit marker);
    an out-of-order append raises before touching the store."""
    import pytest
    from pyspark.sql import functions as F

    from automate_data_ingestion_project_spark.analytics.mixing import (
        append_token_shard_batch,
        shard_store_paths,
    )
    from automate_data_ingestion_project_spark.io import load_table

    docs = load_table(spark, SF_DIR, "documents")
    root = str(tmp_path / "store")
    append_token_shard_batch(spark, docs.filter("doc_id % 3 = 1"), root, 0)
    append_token_shard_batch(spark, docs.filter("doc_id % 3 = 2"), root, 2)
    shards_path, ledger_path = shard_store_paths(root)
    before = _file_md5s(shards_path)
    # replay of committed batch 0: nothing changes, nothing is deleted
    append_token_shard_batch(spark, docs.filter("doc_id % 3 = 1"), root, 0)
    assert _file_md5s(shards_path) == before
    # an orphan leaf of the rejected seq (a crashed earlier attempt):
    # the order check must fire before the self-heal would delete it
    import os
    import shutil

    from automate_data_ingestion_project_spark.io.maintenance import (
        committed_batch_seqs,
    )

    src = next(p for p in before if "batch_seq=0" in p)
    orphan = src.replace("batch_seq=0", "batch_seq=1")
    os.makedirs(os.path.dirname(os.path.join(shards_path, orphan)))
    shutil.copy(
        os.path.join(shards_path, src), os.path.join(shards_path, orphan)
    )
    before = _file_md5s(shards_path)
    seqs = committed_batch_seqs(spark, ledger_path)
    # an UNCOMMITTED seq below the committed max: the offset arithmetic
    # would be wrong — must raise, before any filesystem mutation
    with pytest.raises(ValueError, match="ordered"):
        append_token_shard_batch(
            spark, docs.filter("doc_id % 3 = 0"), root, 1
        )
    assert _file_md5s(shards_path) == before
    assert committed_batch_seqs(spark, ledger_path) == seqs == {0, 2}


def test_incremental_shard_append_crash_retry_self_heals(
    spark, tmp_path, monkeypatch
):
    """A crash AFTER the batch's data files land but BEFORE its ledger
    commit leaves orphans; the retried append must delete exactly this
    batch's leaves and rewrite them — no duplicated docs, earlier
    batches untouched."""
    import pytest
    from pyspark.sql import functions as F

    from automate_data_ingestion_project_spark.analytics.mixing import (
        append_token_shard_batch,
        shard_store_paths,
    )
    from automate_data_ingestion_project_spark.io import load_table

    docs = load_table(spark, SF_DIR, "documents")
    root = str(tmp_path / "store")
    shards_path, ledger_path = shard_store_paths(root)
    append_token_shard_batch(spark, docs.filter("doc_id % 3 != 0"), root, 0)
    batch0_files = _file_md5s(shards_path)

    import automate_data_ingestion_project_spark.io.maintenance as maint

    real_append = maint.append_ledger_row

    def crash_on_ledger(spark_, lp, batch_seq, counts):
        if lp == ledger_path:
            raise RuntimeError("injected crash before ledger commit")
        return real_append(spark_, lp, batch_seq, counts)

    monkeypatch.setattr(maint, "append_ledger_row", crash_on_ledger)
    with pytest.raises(RuntimeError, match="injected crash"):
        append_token_shard_batch(spark, docs.filter("doc_id % 3 = 0"), root, 1)
    monkeypatch.setattr(maint, "append_ledger_row", real_append)

    # orphan batch-1 files exist, but the ledger has no batch-1 row
    assert any("batch_seq=1" in p for p in _file_md5s(shards_path))
    assert spark.read.parquet(ledger_path).filter("batch_seq = 1").count() == 0

    # retry: self-heal wipes the orphans, rewrites, commits
    append_token_shard_batch(spark, docs.filter("doc_id % 3 = 0"), root, 1)
    spark.catalog.refreshByPath(shards_path)
    exported = spark.read.parquet(shards_path)
    # no duplicated docs anywhere
    assert exported.count() == exported.select("doc_id").distinct().count()
    assert exported.count() == docs.count()
    # batch-0 files were never candidates for the self-heal
    after = _file_md5s(shards_path)
    assert {p: after[p] for p in batch0_files} == batch0_files


def test_incremental_shard_append_empty_batches(spark, tmp_path):
    """Empty batches are valid epochs at any position (the r11 verdict's
    red row: a crawl gap or zero-row input file must not kill the
    store). An empty FIRST batch on a fresh store commits a
    (0, 0, 0) ledger row without creating a schema-less shards/ dir; an
    empty MIDDLE batch keeps the token offset unchanged so the next
    real batch continues exactly where the previous one ended; a
    replayed empty batch is a no-op."""
    from automate_data_ingestion_project_spark.analytics.mixing import (
        append_token_shard_batch,
        shard_store_paths,
    )

    root = str(tmp_path / "store")
    shards_path, ledger_path = shard_store_paths(root)
    empty = spark.createDataFrame([], "doc_id long, text string")

    # empty FIRST batch on a fresh store: ledger row, no shard files
    append_token_shard_batch(spark, empty, root, 0, budget=10)
    ledger = {
        r.batch_seq: (r.n_docs, r.n_tokens)
        for r in spark.read.parquet(ledger_path).collect()
    }
    assert ledger == {0: (0, 0)}
    assert not _file_md5s(shards_path)

    # real batch lands at offset 0 (the empty batch contributed none)
    b1 = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "g h i j k l")], "doc_id long, text string"
    )
    append_token_shard_batch(spark, b1, root, 1, budget=10)
    before = _file_md5s(shards_path)
    assert before

    # empty MIDDLE batch: committed, files untouched
    append_token_shard_batch(spark, empty, root, 2, budget=10)
    assert _file_md5s(shards_path) == before
    # replay of the committed empty batch: no-op, no duplicate row
    append_token_shard_batch(spark, empty, root, 2, budget=10)
    ledger_df = spark.read.parquet(ledger_path)
    assert ledger_df.filter("batch_seq = 2").count() == 1

    # the next real batch continues from batch 1's offset (12 tokens →
    # shard 1 with budget 10), proving the empty batch added 0
    b3 = spark.createDataFrame([(3, "m n o p q r")], "doc_id long, text string")
    append_token_shard_batch(spark, b3, root, 3, budget=10)
    spark.catalog.refreshByPath(shards_path)
    got = {
        r.doc_id: int(r.shard_id)
        for r in spark.read.parquet(shards_path).collect()
    }
    assert got == {1: 0, 2: 0, 3: 1}


def test_incremental_shard_append_distributed_readback_matches_footers(
    spark, tmp_path, monkeypatch
):
    """A large or remote batch takes the distributed read-back of its
    written files instead of the driver-side footer read; both must
    commit the same ledger counts."""
    import automate_data_ingestion_project_spark.io.maintenance as maint
    from automate_data_ingestion_project_spark.analytics.mixing import (
        append_token_shard_batch,
        shard_store_paths,
    )
    from automate_data_ingestion_project_spark.io import load_table

    docs = load_table(spark, SF_DIR, "documents")

    def ledger_after_two_batches(root):
        append_token_shard_batch(spark, docs.filter("doc_id % 3 = 0"), root, 0)
        append_token_shard_batch(spark, docs.filter("doc_id % 3 != 0"), root, 1)
        _, ledger_path = shard_store_paths(root)
        return sorted(
            (r.batch_seq, r.n_docs, r.n_tokens)
            for r in spark.read.parquet(ledger_path).collect()
        )

    footers = ledger_after_two_batches(str(tmp_path / "footers"))
    monkeypatch.setattr(maint, "footer_column_sum", lambda *a, **k: None)
    readback = ledger_after_two_batches(str(tmp_path / "readback"))
    assert readback == footers
    assert [n_docs > 0 for _, n_docs, _ in readback] == [True, True]


def test_scrambled_cum_tokens_plan_shape(spark):
    """The factored prefix-sum helper (shared by the budget cap, both
    shard exports, and the incremental append) must keep its scale
    shape wherever it is reused: the row-scale window partitioned by
    the hash-range bucket (never by a corpus-growing key alone) and
    the tiny bucket-offsets relation joined back broadcast."""
    from pyspark.sql import functions as F

    from automate_data_ingestion_project_spark.analytics.mixing import (
        scrambled_cum_tokens,
    )
    from automate_data_ingestion_project_spark.io import load_table
    from automate_data_ingestion_project_spark.textops import analysis as ta

    docs = load_table(spark, SF_DIR, "documents")
    sized = docs.select(
        "doc_id",
        "source",
        F.expr(ta.n_tokens("text", "spark")).alias("n_tokens"),
    )
    grouped = scrambled_cum_tokens(sized, "cap", by=("source",))
    plan = grouped._jdf.queryExecution().executedPlan().toString()
    # row-scale window keyed by (source, _hbucket) — never source alone
    assert any(
        "windowspecdefinition(source" in ln and "_hbucket" in ln
        for ln in plan.splitlines()
    )
    assert "BroadcastHashJoin" in plan

    glob = scrambled_cum_tokens(sized.drop("source"), "shard")
    plan = glob._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(_hbucket" in plan
    assert "BroadcastHashJoin" in plan
    # correctness of the factored form vs the naive global window
    from pyspark.sql import Window

    w = Window.orderBy(F.col("_hkey"), F.col("doc_id")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    naive = (
        sized.drop("source")
        .withColumn(
            "_hkey",
            F.expr(
                "cast(conv(substr(md5(concat('shard:', cast(doc_id as "
                "string))), 1, 14), 16, 10) as bigint)"
            ),
        )
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
    )
    got = sorted(
        (r.doc_id, r.cum_tokens) for r in glob.collect()
    )
    want = sorted(
        (r.doc_id, r.cum_tokens) for r in naive.collect()
    )
    assert got == want


def test_verify_shard_manifest_detects_planted_corruption(spark, tmp_path):
    """The loader-side integrity check: a healthy export verifies ok on
    every shard; corrupting ONE document's text in one shard file flips
    exactly that shard's fingerprint verdict (counts unchanged), and a
    shard missing from the manifest surfaces as a not-ok row."""
    from pyspark.sql import functions as F

    from automate_data_ingestion_project_spark.analytics.mixing import (
        append_token_shard_batch,
        shard_store_paths,
        verify_shard_manifest,
        _content_fp,
    )
    from automate_data_ingestion_project_spark.io import load_table

    docs = load_table(spark, SF_DIR, "documents")
    root = str(tmp_path / "store")
    append_token_shard_batch(spark, docs, root, 0, budget=5000)
    shards_path, _ = shard_store_paths(root)
    exported = spark.read.parquet(shards_path)
    manifest = exported.groupBy(
        F.col("shard_id").cast("bigint").alias("shard_id")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
        F.expr(f"bit_xor({_content_fp('spark')})").alias("content_fp"),
    )
    manifest_rows = manifest.collect()  # freeze before tampering
    frozen = spark.createDataFrame(manifest_rows, manifest.schema)

    # healthy: every shard ok
    healthy = verify_shard_manifest(exported, frozen).collect()
    assert healthy and all(r.ok for r in healthy)

    # corrupt one doc's text (same token count, different bytes)
    victim = exported.orderBy("doc_id").first()
    tampered = exported.withColumn(
        "text",
        F.when(
            F.col("doc_id") == victim.doc_id,
            F.concat(F.lit("zz"), F.col("text")),
        ).otherwise(F.col("text")),
    )
    report = {
        r.shard_id: r.ok
        for r in verify_shard_manifest(tampered, frozen).collect()
    }
    assert report[victim.shard_id] is False
    assert all(ok for sid, ok in report.items() if sid != victim.shard_id)

    # a shard the manifest doesn't know about is flagged, not ignored
    partial = frozen.filter(F.col("shard_id") != victim.shard_id)
    report2 = {
        r.shard_id: r.ok
        for r in verify_shard_manifest(exported, partial).collect()
    }
    assert report2[victim.shard_id] is False


def test_shard_store_compaction_preserves_content_and_append_path(
    spark, tmp_path
):
    """Compaction collapses the per-epoch small files to ONE file per
    shard (reserved batch_seq=-1 generation), preserves every document
    (content fingerprint per shard unchanged), leaves the ledger's
    replay guard working, and a post-compaction append lands at the
    correct token offset beside the compacted generation."""
    from pyspark.sql import functions as F

    from automate_data_ingestion_project_spark.analytics.mixing import (
        append_token_shard_batch,
        shard_store_paths,
    )
    from automate_data_ingestion_project_spark.io import load_table
    from automate_data_ingestion_project_spark.io.maintenance import (
        compact_store_tree,
        data_file_count,
    )

    docs = load_table(spark, SF_DIR, "documents")
    root = str(tmp_path / "store")
    budget = 5000
    append_token_shard_batch(
        spark, docs.filter("doc_id % 3 = 1"), root, 0, budget=budget
    )
    append_token_shard_batch(
        spark, docs.filter("doc_id % 3 = 2"), root, 1, budget=budget
    )
    shards_path, ledger_path = shard_store_paths(root)

    def fingerprints():
        return {
            r.shard_id: (r.n, r.fp)
            for r in spark.read.parquet(shards_path)
            .groupBy(F.col("shard_id").cast("bigint").alias("shard_id"))
            .agg(
                F.count("*").alias("n"),
                F.expr(
                    "bit_xor(cast(conv(substr(md5(concat(cast(doc_id as "
                    "string), ':', text)), 1, 14), 16, 10) as bigint))"
                ).alias("fp"),
            )
            .collect()
        }

    before = fingerprints()
    n_shards = len(before)
    assert data_file_count(spark, shards_path) > n_shards  # split files

    n = compact_store_tree(spark, shards_path, "shard_id", "doc_id")
    assert n == sum(c for c, _ in before.values())
    # one file per shard, all in the compacted generation
    assert data_file_count(spark, shards_path) == n_shards
    compacted = spark.read.parquet(shards_path)
    assert {r.batch_seq for r in compacted.select("batch_seq").distinct().collect()} == {-1}
    assert fingerprints() == before

    # ledger untouched: a replay of committed batch 1 is still a no-op
    files_now = data_file_count(spark, shards_path)
    append_token_shard_batch(
        spark, docs.filter("doc_id % 3 = 2"), root, 1, budget=budget
    )
    assert data_file_count(spark, shards_path) == files_now

    # a NEW batch appends beside the compacted generation at the right
    # offset: total per-shard assignment equals a never-compacted store
    append_token_shard_batch(
        spark, docs.filter("doc_id % 3 = 0"), root, 2, budget=budget
    )
    spark.catalog.refreshByPath(shards_path)
    got = {
        r.doc_id: int(r.shard_id)
        for r in spark.read.parquet(shards_path).collect()
    }

    root2 = str(tmp_path / "store_nocompact")
    append_token_shard_batch(
        spark, docs.filter("doc_id % 3 = 1"), root2, 0, budget=budget
    )
    append_token_shard_batch(
        spark, docs.filter("doc_id % 3 = 2"), root2, 1, budget=budget
    )
    append_token_shard_batch(
        spark, docs.filter("doc_id % 3 = 0"), root2, 2, budget=budget
    )
    shards2, _ = shard_store_paths(root2)
    want = {
        r.doc_id: int(r.shard_id)
        for r in spark.read.parquet(shards2).collect()
    }
    assert got == want


def test_compaction_swap_crash_recovery(spark, tmp_path):
    """A compaction that crashed between the two swap renames leaves
    live missing and live.old intact; the next compaction call must
    restore and complete (content preserved)."""
    from automate_data_ingestion_project_spark.analytics.mixing import (
        append_token_shard_batch,
        shard_store_paths,
    )
    from automate_data_ingestion_project_spark.io import load_table
    from automate_data_ingestion_project_spark.io.maintenance import (
        compact_store_tree,
        data_file_count,
    )

    docs = load_table(spark, SF_DIR, "documents")
    root = str(tmp_path / "store")
    append_token_shard_batch(spark, docs.filter("doc_id % 3 = 1"), root, 0)
    append_token_shard_batch(spark, docs.filter("doc_id % 3 = 2"), root, 1)
    shards_path, _ = shard_store_paths(root)
    n_total = spark.read.parquet(shards_path).count()

    # simulate the crash window: live renamed away, tmp half-built
    import os
    import shutil

    os.rename(shards_path, shards_path + ".old")
    os.makedirs(shards_path + ".compact")

    n = compact_store_tree(spark, shards_path, "shard_id", "doc_id")
    assert n == n_total
    spark.catalog.refreshByPath(shards_path)
    after = spark.read.parquet(shards_path)
    assert after.count() == n_total
    assert not os.path.exists(shards_path + ".old")
    assert not os.path.exists(shards_path + ".compact")


def test_vacuum_drops_only_uncommitted_leaves(spark, tmp_path, monkeypatch):
    """vacuum_store: after a crashed append that was never retried, the
    orphan batch_seq leaves are deleted; committed generations (and a
    compacted generation) are never candidates."""
    import pytest

    from automate_data_ingestion_project_spark.analytics.mixing import (
        append_token_shard_batch,
        shard_store_paths,
    )
    from automate_data_ingestion_project_spark.io import load_table
    from automate_data_ingestion_project_spark.io.maintenance import (
        vacuum_store,
    )

    docs = load_table(spark, SF_DIR, "documents")
    root = str(tmp_path / "store")
    shards_path, ledger_path = shard_store_paths(root)
    append_token_shard_batch(spark, docs.filter("doc_id % 3 = 1"), root, 0)

    import automate_data_ingestion_project_spark.io.maintenance as maint

    real_append = maint.append_ledger_row

    def crash_on_ledger(spark_, lp, batch_seq, counts):
        if lp == ledger_path:
            raise RuntimeError("injected crash before ledger commit")
        return real_append(spark_, lp, batch_seq, counts)

    monkeypatch.setattr(maint, "append_ledger_row", crash_on_ledger)
    with pytest.raises(RuntimeError, match="injected crash"):
        append_token_shard_batch(spark, docs.filter("doc_id % 3 = 2"), root, 1)
    monkeypatch.setattr(maint, "append_ledger_row", real_append)

    before = _file_md5s(shards_path)
    assert any("batch_seq=1" in p for p in before)  # orphans present

    dropped = vacuum_store(spark, shards_path, ledger_path)
    assert dropped > 0
    after = _file_md5s(shards_path)
    assert not any("batch_seq=1" in p for p in after)
    # committed batch-0 files byte-untouched
    assert after == {p: h for p, h in before.items() if "batch_seq=0" in p}
    # a second vacuum is a no-op
    assert vacuum_store(spark, shards_path, ledger_path) == 0


def test_asof_read_raises_on_compacted_store(spark, tmp_path):
    """read_store_asof: correct per-generation content on a live store;
    an explicit error once compaction collapsed history."""
    import pytest

    from automate_data_ingestion_project_spark.analytics.mixing import (
        append_token_shard_batch,
        shard_store_paths,
    )
    from automate_data_ingestion_project_spark.io import load_table
    from automate_data_ingestion_project_spark.io.maintenance import (
        compact_store_tree,
        read_store_asof,
    )

    docs = load_table(spark, SF_DIR, "documents")
    root = str(tmp_path / "store")
    append_token_shard_batch(spark, docs.filter("doc_id % 3 = 1"), root, 0)
    append_token_shard_batch(spark, docs.filter("doc_id % 3 = 2"), root, 1)
    shards_path, _ = shard_store_paths(root)

    asof0 = read_store_asof(spark, shards_path, 0)
    want0 = docs.filter("doc_id % 3 = 1").count()
    assert asof0.count() == want0
    assert read_store_asof(spark, shards_path, 1).count() == docs.filter(
        "doc_id % 3 != 0"
    ).count()

    compact_store_tree(spark, shards_path, "shard_id", "doc_id")
    with pytest.raises(ValueError, match="compacted"):
        read_store_asof(spark, shards_path, 0)
