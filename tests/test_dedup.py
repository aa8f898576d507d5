"""Dedup operators: exact collapse, MinHash planted-pair recovery, and
the LSH candidate-generation property (no all-pairs)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from automate_data_ingestion_project_spark.io import load_table
from automate_data_ingestion_project_spark.textops.dedup import (
    candidate_pairs,
    exact_dedup_summary,
    lsh_band_keys,
    minhash_signatures,
    shingle,
    verified_near_duplicates,
)


def test_exact_dedup_collapses_verbatim_copies(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z")], "doc_id long, text string"
    )
    out = {r.content_hash: r for r in exact_dedup_summary(df).collect()}
    assert len(out) == 2
    h = hashlib.sha256(b"a b c").hexdigest()
    assert out[h].kept_doc_id == 1 and out[h].n_copies == 2


def test_shingle_semantics(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, "a b c")], "doc_id long, text string"
    )
    rows = {r.doc_id: r.shingles for r in shingle(df).collect()}
    assert rows[1] == ["a b c", "b c d"]
    assert rows[3] == ["a b c"]
    assert 2 not in rows  # too short for a 3-shingle


def test_minhash_similar_docs_share_signature_entries(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [(1, base), (2, "zz " + base), (3, "totally different words here now ok")],
        "doc_id long, text string",
    )
    sigs = {
        r.doc_id: r.sigs for r in minhash_signatures(shingle(df)).collect()
    }
    agree_12 = sum(a == b for a, b in zip(sigs[1], sigs[2]))
    agree_13 = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    assert agree_12 > agree_13
    assert agree_12 >= 24  # j ≈ 0.92 → most of 32 entries agree


def test_lsh_pipeline_recovers_planted_pair_only(spark):
    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, "pre " + base),
            (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        ],
        "doc_id long, text string",
    )
    shingled = shingle(df)
    pairs = candidate_pairs(lsh_band_keys(minhash_signatures(shingled)))
    verified = verified_near_duplicates(shingled, pairs)
    got = {(r.doc_id_a, r.doc_id_b): r.jaccard for r in verified.collect()}
    assert set(got) == {(1, 2)}
    # prepending 1 word to 18: 16 shared of 17 union
    assert abs(got[(1, 2)] - 16 / 17) < 1e-12


def test_candidate_join_is_on_band_key_not_cross(spark, sf_dir):
    """The candidate join must be an equi-join on band_key (hash-joinable,
    bucket-local) — a cross product would be the 100 TB killer."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(50)
    bands = lsh_band_keys(minhash_signatures(shingle(docs)))
    plan = candidate_pairs(bands)._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_connected_components_multi_hop_chain(spark):
    """A-B, B-C, C-D must collapse into ONE component labeled min(id);
    an isolated pair stays its own component."""
    from automate_data_ingestion_project_spark.textops.components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "doc_id_a long, doc_id_b long"
    )
    got = {r.node: r.component_id for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_incremental_filter_flags_planted_variants(spark):
    from automate_data_ingestion_project_spark.analytics.dedup import (
        incremental_neardup_filter,
    )

    rows = incremental_neardup_filter(spark, "/root/testdata/sf0.001").collect()
    # one output row per batch (variant) doc, each planted as a near-dup
    assert rows and all(r["batch_id"] >= 100000 for r in rows)
    flagged = [r for r in rows if r["is_near_dup"]]
    # every variant differs from its original by ONE prepended token —
    # Jaccard ≈ (s-2)/(s-1) >> 0.5, so the filter must catch them all
    assert len(flagged) == len(rows)
    for r in flagged:
        assert r["n_candidates"] >= r["n_verified_dups"] >= 1


def test_shingle_rows_equals_array_form(spark):
    from automate_data_ingestion_project_spark.textops.dedup import (
        shingle,
        shingle_rows,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c"),
            (3, "x y"),  # too short: no shingles
            (4, "a a a a"),  # duplicate shingles collapse
        ],
        "doc_id int, text string",
    )
    via_array = {
        (r.doc_id, r.s)
        for r in shingle(df)
        .select("doc_id", F.explode("shingles").alias("s"))
        .collect()
    }
    via_rows = {(r.doc_id, r.s) for r in shingle_rows(df).collect()}
    assert via_rows == via_array
    assert (1, "a b c") in via_rows and (3, "x y") not in {
        (d, s) for d, s in via_rows if d == 3
    }
    assert [(d, s) for d, s in via_rows if d == 4] == [(4, "a a a")]


def test_ingest_loop_batch2_sees_batch1_appends(spark, tmp_path):
    """The maintained-index ingestion loop: batch-1's accepted docs are
    appended to the index, so batch-2 detects a near-dup OF A BATCH-1
    DOC — the cross-batch detection a build-once/read-only index
    cannot do. Also: replaying batch-1 must not double-append."""
    from automate_data_ingestion_project_spark.textops.neardup_index import (
        NearDupIndex,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "pack my box with five dozen liquor jugs for shipping"),
        ],
        "doc_id long, text string",
    )
    index = NearDupIndex.build(spark, corpus, str(tmp_path / "idx"))

    # batch 1: one near-dup of corpus doc 1, one novel doc
    novel = "completely different words about distributed query engines here"
    b1 = spark.createDataFrame(
        [
            (10, "xq the quick brown fox jumps over the lazy dog today"),
            (11, novel),
        ],
        "doc_id long, text string",
    )
    d1 = {r.batch_id: r.is_near_dup for r in index.ingest_batch(b1).collect()}
    assert d1 == {10: True, 11: False}
    # accepted doc 11 is now IN the index
    assert index.bands().filter("doc_id = 11").count() > 0
    # rejected doc 10 is NOT
    assert index.bands().filter("doc_id = 10").count() == 0

    # batch 2: a near-dup of BATCH-1's accepted doc 11
    b2 = spark.createDataFrame(
        [(20, "zz completely different words about distributed query engines here")],
        "doc_id long, text string",
    )
    d2 = {r.batch_id: r.is_near_dup for r in index.ingest_batch(b2).collect()}
    assert d2 == {20: True}

    # replaying batch 1 appends nothing new (id guard)
    n_before = index.bands().count()
    index.ingest_batch(b1).collect()
    assert index.bands().count() == n_before


def test_ingest_loop_empty_inputs_everywhere(spark, tmp_path):
    """The r12 empty-input sweep over the maintained near-dup store: an
    EMPTY corpus build, an empty FIRST batch, and an empty MIDDLE batch
    must all be harmless no-ops (crawl gaps and zero-row input files
    are normal for a continuous ingester), and detection must still
    work across them. Unlike the shard store's dynamic-partition write,
    the index's plain/bucketed appends leave schema-carrying zero-row
    files, so no short-circuit is needed — this pins that property."""
    from automate_data_ingestion_project_spark.textops.neardup_index import (
        NearDupIndex,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    doc = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    near = spark.createDataFrame(
        [(2, "xq the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )

    # plain index born from an EMPTY corpus
    index = NearDupIndex.build(spark, empty, str(tmp_path / "idx"))
    assert index.rows().count() == 0
    assert index.bands().count() == 0
    assert index.hashes().count() == 0
    # empty FIRST batch
    assert index.ingest_batch(empty).count() == 0
    # a real batch lands and is indexed
    assert {
        r.batch_id: r.is_near_dup for r in index.ingest_batch(doc).collect()
    } == {1: False}
    # empty MIDDLE batch leaves the index intact
    n_bands = index.bands().count()
    assert index.ingest_batch(empty).count() == 0
    assert index.bands().count() == n_bands
    # detection still works across the empty epochs
    assert {
        r.batch_id: r.is_near_dup for r in index.ingest_batch(near).collect()
    } == {2: True}

    # bucketed variant: same sweep through the saveAsTable append path
    bucketed = NearDupIndex.build(
        spark, empty, str(tmp_path / "idx_b"), bucket_bands=4
    )
    assert bucketed.ingest_batch(empty).count() == 0
    assert {
        r.batch_id: r.is_near_dup for r in bucketed.ingest_batch(doc).collect()
    } == {1: False}
    assert {
        r.batch_id: r.is_near_dup
        for r in bucketed.ingest_batch(near).collect()
    } == {2: True}


def test_bucketed_ingest_loop_appends_preserve_bucket_layout(spark, tmp_path):
    """The bucketed index variant must run the SAME ingestion loop:
    cross-batch detection through a saveAsTable append (Spark validates
    the bucket spec, so appended bands land in the same band_key
    buckets) and the replay id-guard, with the catalog table — not the
    parquet dir — serving every read."""
    from automate_data_ingestion_project_spark.textops.neardup_index import (
        NearDupIndex,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "pack my box with five dozen liquor jugs for shipping"),
        ],
        "doc_id long, text string",
    )
    index = NearDupIndex.build(
        spark, corpus, str(tmp_path / "idx"), bucket_bands=4
    )
    try:
        novel = "completely different words about distributed query engines"
        b1 = spark.createDataFrame(
            [
                (10, "xq the quick brown fox jumps over the lazy dog today"),
                (11, novel),
            ],
            "doc_id long, text string",
        )
        d1 = {
            r.batch_id: r.is_near_dup for r in index.ingest_batch(b1).collect()
        }
        assert d1 == {10: True, 11: False}
        b2 = spark.createDataFrame(
            [(20, "zz " + novel)], "doc_id long, text string"
        )
        # the big-batch (non-broadcast) probe path over the appended table
        d2 = {
            r.batch_id: r.is_near_dup
            for r in index.filter_batch(b2, broadcast_batch=False).collect()
        }
        assert d2 == {20: True}
        n_before = index.bands().count()
        index.ingest_batch(b1).collect()
        assert index.bands().count() == n_before
        # every read is catalog-backed; bucket spec survived the appends
        desc = spark.sql(
            f"DESCRIBE TABLE EXTENDED {index.bands_table}"
        ).collect()
        desc_text = "\n".join(f"{r.col_name} {r.data_type}" for r in desc)
        assert "band_key" in desc_text and "Num Buckets 4" in desc_text
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {index.bands_table}")


def test_ingest_replay_reproduces_original_decisions(spark, tmp_path):
    """At-least-once epoch replay: re-running a batch whose docs the
    first attempt ALREADY APPENDED must reproduce the original decision
    rows exactly — the probe excludes the batch's own ids from the
    index snapshot, so a doc is never its own near-dup candidate and
    its shingles are never double-counted in the Jaccard verify."""
    from automate_data_ingestion_project_spark.textops.neardup_index import (
        NearDupIndex,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    index = NearDupIndex.build(spark, corpus, str(tmp_path / "idx"))
    b1 = spark.createDataFrame(
        [
            (10, "xq the quick brown fox jumps over the lazy dog today"),
            (11, "completely different words about distributed query engines"),
        ],
        "doc_id long, text string",
    )
    first = sorted(tuple(r) for r in index.ingest_batch(b1).collect())
    # doc 11 is now IN the index; the replay must not see it as corpus
    replay = sorted(tuple(r) for r in index.ingest_batch(b1).collect())
    assert replay == first
    assert {r[0]: r[3] for r in first} == {10: True, 11: False}


def test_ingest_id_collision_guard(spark, tmp_path):
    """A batch doc REUSING an indexed id for DIFFERENT content violates
    the id/content-agreement precondition (replay safety would silently
    never compare the two contents). check_id_collisions=True must
    raise; a true replay (same id, same content) and a fresh batch must
    pass the same check."""
    import pytest

    from automate_data_ingestion_project_spark.textops.neardup_index import (
        NearDupIndex,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    index = NearDupIndex.build(spark, corpus, str(tmp_path / "idx"))
    novel = spark.createDataFrame(
        [(11, "completely different words about distributed query engines")],
        "doc_id long, text string",
    )
    # fresh batch: zero colliding ids, check is a no-op
    index.ingest_batch(novel, check_id_collisions=True).collect()
    # true replay: id 11 indexed with IDENTICAL content — allowed
    index.ingest_batch(novel, check_id_collisions=True).collect()
    # collision: id 11 reused for different content — must raise
    impostor = spark.createDataFrame(
        [(11, "some entirely unrelated impostor text goes right here")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="id/content collision.*11"):
        index.ingest_batch(impostor, check_id_collisions=True)


def test_collision_guard_covers_shingle_free_docs(spark, tmp_path):
    """Texts shorter than the shingle width (3 words) produce zero
    shingle rows and zero bands — invisible to any shingle-set
    comparison. The content-hash roster closes that gap: a sub-3-word
    doc's id reused for DIFFERENT sub-3-word content must raise, and a
    true short-doc replay must pass."""
    import pytest

    from automate_data_ingestion_project_spark.textops.neardup_index import (
        NearDupIndex,
    )

    corpus = spark.createDataFrame(
        [(1, "hi there"), (2, "the quick brown fox jumps over the dog")],
        "doc_id long, text string",
    )
    index = NearDupIndex.build(spark, corpus, str(tmp_path / "idx"))
    # roster covers the shingle-free doc even though bands/shingles don't
    assert 1 in {r.doc_id for r in index.hashes().collect()}
    # true replay of the short doc: same id, same content — allowed
    same = spark.createDataFrame([(1, "hi there")], "doc_id long, text string")
    index.ingest_batch(same, check_id_collisions=True).collect()
    # different sub-3-word content under the indexed id — must raise
    impostor = spark.createDataFrame(
        [(1, "bye now")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="id/content collision.*1"):
        index.ingest_batch(impostor, check_id_collisions=True)


def test_collision_guard_roster_extends_across_ingests(spark, tmp_path):
    """Docs accepted by an INGEST (not just the build) must join the
    roster, so a later batch colliding with an ingested id is caught
    by the hash path too — including shingle-free ingested docs."""
    import pytest

    from automate_data_ingestion_project_spark.textops.neardup_index import (
        NearDupIndex,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    index = NearDupIndex.build(spark, corpus, str(tmp_path / "idx"))
    short = spark.createDataFrame(
        [(42, "two words")], "doc_id long, text string"
    )
    index.ingest_batch(short, check_id_collisions=True).collect()
    assert 42 in {r.doc_id for r in index.hashes().collect()}
    # replay idempotence must hold for SHINGLE-FREE docs too: they have
    # no bands, so a band-seeded replay guard re-accepted them every
    # replay and duplicated their roster row — the guard must seed from
    # the roster, which covers them. Two replays, still one row.
    index.ingest_batch(short, check_id_collisions=True).collect()
    index.ingest_batch(short).collect()
    roster_rows = index.hashes().filter("doc_id = 42").collect()
    assert len(roster_rows) == 1
    impostor = spark.createDataFrame(
        [(42, "other words")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="id/content collision.*42"):
        index.ingest_batch(impostor, check_id_collisions=True)


def test_full_erasure_delete_compact_keeps_roster_collision_guard(
    spark, tmp_path
):
    """Deleting every document and compacting removes all three trees,
    the roster included. The next ingest must start the roster again:
    an absent roster is an empty one, so the ingested doc joins it and
    the collision guard keeps covering shingle-free docs (it used to
    stop writing roster rows for good once the tree was gone)."""
    import pytest

    from automate_data_ingestion_project_spark.textops.neardup_index import (
        NearDupIndex,
    )

    corpus = spark.createDataFrame(
        [(1, "hi there"), (2, "the quick brown fox jumps over the dog")],
        "doc_id long, text string",
    )
    index = NearDupIndex.build(spark, corpus, str(tmp_path / "idx"))
    index.delete_docs(corpus.select("doc_id"))
    index.compact()
    assert index.hashes().count() == 0

    short = spark.createDataFrame(
        [(7, "two words")], "doc_id long, text string"
    )
    index.ingest_batch(short, check_id_collisions=True).collect()
    assert 7 in {r.doc_id for r in index.hashes().collect()}
    impostor = spark.createDataFrame(
        [(7, "other words")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="id/content collision.*7"):
        index.ingest_batch(impostor, check_id_collisions=True)


def test_roster_is_append_commit_marker(spark, tmp_path, monkeypatch):
    """A crash DURING an ingest's bands append must leave the doc out
    of the roster, so the retried ingest re-appends instead of
    dropping it as already indexed (the roster is the commit marker —
    it is written LAST in _append). With roster-first ordering the
    retry would see the doc in the roster, skip its bands forever, and
    the doc would be permanently invisible to band probing."""
    import pytest
    from pyspark.sql.readwriter import DataFrameWriter

    from automate_data_ingestion_project_spark.textops.neardup_index import (
        NearDupIndex,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    index = NearDupIndex.build(spark, corpus, str(tmp_path / "idx"))

    b1 = spark.createDataFrame(
        [(11, "completely different words about distributed query engines")],
        "doc_id long, text string",
    )

    real_parquet = DataFrameWriter.parquet

    def crash_on_bands(self, path, *args, **kwargs):
        if path == index.bands_path:
            raise RuntimeError("injected crash during bands append")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_on_bands)
    with pytest.raises(RuntimeError, match="injected crash"):
        index.ingest_batch(b1).collect()
    monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)

    # the crash happened after the rows append but before the roster:
    # the doc must NOT be in the roster (else the retry drops it)
    assert 11 not in {r.doc_id for r in index.hashes().collect()}

    # retry: the replay guard seeds from the roster, doc 11 is absent,
    # so its rows/bands/roster are (re-)appended
    d = {
        r.batch_id: r.is_near_dup for r in index.ingest_batch(b1).collect()
    }
    assert d == {11: False}
    assert index.bands().filter("doc_id = 11").count() > 0
    assert index.hashes().filter("doc_id = 11").count() == 1

    # and the doc is probe-visible: a near-dup of it is flagged
    b2 = spark.createDataFrame(
        [(20, "zz completely different words about distributed query engines")],
        "doc_id long, text string",
    )
    d2 = {
        r.batch_id: r.is_near_dup for r in index.ingest_batch(b2).collect()
    }
    assert d2 == {20: True}


def _assert_build_adds_no_persist(spark, root, bucket_bands):
    """NearDupIndex.build must not leave its shingle persist live or
    tracked after its writes complete (the same per-call leak
    ingest_batch's finally block prevents)."""
    from automate_data_ingestion_project_spark.operators.caching import (
        _ACTIVE,
        release_caches,
    )
    from automate_data_ingestion_project_spark.textops.neardup_index import (
        NearDupIndex,
    )

    # Compare RDD ID SETS, not counts: the ContextCleaner unpersists
    # out-of-scope localCheckpoint RDDs from EARLIER tests
    # asynchronously, and a removal landing inside this window shrank a
    # count-based check into a false failure — new ids are the leak
    # signal, removals are irrelevant.
    def _persisted_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(i) for i in jmap.keySet().toArray()}

    release_caches()
    ids_before = _persisted_ids()
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    index = NearDupIndex.build(spark, corpus, root, bucket_bands=bucket_bands)
    try:
        assert len(_ACTIVE) == 0
        assert _persisted_ids() <= ids_before
    finally:
        if index.bands_table:
            spark.sql(f"DROP TABLE IF EXISTS {index.bands_table}")


def test_bucketed_build_releases_its_persist(spark, tmp_path):
    _assert_build_adds_no_persist(spark, str(tmp_path / "idx"), 4)


def test_plain_build_releases_its_persist(spark, tmp_path):
    """The plain layout (also the ``corpus_neardup_index`` artifact
    build, through ``write_corpus``) releases its persist too."""
    _assert_build_adds_no_persist(spark, str(tmp_path / "idx"), None)


def test_index_compaction_collapses_files_and_preserves_reads(spark, tmp_path):
    """NearDupIndex.compact(): after several ingests each tree holds
    one file set per epoch; compaction collapses each to a single
    size-targeted file, preserves every row, and detection still works
    over the compacted index."""
    from automate_data_ingestion_project_spark.io.maintenance import (
        data_file_count,
    )
    from automate_data_ingestion_project_spark.textops.neardup_index import (
        NearDupIndex,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "pack my box with five dozen liquor jugs for shipping"),
        ],
        "doc_id long, text string",
    )
    index = NearDupIndex.build(spark, corpus, str(tmp_path / "idx"))
    for i, text in enumerate(
        (
            "completely different words about distributed query engines here",
            "yet another novel document about stream processing semantics",
            "third novel document concerning columnar storage formats",
        )
    ):
        b = spark.createDataFrame(
            [(10 + i, text)], "doc_id long, text string"
        )
        index.ingest_batch(b)

    before = {
        p: (
            spark.read.parquet(p).count(),
            data_file_count(spark, p),
        )
        for p in (index.rows_path, index.bands_path, index.hashes_path)
    }
    assert all(files > 1 for _, files in before.values())

    index.compact()

    for p, (n_rows, _) in before.items():
        assert spark.read.parquet(p).count() == n_rows
        assert data_file_count(spark, p) == 1

    # detection still works over the compacted trees, and the replay
    # guard still sees the compacted roster
    near = spark.createDataFrame(
        [(20, "zz completely different words about distributed query engines here")],
        "doc_id long, text string",
    )
    assert {
        r.batch_id: r.is_near_dup for r in index.ingest_batch(near).collect()
    } == {20: True}
    n_bands = index.bands().count()
    index.ingest_batch(
        spark.createDataFrame(
            [(10, "completely different words about distributed query engines here")],
            "doc_id long, text string",
        )
    ).collect()
    assert index.bands().count() == n_bands  # replay appended nothing


def test_bucketed_index_compaction_keeps_exchange_free_probe(spark, tmp_path):
    """The bucketed variant's compaction must preserve the bucket spec:
    after several ingests + compact(), the band table reads back whole,
    detection still works, and the probe join against the bucketed side
    stays exchange-free (no shuffle of the corpus index)."""
    from automate_data_ingestion_project_spark.textops.neardup_index import (
        NearDupIndex,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "pack my box with five dozen liquor jugs for shipping"),
        ],
        "doc_id long, text string",
    )
    index = NearDupIndex.build(
        spark, corpus, str(tmp_path / "idx"), bucket_bands=4
    )
    for i, text in enumerate(
        (
            "completely different words about distributed query engines here",
            "yet another novel document about stream processing semantics",
        )
    ):
        index.ingest_batch(
            spark.createDataFrame([(10 + i, text)], "doc_id long, text string")
        )
    n_before = index.bands().count()

    index.compact()

    assert index.bands().count() == n_before
    # bucket layout preserved in the catalog
    ddl = spark.sql(f"SHOW CREATE TABLE {index.bands_table}").collect()[0][0]
    assert "CLUSTERED BY" in ddl and "band_key" in ddl
    # detection over the compacted table, including a batch-1 near-dup
    near = spark.createDataFrame(
        [(20, "zz completely different words about distributed query engines here")],
        "doc_id long, text string",
    )
    assert {
        r.batch_id: r.is_near_dup for r in index.ingest_batch(near).collect()
    } == {20: True}


def test_index_deletion_lifecycle(spark, tmp_path):
    """NearDupIndex takedown: a deleted document stops suppressing
    near-dups immediately (logical mask on every read path — bands,
    shingles, roster), a replayed tombstone batch no-ops, and compact()
    applies the mask physically (rows gone from the trees on disk,
    tombstone files dropped, ledger kept) with identical decisions
    before and after."""
    from automate_data_ingestion_project_spark.io.maintenance import (
        committed_batch_seqs,
        store_exists,
    )
    from automate_data_ingestion_project_spark.textops.neardup_index import (
        NearDupIndex,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different words about distributed query engines"),
        ],
        "doc_id long, text string",
    )
    index = NearDupIndex.build(spark, corpus, str(tmp_path / "idx"))
    probe = spark.createDataFrame(
        [(100, "xq the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    before = index.filter_batch(probe).collect()[0]
    assert before.is_near_dup  # suppressed by doc 1

    dead = spark.createDataFrame([(1,)], "doc_id long")
    index.delete_docs(dead, 0)
    index.delete_docs(dead, 0)  # explicit seq replay: no-op
    assert committed_batch_seqs(spark, index.tombstone_ledger_path) == {0}
    # a SECOND takedown wave with the default seq must auto-sequence
    # past the committed one instead of being swallowed by the replay
    # guard — doc 2 really gets deleted
    index.delete_docs(spark.createDataFrame([(2,)], "doc_id long"))
    assert committed_batch_seqs(spark, index.tombstone_ledger_path) == {0, 1}
    assert index.hashes().count() == 0  # both docs masked now
    index.delete_docs(spark.createDataFrame([(1,)], "doc_id long"))
    assert committed_batch_seqs(spark, index.tombstone_ledger_path) == {
        0, 1, 2,
    }

    after = index.filter_batch(probe).collect()[0]
    assert not after.is_near_dup  # suppressor taken down
    assert after.n_candidates == 0

    # physical apply: rows leave the trees, mask files leave the disk
    # (both docs are now tombstoned, so the full-erasure path removes
    # the trees outright — no bytes survive)
    index.compact()
    assert not store_exists(spark, index.tombstones_path)
    assert committed_batch_seqs(spark, index.tombstone_ledger_path) == {
        0, 1, 2,
    }
    assert not store_exists(spark, index.bands_path)
    final = index.filter_batch(probe).collect()[0]
    assert not final.is_near_dup and final.n_candidates == 0


def test_stream_tombstone_drain_matches_direct_appends(spark, tmp_path):
    """The streaming takedown drain lands the identical committed
    tombstone set as direct append_tombstones calls — one epoch per
    feed file, replay-safe via the epoch id."""
    import os

    from pyspark.sql import functions as F

    from automate_data_ingestion_project_spark.io.maintenance import (
        committed_batch_seqs,
        read_committed,
    )
    from automate_data_ingestion_project_spark.streaming.tombstones import (
        stream_tombstone_ingest,
    )

    root = str(tmp_path / "store")
    src = os.path.join(root, "takedowns")
    t_data = os.path.join(root, "tombstones")
    t_ledger = os.path.join(root, "tombstone_ledger")
    spark.range(0, 10).select(F.col("id").alias("doc_id")).coalesce(
        1
    ).write.parquet(os.path.join(src, "feed1"))
    spark.range(20, 25).select(F.col("id").alias("doc_id")).coalesce(
        1
    ).write.parquet(os.path.join(src, "feed2"))
    stream_tombstone_ingest(
        spark,
        os.path.join(src, "*"),
        t_data,
        t_ledger,
        os.path.join(root, "ckpt"),
        "doc_id",
        "doc_id long",
    )
    assert len(committed_batch_seqs(spark, t_ledger)) == 2
    got = sorted(
        r.doc_id for r in read_committed(spark, t_data, t_ledger).collect()
    )
    assert got == list(range(0, 10)) + list(range(20, 25))


def test_bucketed_index_deletion_physical_apply(spark, tmp_path):
    """Takedown on the BUCKETED index variant: the mask applies
    logically through the catalog-table read, compact() rewrites the
    band table WITHOUT the masked rows while preserving the bucket spec
    (probes stay exchange-free), and the tombstone files are gone."""
    from automate_data_ingestion_project_spark.io.maintenance import (
        store_exists,
    )
    from automate_data_ingestion_project_spark.textops.neardup_index import (
        NearDupIndex,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "pack my box with five dozen liquor jugs for shipping"),
        ],
        "doc_id long, text string",
    )
    index = NearDupIndex.build(
        spark, corpus, str(tmp_path / "idx"), bucket_bands=4
    )
    probe = spark.createDataFrame(
        [(100, "xq the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    assert index.filter_batch(probe).collect()[0].is_near_dup

    index.delete_docs(spark.createDataFrame([(1,)], "doc_id long"), 0)
    assert not index.filter_batch(probe).collect()[0].is_near_dup

    index.compact()
    assert not store_exists(spark, index.tombstones_path)
    # physical: the catalog table itself no longer holds doc 1
    raw = spark.table(index.bands_table)
    assert raw.filter("doc_id = 1").count() == 0
    assert raw.filter("doc_id = 2").count() > 0
    # bucket layout preserved
    ddl = spark.sql(f"SHOW CREATE TABLE {index.bands_table}").collect()[0][0]
    assert "CLUSTERED BY" in ddl and "band_key" in ddl
    assert not index.filter_batch(probe).collect()[0].is_near_dup


def test_stream_tombstones_offset_past_direct_appends(spark, tmp_path):
    """A tombstone store that already took DIRECT append_tombstones
    calls (low sequences) must not swallow stream epochs: each epoch's
    sequence is allocated past the highest committed sequence at drain
    time, so every streamed deletion batch lands (raw epoch 0 would
    collide with the direct seq 0 and silently no-op at the replay
    guard — an erasure request dropped on the floor). A second drain on
    the same checkpoint continues the epoch numbering and allocates
    fresh sequences for the new epochs."""
    import os

    from pyspark.sql import functions as F

    from automate_data_ingestion_project_spark.io.maintenance import (
        append_tombstones,
        committed_batch_seqs,
        read_committed,
    )
    from automate_data_ingestion_project_spark.streaming.tombstones import (
        stream_tombstone_ingest,
    )

    root = str(tmp_path / "store")
    t_data = os.path.join(root, "tombstones")
    t_ledger = os.path.join(root, "tombstone_ledger")
    direct = spark.range(100, 105).select(F.col("id").alias("doc_id"))
    append_tombstones(spark, t_data, t_ledger, direct, 0, "doc_id")

    src = os.path.join(root, "takedowns")
    spark.range(0, 5).select(F.col("id").alias("doc_id")).coalesce(
        1
    ).write.parquet(os.path.join(src, "feed1"))
    stream_tombstone_ingest(
        spark,
        os.path.join(src, "*"),
        t_data,
        t_ledger,
        os.path.join(root, "ckpt"),
        "doc_id",
        "doc_id long",
    )
    # direct seq 0 survives; the streamed epoch landed at base=1, not 0
    assert committed_batch_seqs(spark, t_ledger) == {0, 1}
    got = sorted(
        r.doc_id for r in read_committed(spark, t_data, t_ledger).collect()
    )
    assert got == list(range(0, 5)) + list(range(100, 105))

    # a later feed drains with the SAME persisted base: epoch 1 -> seq 2
    spark.range(10, 12).select(F.col("id").alias("doc_id")).coalesce(
        1
    ).write.parquet(os.path.join(src, "feed2"))
    stream_tombstone_ingest(
        spark,
        os.path.join(src, "*"),
        t_data,
        t_ledger,
        os.path.join(root, "ckpt"),
        "doc_id",
        "doc_id long",
    )
    assert committed_batch_seqs(spark, t_ledger) == {0, 1, 2}
    got = sorted(
        r.doc_id for r in read_committed(spark, t_data, t_ledger).collect()
    )
    assert got == (
        list(range(0, 5)) + list(range(10, 12)) + list(range(100, 105))
    )


def test_stream_epochs_survive_interleaved_auto_sequenced_appends(
    spark, tmp_path
):
    """The silent-drop window a FIXED epoch base left open: after a
    drain commits epochs 0..k, an auto-sequenced direct append takes
    max(committed)+1 — exactly where a fixed base would put the
    stream's next epoch, which would then no-op at the replay guard and
    drop its erasure ids. Drain-time allocation closes it: the second
    drain's epoch allocates PAST the interleaved direct commit, and
    every takedown id lands."""
    import os

    from pyspark.sql import functions as F

    from automate_data_ingestion_project_spark.io.maintenance import (
        append_tombstones,
        committed_batch_seqs,
        read_committed,
    )
    from automate_data_ingestion_project_spark.streaming.tombstones import (
        stream_tombstone_ingest,
    )

    root = str(tmp_path / "store")
    src = os.path.join(root, "takedowns")
    t_data = os.path.join(root, "tombstones")
    t_ledger = os.path.join(root, "tombstone_ledger")
    ckpt = os.path.join(root, "ckpt")

    spark.range(0, 3).select(F.col("id").alias("doc_id")).coalesce(
        1
    ).write.parquet(os.path.join(src, "feed1"))
    stream_tombstone_ingest(
        spark, os.path.join(src, "*"), t_data, t_ledger, ckpt,
        "doc_id", "doc_id long",
    )
    assert committed_batch_seqs(spark, t_ledger) == {0}

    # interleaved AUTO-SEQUENCED direct takedown (delete_docs style):
    # takes max(committed)+1 = 1 — the slot a fixed base would have
    # reserved for the stream's epoch 1
    direct = spark.range(100, 102).select(F.col("id").alias("doc_id"))
    append_tombstones(spark, t_data, t_ledger, direct, 1, "doc_id")
    assert committed_batch_seqs(spark, t_ledger) == {0, 1}

    spark.range(10, 13).select(F.col("id").alias("doc_id")).coalesce(
        1
    ).write.parquet(os.path.join(src, "feed2"))
    stream_tombstone_ingest(
        spark, os.path.join(src, "*"), t_data, t_ledger, ckpt,
        "doc_id", "doc_id long",
    )
    # the stream's epoch 1 rebased to seq 2 instead of no-opping at the
    # occupied slot; no erasure id was dropped
    assert committed_batch_seqs(spark, t_ledger) == {0, 1, 2}
    got = sorted(
        r.doc_id for r in read_committed(spark, t_data, t_ledger).collect()
    )
    assert got == [0, 1, 2, 10, 11, 12, 100, 101]


def test_stream_epoch_marker_retry_and_stream_isolation(spark, tmp_path):
    """Allocation internals: a retried epoch (marker persisted) reuses
    its recorded sequence even after later commits moved max(committed)
    — exactly-once across crash replay; a crashed-uncommitted epoch's
    reservation holds its slot against later epochs; and two DIFFERENT
    streams (distinct checkpoints) sharing one store never alias each
    other's epoch ids onto one sequence."""
    import os

    from pyspark.sql import functions as F

    from automate_data_ingestion_project_spark.io.maintenance import (
        append_tombstones,
    )
    from automate_data_ingestion_project_spark.streaming.tombstones import (
        _allocate_epoch_seq,
    )

    root = str(tmp_path / "store")
    t_data = os.path.join(root, "tombstones")
    t_ledger = os.path.join(root, "tombstone_ledger")
    ck_a = os.path.join(root, "ckpt_a")
    ck_b = os.path.join(root, "ckpt_b")

    ids = spark.range(0, 2).select(F.col("id").alias("doc_id"))

    def alloc(ckpt, epoch):
        return _allocate_epoch_seq(spark, t_ledger, ckpt, epoch)

    # stream A epoch 0 allocates 0 and commits
    seq = alloc(ck_a, 0)
    assert seq == 0
    append_tombstones(spark, t_data, t_ledger, ids, seq, "doc_id")

    # stream A epoch 1 reserves 1 but "crashes" before committing;
    # its retry reads the marker back — same sequence, same batch
    assert alloc(ck_a, 1) == 1
    assert alloc(ck_a, 1) == 1

    # stream B's epoch 0 is a DIFFERENT stream: it must not alias
    # stream A's epoch 0 (seq 0, committed) nor steal A's reserved 1
    assert alloc(ck_b, 0) == 2

    # a committed epoch's retry also reuses its marker (replay no-op)
    assert alloc(ck_a, 0) == 0


def test_ingest_compact_ingest_repeated_has_no_stale_cached_plans(
    spark, tmp_path
):
    """Regression: the ingest → compact → ingest walk, run TWICE in one
    session. The verification intermediates pair_jaccard_stats persists
    used to stay live across compact(); the post-swap recache rebuilt
    those cache entries against the DISPLACED shingle/band listing, and
    the next ingest's canonically-matching plan fragment was silently
    substituted with a scan of deleted part files
    (FAILED_READ_FILE.FILE_NOT_EXIST — surfaced once the per-tree
    compactions ran as concurrent driver threads). ingest_batch now
    persists nothing over the index trees (only its batch projection)
    and collects every index read before it appends, so the second
    walk must run clean and reproduce the first walk's decisions."""
    from pyspark.sql import functions as F

    from automate_data_ingestion_project_spark.textops.neardup_index import (
        NearDupIndex,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "pack my box with five dozen liquor jugs for shipping"),
            (3, "a completely unrelated sentence about compaction races"),
        ],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [
            (10, "xq the quick brown fox jumps over the lazy dog today"),
            (11, "novel words describing distributed file status caches"),
        ],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(20, "zz novel words describing distributed file status caches")],
        "doc_id long, text string",
    )

    def walk(root: str) -> dict:
        index = NearDupIndex.build(spark, corpus, root)
        index.delete_docs(corpus.filter("doc_id = 2").select("doc_id"), 0)
        d1 = {
            r.batch_id: r.is_near_dup
            for r in index.ingest_batch(b1).collect()
        }
        index.compact()
        d2 = {
            r.batch_id: r.is_near_dup
            for r in index.ingest_batch(b2).collect()
        }
        return {**d1, **d2}

    first = walk(str(tmp_path / "idx_a"))
    second = walk(str(tmp_path / "idx_b"))  # used to FAILED_READ_FILE here
    assert first == second == {10: True, 11: False, 20: True}


def _persisted_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i) for i in jmap.keySet().toArray()}


def _job_count(spark, tag, action):
    """Spark jobs ``action`` submits, counted through a job group (the
    concurrent probe threads inherit it)."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(tag)), out


def test_ingest_reads_batch_once_and_returns_local_decisions(spark, tmp_path):
    """The decision path reads its batch ONCE (one persisted
    projection feeds ids, md5s, shingles and bands), returns its
    decisions as a driver-built LocalRelation that outlives later index
    mutations, and submits a pinned number of Spark jobs — a re-added
    checkpoint, batch re-read or per-step count() fails here."""
    from automate_data_ingestion_project_spark.operators.caching import (
        _ACTIVE,
    )
    from automate_data_ingestion_project_spark.textops.neardup_index import (
        NearDupIndex,
    )

    sc = spark.sparkContext
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "pack my box with five dozen liquor jugs for shipping"),
        ],
        "doc_id long, text string",
    )
    index = NearDupIndex.build(spark, corpus, str(tmp_path / "idx"))
    docs = [
        (10, "xq the quick brown fox jumps over the lazy dog today"),
        (11, "completely different words about distributed query engines"),
    ]
    reads = sc.accumulator(0)

    def count(row):
        reads.add(1)
        return row

    batch = spark.createDataFrame(
        sc.parallelize(docs).map(count), "doc_id long, text string"
    )
    tracked_before = len(_ACTIVE)
    persisted_before = _persisted_ids(spark)
    n_jobs, decisions = _job_count(
        spark, f"ingest-jobs-{id(tmp_path)}", lambda: index.ingest_batch(batch)
    )
    # the batch persist is released before the call returns
    assert len(_ACTIVE) == tracked_before
    assert _persisted_ids(spark) <= persisted_before
    first = decisions.collect()
    assert [tuple(r) for r in first] == [(10, 1, 1, True), (11, 0, 0, False)]
    assert reads.value == len(docs)
    assert n_jobs == 23
    plan = decisions._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan
    assert decisions.schema.simpleString() == (
        "struct<batch_id:bigint,n_candidates:bigint,"
        "n_verified_dups:bigint,is_near_dup:boolean>"
    )

    # the decisions carry no index lineage: compaction and a further
    # ingest (which appends) leave them collecting unchanged
    index.compact()
    b2 = spark.createDataFrame(
        [(20, "zz completely different words about distributed query engines")],
        "doc_id long, text string",
    )
    assert [tuple(r) for r in index.ingest_batch(b2).collect()] == [
        (20, 1, 1, True)
    ]
    assert decisions.collect() == first


def test_repeated_batch_id_raises_before_any_append(spark, tmp_path):
    """A doc_id repeated within one batch used to yield two decision
    rows and two roster rows for one id (a verbatim repeat), or merge
    two texts' shingles under one id without tripping the collision
    guard (a repeat with different texts). Both now raise, naming the
    id, and the index is left untouched."""
    import pytest

    from automate_data_ingestion_project_spark.textops.neardup_index import (
        NearDupIndex,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    index = NearDupIndex.build(spark, corpus, str(tmp_path / "idx"))
    text = "completely different words about distributed query engines"
    verbatim = spark.createDataFrame(
        [(10, text), (10, text)], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match=r"repeated doc_ids.*\[10\]"):
        index.ingest_batch(verbatim)
    with pytest.raises(ValueError, match=r"repeated doc_ids.*\[10\]"):
        index.filter_batch(verbatim)
    merged = spark.createDataFrame(
        [(20, text), (20, "yet another novel document about stream processing")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match=r"repeated doc_ids.*\[20\]"):
        index.ingest_batch(merged, check_id_collisions=True)
    assert sorted(r.doc_id for r in index.hashes().collect()) == [1]
    assert {r.doc_id for r in index.rows().collect()} == {1}


def test_collision_guard_is_null_safe(spark, tmp_path):
    """md5(NULL text) is NULL: a NULL-text replay matches its indexed
    NULL copy, while NULL against real content (either way round) is a
    collision — Spark's eqNullSafe semantics, now compared on the
    driver."""
    import pytest

    from automate_data_ingestion_project_spark.textops.neardup_index import (
        NearDupIndex,
    )

    corpus = spark.createDataFrame(
        [(1, None), (2, "the quick brown fox jumps over the dog")],
        "doc_id long, text string",
    )
    index = NearDupIndex.build(spark, corpus, str(tmp_path / "idx"))
    same = spark.createDataFrame([(1, None)], "doc_id long, text string")
    index.ingest_batch(same, check_id_collisions=True)
    for doc_id, text in ((1, "now some real words"), (2, None)):
        impostor = spark.createDataFrame(
            [(doc_id, text)], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match=f"id/content collision.*{doc_id}"):
            index.ingest_batch(impostor, check_id_collisions=True)


def test_tree_reads_run_no_jobs(spark, tmp_path):
    """Each tree read declares its schema, so building the band, row
    and roster relations plans without a parquet schema-inference
    job."""
    from automate_data_ingestion_project_spark.textops.neardup_index import (
        NearDupIndex,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    index = NearDupIndex.build(spark, corpus, str(tmp_path / "idx"))
    n_jobs, _ = _job_count(
        spark,
        f"tree-reads-{id(tmp_path)}",
        lambda: (index.bands(), index.rows(), index.hashes()),
    )
    assert n_jobs == 0


def test_estimated_scan_partitions_matches_planner_on_tiny_files(
    spark, tmp_path
):
    """The packing-aware probe (r17, from the r16 advisory): Spark
    packs small files into scan splits, so a many-tiny-file input with
    >= cores files can still plan to FEWER partitions than cores. The
    estimate must reproduce the planner's own partition count (checked
    against df.rdd.getNumPartitions(), the exact probe it replaces) so
    spread_for_compute repartitions exactly when the planner would
    under-parallelize."""
    from automate_data_ingestion_project_spark.textops.dedup import (
        _estimated_scan_partitions,
        spread_for_compute,
    )

    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "tiny")
    n_files = max(40, 2 * target)
    # range with explicit numPartitions: one row per partition, no
    # shuffle for AQE to coalesce — exactly n_files tiny part files
    spark.range(0, n_files, 1, n_files).write.parquet(path)

    df = spark.read.parquet(path)
    files = df.inputFiles()
    assert len(files) == n_files
    est = _estimated_scan_partitions(spark, files)
    planned = df.rdd.getNumPartitions()
    assert est == planned, (est, planned)

    # and the spread decision equals the old exact-probe decision
    spread = spread_for_compute(df)
    if planned < target:
        assert spread.rdd.getNumPartitions() == target
    else:
        assert spread is df
