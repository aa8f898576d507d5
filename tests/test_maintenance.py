"""The maintained-store maintenance layer's new guarantees: committed-
read isolation, watermarked compaction (time travel survives OPTIMIZE),
tombstone deletion, ordered-commit validation, and the reserved-
generation append guard.

Reference parity note: the reference repo has no maintained-store tier
at all (its core is a run-once pandas/SQL pipeline) — this family is
the beyond-reference LLM-pipeline surface the brief asks for, modeled
on Delta's OPTIMIZE / VERSION AS OF / DELETE+VACUUM lifecycle."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from automate_data_ingestion_project_spark.io.maintenance import (
    COMPACTED_BATCH_SEQ,
    append_store_batch,
    append_tombstones,
    assert_ordered_commits,
    compact_store_tree,
    committed_batch_seqs,
    data_file_count,
    read_committed,
    read_store_asof,
    store_exists,
    tombstone_paths,
)


def _mk_rows(spark, lo: int, hi: int):
    """(vid, cell, payload) rows — a minimal keyed store batch."""
    return spark.range(lo, hi).select(
        F.col("id").alias("vid"),
        (F.col("id") % 4).cast("int").alias("cell"),
        (F.col("id") * 10).alias("payload"),
    )


def _store(tmp_path):
    root = str(tmp_path / "store")
    return root + "/data", root + "/ledger"


def _content(df):
    return sorted(
        (r.vid, r.cell, r.payload, r.batch_seq)
        for r in df.select("vid", "cell", "payload", "batch_seq").collect()
    )


def test_read_committed_hides_orphan_leaves(spark, tmp_path):
    """A crashed appender's orphan leaves (files present, no ledger
    row) are invisible to read_committed — results are hash-identical
    with and without the orphan present — while a raw directory scan
    does see them (the crash window read_committed exists to close)."""
    data, ledger = _store(tmp_path)
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 0, 40), 0, "cell", "vid"
    )
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 40, 60), 1, "cell", "vid"
    )
    clean = _content(read_committed(spark, data, ledger))

    # simulate a dead appender: batch_seq=7 files, no ledger row
    _mk_rows(spark, 900, 920).drop("cell").write.parquet(
        f"{data}/cell=3/batch_seq=7"
    )
    spark.catalog.refreshByPath(data)
    raw = spark.read.parquet(data)
    assert raw.filter(F.col("batch_seq") == 7).count() == 20
    assert _content(read_committed(spark, data, ledger)) == clean
    # and the filter is partition-level: committed seqs only
    assert committed_batch_seqs(spark, ledger) == {0, 1}


def test_append_rejects_reserved_generation(spark, tmp_path):
    """batch_seq < 0 is the compacted generation: every append entry
    point refuses it (an append into -1 would make compacted files
    self-heal candidates and corrupt vacuum/as-of classification)."""
    from automate_data_ingestion_project_spark.analytics.mixing import (
        append_token_shard_batch,
    )

    data, ledger = _store(tmp_path)
    rows = _mk_rows(spark, 0, 10)
    with pytest.raises(ValueError, match="reserved"):
        append_store_batch(spark, data, ledger, rows, -1, "cell", "vid")
    with pytest.raises(ValueError, match="reserved"):
        append_tombstones(
            spark, str(tmp_path / "t"), str(tmp_path / "tl"), rows, -1, "vid"
        )
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="reserved"):
        append_token_shard_batch(spark, docs, str(tmp_path / "s"), -2)


def test_watermarked_compaction_keeps_time_travel(spark, tmp_path):
    """Retention compaction (upto_seq=K) folds generations 0..K into
    the -1 generation and records the watermark: as-of reads AT or
    above K still answer (content-identical to the pre-compaction
    reads), below K they raise — Delta's OPTIMIZE-within-retention."""
    data, ledger = _store(tmp_path)
    for seq, (lo, hi) in enumerate([(0, 40), (40, 60), (60, 90)]):
        append_store_batch(
            spark, data, ledger, _mk_rows(spark, lo, hi), seq, "cell", "vid"
        )

    def keyed(df):
        return sorted(
            (r.vid, r.cell, r.payload)
            for r in df.select("vid", "cell", "payload").collect()
        )

    asof1_before = keyed(read_store_asof(spark, data, 1))
    asof2_before = keyed(read_store_asof(spark, data, 2))
    files_before = data_file_count(spark, data)

    n = compact_store_tree(spark, data, "cell", "vid", upto_seq=1)
    assert n == 90
    # generations 0 and 1 folded; generation 2 preserved byte-for-byte
    seqs = {
        r.batch_seq
        for r in spark.read.parquet(data).select("batch_seq").distinct().collect()
    }
    assert seqs == {COMPACTED_BATCH_SEQ, 2}
    assert data_file_count(spark, data) < files_before
    assert keyed(read_store_asof(spark, data, 1)) == asof1_before
    assert keyed(read_store_asof(spark, data, 2)) == asof2_before
    with pytest.raises(ValueError, match="watermark"):
        read_store_asof(spark, data, 0)

    # appends continue after compaction, and as-of sees them
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 90, 100), 3, "cell", "vid"
    )
    assert len(keyed(read_store_asof(spark, data, 3))) == 100

    # a later FULL collapse advances the watermark to the head
    compact_store_tree(spark, data, "cell", "vid")
    with pytest.raises(ValueError, match="watermark"):
        read_store_asof(spark, data, 2)
    assert len(keyed(read_store_asof(spark, data, 3))) == 100


def test_tombstones_logical_then_physical(spark, tmp_path):
    """Tombstone lifecycle: a committed tombstone batch masks rows in
    read_committed (broadcast anti-join); a replayed tombstone batch
    no-ops; a full-collapse compaction applies the mask PHYSICALLY
    (bytes dropped, tombstone files gone, ledger kept) and the plain
    read then matches the masked read exactly."""
    data, ledger = _store(tmp_path)
    t_data, t_ledger = tombstone_paths(str(tmp_path / "store"))
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 0, 50), 0, "cell", "vid"
    )
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 50, 80), 1, "cell", "vid"
    )
    dead = spark.range(0, 80).filter("id % 7 = 3").select(
        F.col("id").alias("vid")
    )
    append_tombstones(spark, t_data, t_ledger, dead, 0, "vid")
    append_tombstones(spark, t_data, t_ledger, dead, 0, "vid")  # replay
    assert committed_batch_seqs(spark, t_ledger) == {0}

    masked = read_committed(
        spark,
        data,
        ledger,
        tombstones_path=t_data,
        tombstone_ledger_path=t_ledger,
        id_col="vid",
    )
    survivors = sorted(r.vid for r in masked.select("vid").collect())
    assert survivors == [v for v in range(80) if v % 7 != 3]

    expected = _content(masked)
    n = compact_store_tree(
        spark,
        data,
        "cell",
        "vid",
        tombstones_path=t_data,
        tombstone_ledger_path=t_ledger,
        id_col="vid",
    )
    assert n == len(survivors)
    assert not store_exists(spark, t_data)  # erasure completed
    assert committed_batch_seqs(spark, t_ledger) == {0}  # replay guard kept
    physical = _content(
        spark.read.parquet(data).withColumn(
            "batch_seq", F.col("batch_seq").cast("int")
        )
    )
    assert sorted(r[:3] for r in physical) == sorted(r[:3] for r in expected)
    assert {r[3] for r in physical} == {COMPACTED_BATCH_SEQ}

    # physical apply is full-collapse only — the invariant is enforced
    with pytest.raises(ValueError, match="full collapse"):
        compact_store_tree(
            spark,
            data,
            "cell",
            "vid",
            upto_seq=0,
            tombstones_path=t_data,
            tombstone_ledger_path=t_ledger,
            id_col="vid",
        )


def test_ordered_commit_validation(spark, tmp_path):
    """assert_ordered_commits: an in-order ledger passes; a ledger
    whose commits landed out of batch_seq order (the unordered IVF
    pattern — seq 5 committed before seq 2) is refused, and an as-of
    read that requested validation refuses with it."""
    data, ledger = _store(tmp_path)
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 0, 10), 0, "cell", "vid"
    )
    time.sleep(1.1)  # distinct mtimes — ties carry no ordering evidence
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 10, 20), 1, "cell", "vid"
    )
    assert_ordered_commits(spark, ledger)  # in order: no raise

    data2, ledger2 = str(tmp_path / "u/data"), str(tmp_path / "u/ledger")
    append_store_batch(
        spark, data2, ledger2, _mk_rows(spark, 0, 10), 5, "cell", "vid"
    )
    time.sleep(1.1)
    append_store_batch(
        spark, data2, ledger2, _mk_rows(spark, 10, 20), 2, "cell", "vid"
    )
    with pytest.raises(ValueError, match="unordered"):
        assert_ordered_commits(spark, ledger2)
    with pytest.raises(ValueError, match="unordered"):
        read_store_asof(spark, data2, 5, ledger_path=ledger2)
    # without validation the same call is a well-defined SET read
    assert read_store_asof(spark, data2, 5).count() == 20


def test_full_erasure_compaction_removes_the_tree(spark, tmp_path):
    """When the tombstone mask covers EVERY row, a full-collapse
    compaction must still complete the erasure: the data tree and the
    tombstone files are deleted outright (no bytes survive anywhere),
    while both ledgers keep their replay guards."""
    data, ledger = _store(tmp_path)
    t_data, t_ledger = tombstone_paths(str(tmp_path / "store"))
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 0, 30), 0, "cell", "vid"
    )
    append_tombstones(
        spark,
        t_data,
        t_ledger,
        spark.range(0, 30).selectExpr("id AS vid"),
        0,
        "vid",
    )
    n = compact_store_tree(
        spark,
        data,
        "cell",
        "vid",
        tombstones_path=t_data,
        tombstone_ledger_path=t_ledger,
        id_col="vid",
    )
    assert n == 0
    assert not store_exists(spark, data)  # no bytes survive
    assert not store_exists(spark, t_data)
    assert committed_batch_seqs(spark, ledger) == {0}
    assert committed_batch_seqs(spark, t_ledger) == {0}


def test_vacuum_covers_the_flat_tombstone_layout(spark, tmp_path):
    """A crashed tombstone append that is never retried leaves an
    orphan batch_seq leaf at the store ROOT (the flat layout, no key
    level); vacuum_store must reach it too — committed tombstone
    generations stay untouched."""
    import automate_data_ingestion_project_spark.io.maintenance as maint
    from automate_data_ingestion_project_spark.io.maintenance import (
        vacuum_store,
    )

    t_data, t_ledger = str(tmp_path / "t"), str(tmp_path / "tl")
    ids = spark.range(0, 10).selectExpr("id AS vid")
    append_tombstones(spark, t_data, t_ledger, ids, 0, "vid")

    real_append = maint.append_ledger_row

    def crash(spark_, lp, batch_seq, counts):
        if lp == t_ledger:
            raise RuntimeError("injected tombstone-ledger crash")
        return real_append(spark_, lp, batch_seq, counts)

    maint.append_ledger_row = crash
    try:
        with pytest.raises(RuntimeError, match="injected"):
            append_tombstones(spark, t_data, t_ledger, ids, 1, "vid")
    finally:
        maint.append_ledger_row = real_append

    assert vacuum_store(spark, t_data, t_ledger) == 1  # the orphan leaf
    got = sorted(
        r.vid for r in read_committed(spark, t_data, t_ledger).collect()
    )
    assert got == list(range(10))  # committed generation intact
    assert vacuum_store(spark, t_data, t_ledger) == 0


def test_ledger_commit_atomicity_and_truncation_tolerance(spark, tmp_path):
    """The driver-side ledger commit is temp-then-rename: a normal
    append leaves no in-progress husk behind, and a zero-length
    commit file (a crash mid-write under the pre-r14 direct-write
    layout) is skipped by BOTH reader paths instead of poisoning every
    later replay guard / committed read / as-of validation."""
    import os

    data, ledger = _store(tmp_path)
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 0, 10), 0, "cell", "vid"
    )
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 10, 20), 1, "cell", "vid"
    )
    # rename completed: no in-progress temp left behind (the local fs
    # also keeps .<name>.crc checksum sidecars for the FINAL names)
    names = os.listdir(ledger)
    assert not [n for n in names if "inprogress" in n], names
    assert [n for n in names if n.startswith("commit-")], names

    # legacy crash damage: a zero-length commit file in the ledger dir
    open(os.path.join(ledger, "commit-9-truncated.parquet"), "wb").close()
    assert committed_batch_seqs(spark, ledger) == {0, 1}  # driver-side
    assert_ordered_commits(spark, ledger)  # Spark-side (skips empties)
    # and the protocol still functions end to end on the damaged ledger
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 20, 30), 2, "cell", "vid"
    )
    assert committed_batch_seqs(spark, ledger) == {0, 1, 2}
    assert read_committed(spark, data, ledger).count() == 30


def test_retention_compaction_refuses_legacy_store(spark, tmp_path):
    """A store compacted before watermarks existed (a -1 generation,
    no watermark file) cannot take a RETENTION compaction: the folded
    history above upto_seq is unknowable, so a watermark written there
    would let read_store_asof serve a false temporal snapshot. The
    guard refuses; a full collapse remains the documented repair."""
    import os

    data, ledger = _store(tmp_path)
    for seq, (lo, hi) in enumerate([(0, 20), (20, 40)]):
        append_store_batch(
            spark, data, ledger, _mk_rows(spark, lo, hi), seq, "cell", "vid"
        )
    compact_store_tree(spark, data, "cell", "vid")
    os.remove(os.path.join(data, "_compaction_watermark"))  # fake legacy
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 40, 50), 2, "cell", "vid"
    )
    with pytest.raises(ValueError, match="legacy"):
        compact_store_tree(spark, data, "cell", "vid", upto_seq=2)
    # no watermark was written and the tree is untouched by the refusal
    seqs = {
        r.batch_seq
        for r in spark.read.parquet(data).select("batch_seq").distinct().collect()
    }
    assert seqs == {COMPACTED_BATCH_SEQ, 2}


def test_asof_reads_apply_tombstones_by_default(spark, tmp_path):
    """Erasure wins over time travel: once a tombstone commits, NO
    as-of read with the store's tombstone paths returns the deleted
    ids — at any pre-delete batch_seq — unless the caller takes the
    explicit include_erased audit escape; and after delete + compact
    completes the erasure, even the escape has nothing to resurrect
    (reads below the new watermark raise; reads at it serve the
    surviving rows only)."""
    data, ledger = _store(tmp_path)
    t_data, t_ledger = tombstone_paths(str(tmp_path / "store"))
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 0, 40), 0, "cell", "vid"
    )
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 40, 60), 1, "cell", "vid"
    )
    dead_ids = [v for v in range(60) if v % 7 == 3]
    append_tombstones(
        spark,
        t_data,
        t_ledger,
        spark.createDataFrame([(v,) for v in dead_ids], "vid long"),
        0,
        "vid",
    )
    kw = dict(
        tombstones_path=t_data, tombstone_ledger_path=t_ledger, id_col="vid"
    )
    for seq, hi in ((0, 40), (1, 60)):
        got = {r.vid for r in read_store_asof(spark, data, seq, **kw).collect()}
        assert got == {v for v in range(hi) if v % 7 != 3}
        audit = {
            r.vid
            for r in read_store_asof(
                spark, data, seq, include_erased=True, **kw
            ).collect()
        }
        assert audit == set(range(hi))  # the stated resurrect window

    compact_store_tree(
        spark, data, "cell", "vid", tombstones_path=t_data,
        tombstone_ledger_path=t_ledger, id_col="vid",
    )
    with pytest.raises(ValueError, match="watermark"):
        read_store_asof(spark, data, 0, **kw)  # history below wm is gone
    final = {
        r.vid
        for r in read_store_asof(
            spark, data, 1, include_erased=True, **kw
        ).collect()
    }
    assert final == {v for v in range(60) if v % 7 != 3}  # bytes gone


def test_append_committed_in_compactor_window_survives(spark, tmp_path, monkeypatch):
    """The appender-vs-compactor race: a batch that lands AND commits
    inside the compactor's read->swap window (its leaves only in the
    tree the swap displaces) must survive the compaction — with
    ledger_path given, the post-swap reconciliation moves the missed
    generation into the compacted tree before the old copy is deleted,
    so neither its rows nor its ledger row are lost."""
    import automate_data_ingestion_project_spark.io.maintenance as maint

    data, ledger = _store(tmp_path)
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 0, 30), 0, "cell", "vid"
    )
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 30, 50), 1, "cell", "vid"
    )

    real_swap = maint._checked_swap
    raced = {}

    def racing_swap(fs, live, old, tmp, reconcile=None):
        # the racing appender finishes entirely inside the window:
        # files + ledger row land after the compactor's pinned scan,
        # before the swap
        append_store_batch(
            spark, data, ledger, _mk_rows(spark, 50, 60), 2, "cell", "vid"
        )
        raced["done"] = True
        return real_swap(fs, live, old, tmp, reconcile)

    monkeypatch.setattr(maint, "_checked_swap", racing_swap)
    n = compact_store_tree(
        spark, data, "cell", "vid", ledger_path=ledger
    )
    assert raced["done"] and n == 50  # the rewrite folded batches 0-1
    got = _content(read_committed(spark, data, ledger))
    vids = sorted(v for v, _, _, _ in got)
    assert vids == list(range(60))  # batch 2 rescued, nothing lost
    # the rescued generation kept its own batch_seq (not folded)
    assert {b for _, _, _, b in got} == {COMPACTED_BATCH_SEQ, 2}
    # and the store remains fully functional: append + compact again
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 60, 70), 3, "cell", "vid"
    )
    monkeypatch.setattr(maint, "_checked_swap", real_swap)
    compact_store_tree(spark, data, "cell", "vid", ledger_path=ledger)
    assert read_committed(spark, data, ledger).count() == 70


def test_full_erasure_race_does_not_delete_fresh_batch(spark, tmp_path, monkeypatch):
    """The full-erasure branch (tombstone mask covers every scanned
    row) used to delete the whole tree; a batch committed after the
    compactor pinned its scan must NOT be part of that erasure
    decision — only the observed leaves are dropped, the racing
    generation survives with the tree."""
    import automate_data_ingestion_project_spark.io.maintenance as maint

    data, ledger = _store(tmp_path)
    t_data, t_ledger = tombstone_paths(str(tmp_path / "store"))
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 0, 20), 0, "cell", "vid"
    )
    append_tombstones(
        spark,
        t_data,
        t_ledger,
        spark.range(0, 20).selectExpr("id AS vid"),
        0,
        "vid",
    )

    real_exists = maint.store_exists
    raced = {}

    def racing_exists(spark_, path):
        # first probe of the tombstone store inside compact = after
        # the scan pin, before the erase: the racing batch lands here
        if path == t_data and "done" not in raced:
            raced["done"] = True
            append_store_batch(
                spark, data, ledger, _mk_rows(spark, 100, 110), 1,
                "cell", "vid",
            )
        return real_exists(spark_, path)

    monkeypatch.setattr(maint, "store_exists", racing_exists)
    n = compact_store_tree(
        spark, data, "cell", "vid",
        tombstones_path=t_data, tombstone_ledger_path=t_ledger,
        id_col="vid", ledger_path=ledger,
    )
    assert raced["done"] and n == 0  # every OBSERVED row was erased
    assert store_exists(spark, data)  # tree kept: batch 1 lives there
    got = sorted(
        r.vid for r in read_committed(spark, data, ledger).collect()
    )
    assert got == list(range(100, 110))


def test_crash_between_swap_and_reconcile_recovers_on_next_run(
    spark, tmp_path, monkeypatch
):
    """If the compactor crashes AFTER its swap but BEFORE the
    missed-generation reconcile, the racing batch's leaves sit only in
    the displaced .old tree — and the next compaction's recovery used
    to delete that tree outright. The entry-time rescue moves every
    committed generation ABOVE the live watermark (i.e. a window batch,
    never folded history) back into the live tree before recovery runs,
    so the batch survives a crash in the narrowest window too."""
    import automate_data_ingestion_project_spark.io.maintenance as maint

    data, ledger = _store(tmp_path)
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 0, 30), 0, "cell", "vid"
    )
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 30, 50), 1, "cell", "vid"
    )

    real_swap = maint._checked_swap

    def swap_then_crash(fs, live, old, tmp, reconcile=None):
        # window batch commits, the swap completes, then the process
        # dies before reconcile — simulated by swapping WITHOUT the
        # reconcile callback and leaving the .old tree in place
        append_store_batch(
            spark, data, ledger, _mk_rows(spark, 50, 60), 2, "cell", "vid"
        )
        if not fs.rename(live, old):
            raise IOError("test swap leg 1")
        if not fs.rename(tmp, live):
            raise IOError("test swap leg 2")
        raise RuntimeError("injected crash before reconcile")

    monkeypatch.setattr(maint, "_checked_swap", swap_then_crash)
    with pytest.raises(RuntimeError, match="injected"):
        compact_store_tree(spark, data, "cell", "vid", ledger_path=ledger)
    monkeypatch.setattr(maint, "_checked_swap", real_swap)

    # the .old tree still holds batch 2; the next maintenance pass (or
    # read-triggering compaction) rescues it before recovery cleanup
    n = compact_store_tree(spark, data, "cell", "vid", ledger_path=ledger)
    assert n == 60  # 0-1 folded by the crashed run + rescued 2, refolded
    got = _content(read_committed(spark, data, ledger))
    assert sorted(v for v, _, _, _ in got) == list(range(60))
    assert {b for _, _, _, b in got} == {COMPACTED_BATCH_SEQ}


def test_change_feed_reads_committed_deltas_only(spark, tmp_path):
    """read_store_changes: the feed after a checkpoint is exactly the
    committed generations above it — an orphan batch (files, no ledger
    row) is invisible, the feed past the head is empty with a stable
    schema, compaction bounds the feed at the watermark (raises under
    it, still answers above it), and the tombstone mask keeps erased
    ids out of catch-up reads."""
    import automate_data_ingestion_project_spark.io.maintenance as maint
    from automate_data_ingestion_project_spark.io.maintenance import (
        read_store_changes,
    )

    data, ledger = _store(tmp_path)
    t_data, t_ledger = tombstone_paths(str(tmp_path / "store"))
    for seq, (lo, hi) in enumerate([(0, 20), (20, 35), (35, 50)]):
        append_store_batch(
            spark, data, ledger, _mk_rows(spark, lo, hi), seq, "cell", "vid"
        )

    def vids(df):
        return sorted(r.vid for r in df.select("vid").collect())

    assert vids(read_store_changes(spark, data, ledger, 0)) == list(
        range(20, 50)
    )
    assert vids(read_store_changes(spark, data, ledger, 1, upto_seq=2)) == (
        list(range(35, 50))
    )
    # feed past the head: zero rows, stable schema
    empty = read_store_changes(spark, data, ledger, 2)
    assert empty.count() == 0 and "vid" in empty.columns

    # an orphan generation is invisible to the feed
    real_append = maint.append_ledger_row

    def crash(spark_, lp, batch_seq, counts):
        raise RuntimeError("injected")

    maint.append_ledger_row = crash
    try:
        with pytest.raises(RuntimeError):
            append_store_batch(
                spark, data, ledger, _mk_rows(spark, 90, 95), 7, "cell",
                "vid",
            )
    finally:
        maint.append_ledger_row = real_append
    assert read_store_changes(spark, data, ledger, 2).count() == 0

    # tombstones mask the catch-up read
    append_tombstones(
        spark, t_data, t_ledger,
        spark.range(20, 25).selectExpr("id AS vid"), 0, "vid",
    )
    got = vids(
        read_store_changes(
            spark, data, ledger, 0,
            tombstones_path=t_data, tombstone_ledger_path=t_ledger,
            id_col="vid",
        )
    )
    assert got == list(range(25, 50))

    # retention compaction bounds the feed at the watermark
    compact_store_tree(
        spark, data, "cell", "vid", upto_seq=1, ledger_path=ledger
    )
    with pytest.raises(ValueError, match="watermark"):
        read_store_changes(spark, data, ledger, 0)
    assert vids(read_store_changes(spark, data, ledger, 1)) == list(
        range(35, 50)
    )


def test_ledger_checkpoint_folds_commits_and_preserves_protocol(
    spark, tmp_path
):
    """checkpoint_ledger folds the per-commit files into one parquet:
    the committed view is unchanged, the replay guard still no-ops a
    folded batch, appends continue, the ordered-commit validation
    still works across the fold (per-row mtimes preserved — including
    still CATCHING an inversion recorded before the fold), and a crash
    between the checkpoint landing and the folded files' cleanup only
    leaves duplicates the reader dedupes."""
    import os
    import shutil
    import time as _time

    from automate_data_ingestion_project_spark.io.maintenance import (
        checkpoint_ledger,
        read_store_changes,
    )

    data, ledger = _store(tmp_path)
    for seq, (lo, hi) in enumerate([(0, 20), (20, 35), (35, 50)]):
        append_store_batch(
            spark, data, ledger, _mk_rows(spark, lo, hi), seq, "cell", "vid"
        )
    before = _content(read_committed(spark, data, ledger))

    n = checkpoint_ledger(spark, ledger)
    assert n == 3  # three commit files folded
    names = [f for f in os.listdir(ledger) if f.endswith(".parquet")]
    assert names == [
        f for f in names if f.startswith("_ledger_checkpoint-")
    ] and len(names) == 1
    assert committed_batch_seqs(spark, ledger) == {0, 1, 2}
    assert _content(read_committed(spark, data, ledger)) == before
    assert_ordered_commits(spark, ledger)  # mtimes survived the fold

    # replay of a folded batch still no-ops; new appends continue
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 900, 910), 1, "cell", "vid"
    )
    assert _content(read_committed(spark, data, ledger)) == before
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 50, 60), 3, "cell", "vid"
    )
    assert committed_batch_seqs(spark, ledger) == {0, 1, 2, 3}
    got = sorted(
        r.vid for r in read_store_changes(spark, data, ledger, 2).collect()
    )
    assert got == list(range(50, 60))

    # a second checkpoint folds the previous one plus the tail; a
    # "crash" that leaves the old artifacts behind (copy them back)
    # only produces duplicates the reader dedupes by batch_seq
    stash = str(tmp_path / "stash")
    shutil.copytree(ledger, stash)
    assert checkpoint_ledger(spark, ledger) == 2
    for f in os.listdir(stash):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(stash, f), os.path.join(ledger, f))
    assert committed_batch_seqs(spark, ledger) == {0, 1, 2, 3}
    assert len(_content(read_committed(spark, data, ledger))) == 60

    # an UNORDERED ledger stays refused after checkpointing: the fold
    # must not launder a pre-existing inversion into temporal innocence
    data2, ledger2 = str(tmp_path / "u/data"), str(tmp_path / "u/ledger")
    append_store_batch(
        spark, data2, ledger2, _mk_rows(spark, 0, 10), 5, "cell", "vid"
    )
    _time.sleep(1.1)
    append_store_batch(
        spark, data2, ledger2, _mk_rows(spark, 10, 20), 2, "cell", "vid"
    )
    assert checkpoint_ledger(spark, ledger2) == 2
    with pytest.raises(ValueError, match="unordered"):
        assert_ordered_commits(spark, ledger2)


def test_ledger_checkpoint_keeps_token_chain_offsets(spark, tmp_path):
    """The token-shard store's ordered append chain sums ledger counts
    for its byte offsets — a checkpoint must not disturb the chain:
    append, checkpoint, append again, and the store content equals an
    uncheckpointed twin's exactly."""
    from automate_data_ingestion_project_spark.analytics.mixing import (
        append_token_shard_batch,
        shard_store_paths,
    )
    from automate_data_ingestion_project_spark.io.maintenance import (
        checkpoint_ledger,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i} " * (i % 7 + 1)) for i in range(60)],
        "doc_id long, text string",
    )

    def build(root, with_ckpt):
        append_token_shard_batch(
            spark, docs.filter("doc_id % 3 = 1"), root, 0
        )
        append_token_shard_batch(
            spark, docs.filter("doc_id % 3 = 2"), root, 1
        )
        if with_ckpt:
            _, ledger = shard_store_paths(root)
            assert checkpoint_ledger(spark, ledger) == 2
        append_token_shard_batch(
            spark, docs.filter("doc_id % 3 = 0"), root, 2
        )
        shards, _ = shard_store_paths(root)
        return sorted(
            tuple(r) for r in spark.read.parquet(shards).collect()
        )

    a = build(str(tmp_path / "plain"), with_ckpt=False)
    b = build(str(tmp_path / "ckpt"), with_ckpt=True)
    assert a == b


def test_rescued_generation_stays_masked_after_tombstone_compaction(
    spark, tmp_path, monkeypatch
):
    """Erasure vs the appender race: a window batch rescued into the
    compacted tree VERBATIM was never run through the rewrite's
    physical tombstone apply — if it re-carries a tombstoned id, the
    compactor must NOT delete the tombstone data files (that would make
    the id servable forever). The mask stays in force logically; the
    NEXT clean full collapse completes the erasure physically."""
    import automate_data_ingestion_project_spark.io.maintenance as maint

    data, ledger = _store(tmp_path)
    t_data, t_ledger = tombstone_paths(str(tmp_path / "store"))
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 0, 20), 0, "cell", "vid"
    )
    append_tombstones(
        spark, t_data, t_ledger,
        spark.createDataFrame([(3,)], "vid long"), 0, "vid",
    )

    real_swap = maint._checked_swap

    def racing_swap(fs, live, old, tmp, reconcile=None):
        # the racing batch commits inside the window and RE-CARRIES the
        # tombstoned vid 3 (vids 0..9)
        append_store_batch(
            spark, data, ledger, _mk_rows(spark, 0, 10), 1, "cell", "vid"
        )
        return real_swap(fs, live, old, tmp, reconcile)

    monkeypatch.setattr(maint, "_checked_swap", racing_swap)
    compact_store_tree(
        spark, data, "cell", "vid",
        tombstones_path=t_data, tombstone_ledger_path=t_ledger,
        id_col="vid", ledger_path=ledger,
    )
    monkeypatch.setattr(maint, "_checked_swap", real_swap)

    # the mask survived the compaction (rescue occurred) ...
    assert store_exists(spark, t_data)
    # ... so the rescued copy of vid 3 is physically present but
    # logically erased
    raw = spark.read.parquet(data)
    assert raw.filter("vid = 3").count() == 1
    masked = read_committed(
        spark, data, ledger,
        tombstones_path=t_data, tombstone_ledger_path=t_ledger,
        id_col="vid",
    )
    assert masked.filter("vid = 3").count() == 0
    assert masked.count() == 19 + 9

    # a clean second collapse completes the erasure: bytes and mask gone
    n = compact_store_tree(
        spark, data, "cell", "vid",
        tombstones_path=t_data, tombstone_ledger_path=t_ledger,
        id_col="vid", ledger_path=ledger,
    )
    assert n == 28
    assert not store_exists(spark, t_data)
    assert spark.read.parquet(data).filter("vid = 3").count() == 0


def test_crash_recovery_rescues_window_batch_without_watermark(
    spark, tmp_path
):
    """Entry-time crash recovery on a store whose live tree carries NO
    watermark and NO compacted generation (the crashed run wrote
    neither): every committed seq must be physically present in such a
    tree, so a committed seq found only in .old is a displaced window
    batch — rescued before recovery deletes the .old tree, instead of
    being skipped (and destroyed) for lack of a watermark."""
    import glob
    import shutil

    data, ledger = _store(tmp_path)
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 0, 30), 0, "cell", "vid"
    )
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 30, 50), 1, "cell", "vid"
    )
    # simulate the crashed state: .old holds both committed batches,
    # the (never-compacted, watermark-less) live tree only batch 0
    shutil.move(data, data + ".old")
    shutil.copytree(data + ".old", data)
    for leaf in glob.glob(f"{data}/cell=*/batch_seq=1"):
        shutil.rmtree(leaf)
    spark.catalog.refreshByPath(data)

    n = compact_store_tree(spark, data, "cell", "vid", ledger_path=ledger)
    assert n == 50  # batch 1 rescued from .old, then folded
    got = _content(read_committed(spark, data, ledger))
    assert sorted(v for v, _, _, _ in got) == list(range(50))


def test_crash_recovery_refuses_legacy_ambiguity(spark, tmp_path):
    """A live tree with a compacted generation but NO watermark (legacy
    fold) plus a displaced .old tree: committed window batches in .old
    are indistinguishable from folded history, so recovery must refuse
    and surface rather than delete .old (which could silently drop
    committed data)."""
    import os
    import shutil

    import pytest as _pytest

    data, ledger = _store(tmp_path)
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 0, 20), 0, "cell", "vid"
    )
    compact_store_tree(spark, data, "cell", "vid")
    os.remove(f"{data}/_compaction_watermark")  # legacy: fold, no wm
    shutil.copytree(data, data + ".old")

    with _pytest.raises(IOError, match="legacy"):
        compact_store_tree(spark, data, "cell", "vid", ledger_path=ledger)


def test_consume_changes_transactional_offset(spark, tmp_path, monkeypatch):
    """The CDF consumer's exactly-once contract: state and offset
    publish together (atomic rename), a replayed step is a no-op, a
    crash between the rename and the old state's retirement leaves two
    state dirs and readers take the highest, and the retried step
    recomputes the identical delta instead of double-applying it."""
    from pyspark.sql import functions as F

    import automate_data_ingestion_project_spark.io.maintenance as maint
    from automate_data_ingestion_project_spark.io.maintenance import (
        consume_changes,
        read_consumer_state,
    )

    data, ledger = _store(tmp_path)
    state_root = str(tmp_path / "consumer")

    def fold(delta, prev):
        dagg = delta.groupBy("cell").agg(
            F.count("*").alias("n"), F.sum("payload").alias("total")
        )
        if prev is None:
            return dagg
        return (
            prev.unionByName(dagg)
            .groupBy("cell")
            .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
        )

    def state():
        return {
            r.cell: (r.n, r.total)
            for r in read_consumer_state(spark, state_root).collect()
        }

    # nothing committed yet: no-op, no state published
    assert consume_changes(spark, data, ledger, state_root, fold) == -1

    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 0, 30), 0, "cell", "vid"
    )
    assert consume_changes(spark, data, ledger, state_root, fold) == 0
    s1 = state()

    # caught up: replayed step is a pure no-op (state unchanged)
    assert consume_changes(spark, data, ledger, state_root, fold) == 0
    assert state() == s1

    # crash between rename and retirement: simulate by making delete a
    # no-op for the superseded state — both dirs remain afterwards
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 30, 50), 1, "cell", "vid"
    )
    real_fs = maint._fs

    def fs_no_retire(spark_, path):
        fs, jpath = real_fs(spark_, path)

        class NoRetire:
            def __getattr__(self, name):
                return getattr(fs, name)

            def delete(self, p, rec=True):
                if "state-0" in str(p):
                    return True  # crash before retirement
                return fs.delete(p, rec)

        return NoRetire(), jpath

    monkeypatch.setattr(maint, "_fs", fs_no_retire)
    assert consume_changes(spark, data, ledger, state_root, fold) == 1
    monkeypatch.setattr(maint, "_fs", real_fs)
    import os

    assert sorted(os.listdir(state_root)) == ["state-0", "state-1"]
    s2 = state()  # reader takes the highest state

    # the retried step is a caught-up no-op (the stale dir is retired
    # by the next REAL step, which deletes everything below its head)
    assert consume_changes(spark, data, ledger, state_root, fold) == 1
    assert state() == s2
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 50, 60), 2, "cell", "vid"
    )
    assert consume_changes(spark, data, ledger, state_root, fold) == 2
    assert sorted(os.listdir(state_root)) == ["state-2"]

    # the incrementally-folded state equals the one-shot recompute
    expected = {
        r.cell: (r.n, r.total)
        for r in fold(
            read_committed(spark, data, ledger), None
        ).collect()
    }
    assert state() == expected

    # a fold-write crash leaves an orphaned .state-<seq>.inprogress
    # temp; the next successful step's retirement pass must clean it up
    # (r15 advisory: the old pass only matched 'state-' names, leaking
    # the dir forever unless a later step landed on the identical head)
    import shutil

    orphan = os.path.join(state_root, ".state-2.inprogress")
    os.makedirs(orphan)
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 60, 70), 3, "cell", "vid"
    )
    assert consume_changes(spark, data, ledger, state_root, fold) == 3
    assert sorted(os.listdir(state_root)) == ["state-3"]
    shutil.rmtree(state_root, ignore_errors=True)


def test_retraction_consumer_full_shard_erasure_and_overlap(spark, tmp_path):
    """consume_changes_with_retractions edge cases the fixture query
    can't guarantee: a cell whose EVERY consumed doc dies reaches
    exactly zero (signed arithmetic, not clamping), a re-tombstoned id
    subtracts only once across waves, and a doc appended + tombstoned
    inside one window never enters the state (mask) so its later
    re-tombstone retracts nothing."""
    from pyspark.sql import functions as F

    from automate_data_ingestion_project_spark.io.maintenance import (
        append_store_batch,
        append_tombstones,
        consume_changes_with_retractions,
        read_consumer_state,
        tombstone_paths,
    )

    data, ledger = _store(tmp_path)
    t_data, t_ledger = tombstone_paths(str(tmp_path / "store"))
    state_root = str(tmp_path / "consumer")

    def fold(delta, prev):
        dagg = delta.groupBy("cell").agg(
            F.count("*").alias("n"), F.sum("payload").alias("total")
        )
        if prev is None:
            return dagg
        return (
            prev.unionByName(dagg)
            .groupBy("cell")
            .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
        )

    def unfold(retr, prev):
        ragg = retr.groupBy("cell").agg(
            (-F.count("*")).alias("n"), (-F.sum("payload")).alias("total")
        )
        return (
            prev.unionByName(ragg)
            .groupBy("cell")
            .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
        )

    def consume():
        return consume_changes_with_retractions(
            spark, data, ledger, t_data, t_ledger, "vid",
            state_root, fold, unfold,
        )

    def state():
        return {
            r.cell: (r.n, r.total)
            for r in read_consumer_state(spark, state_root).collect()
        }

    # batch 0: vids 0..7 -> cells 0..3 (vid % 4), two docs per cell
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 0, 8), 0, "cell", "vid"
    )
    assert consume() == (0, -1)

    # wave 0 kills BOTH docs of cell 1 (vids 1, 5) after consumption:
    # the cell's counts reach exactly zero
    append_tombstones(
        spark, t_data, t_ledger,
        spark.createDataFrame([(1,), (5,)], "vid long"), 0, "vid",
    )
    assert consume() == (0, 0)
    s = state()
    assert s[1] == (0, 0)
    assert s[0] == (2, 0 * 10 + 4 * 10)

    # batch 1 appends vid 9 (cell 1); wave 1 re-kills vid 1 (already
    # retracted — must not subtract twice) and kills vid 9 inside the
    # same window (masked at fold — never enters, nothing to retract)
    append_store_batch(
        spark, data, ledger, _mk_rows(spark, 8, 10), 1, "cell", "vid"
    )
    append_tombstones(
        spark, t_data, t_ledger,
        spark.createDataFrame([(1,), (9,)], "vid long"), 1, "vid",
    )
    assert consume() == (1, 1)
    s = state()
    # cell 1 stays exactly zero: vid 1 not double-subtracted, vid 9
    # masked on the way in
    assert s[1] == (0, 0)
    # cell 0 gained vid 8 from batch 1
    assert s[0] == (3, 4 * 10 + 8 * 10)
    assert consume() == (1, 1)  # caught up: no-op


def test_session_conf_scope_interleaved_threads_restore_prior(spark):
    """Regression (r16 advisory, medium): two concurrent scopes on the
    same key must restore the TRUE prior, not each other's temporary
    value. The interleaving is forced deterministically: thread B
    enters while A's scope is open and exits after A — the exact
    schedule where the old bare get/set/restore pair leaked the
    temporary value into the session conf permanently."""
    import threading

    from automate_data_ingestion_project_spark.io.maintenance import (
        session_conf_scope,
    )

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prior = spark.conf.get(key, None)
    assert prior is None  # the session does not set it

    a_in = threading.Event()
    b_in = threading.Event()
    a_out = threading.Event()
    errors: list[Exception] = []

    def thread_a():
        try:
            with session_conf_scope(spark, key, 111 << 20):
                a_in.set()
                assert b_in.wait(10)
            a_out.set()
        except Exception as e:  # pragma: no cover
            errors.append(e)
            a_in.set()
            a_out.set()

    def thread_b():
        try:
            assert a_in.wait(10)
            with session_conf_scope(spark, key, 111 << 20):
                b_in.set()
                assert a_out.wait(10)
                # inside any open scope the value is the requested one
                assert spark.conf.get(key) == str(111 << 20)
        except Exception as e:  # pragma: no cover
            errors.append(e)
            b_in.set()

    ta = threading.Thread(target=thread_a)
    tb = threading.Thread(target=thread_b)
    ta.start(); tb.start()
    ta.join(30); tb.join(30)
    assert not errors, errors
    # the true prior (unset) is restored after the LAST scope exits
    assert spark.conf.get(key, None) is None


def test_session_conf_scope_rejects_divergent_value(spark):
    """Overlapping scopes on one key must agree on the value: a scope
    opened over an open scope with a DIFFERENT value raises instead of
    silently overriding it, and leaves the open scope's value and the
    true prior intact. An equal value nests."""
    from automate_data_ingestion_project_spark.io.maintenance import (
        session_conf_scope,
    )

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    assert spark.conf.get(key, None) is None
    with session_conf_scope(spark, key, 111 << 20):
        with session_conf_scope(spark, key, 111 << 20):
            assert spark.conf.get(key) == str(111 << 20)
        with pytest.raises(ValueError, match="already scoped"):
            with session_conf_scope(spark, key, 222 << 20):
                pass  # pragma: no cover
        assert spark.conf.get(key) == str(111 << 20)
    assert spark.conf.get(key, None) is None


def test_concurrent_masked_compactions_restore_session_conf(spark, tmp_path):
    """End-to-end form of the same regression: NearDupIndex.compact-style
    CONCURRENT masked compact_flat_tree calls (each sets the AQE
    advisory size for its rewrite) must leave the session conf exactly
    as it was."""
    import os

    from automate_data_ingestion_project_spark.io.maintenance import (
        append_tombstones,
        compact_flat_tree,
    )
    from automate_data_ingestion_project_spark.operators.concurrency import (
        run_concurrently,
    )

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prior = spark.conf.get(key, None)

    root = str(tmp_path / "trees")
    t_data = os.path.join(root, "tombstones")
    t_ledger = os.path.join(root, "tombstone_ledger")
    dead = spark.createDataFrame([(0,), (1,)], "doc_id long")
    append_tombstones(spark, t_data, t_ledger, dead, 0, "doc_id")

    paths = [os.path.join(root, n) for n in ("a", "b")]
    for p in paths:
        spark.range(0, 50).selectExpr("id AS doc_id", "id * 2 AS v").write.parquet(p)

    mask = dict(
        tombstones_path=t_data,
        tombstone_ledger_path=t_ledger,
        id_col="doc_id",
    )
    run_concurrently(
        *[
            (lambda pp: lambda: compact_flat_tree(
                spark, pp, ["doc_id"], 128 << 20, **mask
            ))(p)
            for p in paths
        ]
    )
    for p in paths:
        got = {r.doc_id for r in spark.read.parquet(p).collect()}
        assert got == set(range(2, 50))  # mask applied physically
    assert spark.conf.get(key, None) == prior


def test_append_store_batch_empty_first_batch_leaves_store_absent(
    spark, tmp_path
):
    """An empty FIRST batch commits its (seq, 0) ledger row without
    leaving a schema-less data tree (r17: the zero-row case is derived
    post-write from the written footers — no pre-write isEmpty job —
    and the tree the zero-row write created is removed again)."""
    import os

    from automate_data_ingestion_project_spark.io.maintenance import (
        append_store_batch,
        store_exists,
    )

    root = str(tmp_path / "store")
    data = os.path.join(root, "cells")
    ledger = os.path.join(root, "ledger")
    empty = spark.createDataFrame([], "vid long, cell int")

    append_store_batch(spark, data, ledger, empty, 0, "cell", "vid")
    assert not store_exists(spark, data)
    got = {(r.batch_seq, r.n_rows) for r in spark.read.parquet(ledger).collect()}
    assert got == {(0, 0)}

    # replay of the committed empty batch: no-op
    append_store_batch(spark, data, ledger, empty, 0, "cell", "vid")
    assert spark.read.parquet(ledger).count() == 1

    # crash-retry healing: a zero-row write that crashed BEFORE its
    # cleanup leaves a schema-less root; the retry (or any later empty
    # append) removes it again because the decision reads the
    # POST-write tree content, not a pre-write existence flag
    from automate_data_ingestion_project_spark.io.maintenance import _fs

    fs, jpath = _fs(spark, data)
    fs.mkdirs(jpath(data))
    append_store_batch(spark, data, ledger, empty, 1, "cell", "vid")
    assert not store_exists(spark, data)

    # the next real batch bootstraps the store normally
    rows = spark.createDataFrame([(1, 0), (2, 1)], "vid long, cell int")
    append_store_batch(spark, data, ledger, rows, 2, "cell", "vid")
    assert store_exists(spark, data)
    assert spark.read.parquet(data).count() == 2


def test_append_tombstones_empty_first_batch_leaves_store_absent(
    spark, tmp_path
):
    """Same protocol leg for the tombstone appends: an empty takedown
    batch commits (seq, n_ids=0) and the tombstone store stays ABSENT —
    the canonical "no deletions" state every masked read checks for."""
    import os

    from automate_data_ingestion_project_spark.io.maintenance import (
        append_tombstones,
        store_exists,
    )

    root = str(tmp_path / "store")
    t_data = os.path.join(root, "tombstones")
    t_ledger = os.path.join(root, "tombstone_ledger")
    empty = spark.createDataFrame([], "vid long")

    append_tombstones(spark, t_data, t_ledger, empty, 0, "vid")
    assert not store_exists(spark, t_data)
    got = {(r.batch_seq, r.n_ids) for r in spark.read.parquet(t_ledger).collect()}
    assert got == {(0, 0)}

    # replay: no-op; then a real takedown batch lands normally
    append_tombstones(spark, t_data, t_ledger, empty, 0, "vid")
    assert spark.read.parquet(t_ledger).count() == 1
    dead = spark.createDataFrame([(7,)], "vid long")
    append_tombstones(spark, t_data, t_ledger, dead, 1, "vid")
    assert store_exists(spark, t_data)
    assert {r.vid for r in spark.read.parquet(t_data).collect()} == {7}


def test_append_job_counts_pinned(spark, tmp_path, sf_dir):
    """Every appender submits a fixed number of Spark jobs: the batch
    write's own jobs and nothing else (the replay guard, the ledger
    commit and the footer-derived counts are driver-side metadata IO).
    Pinned for an empty FIRST batch and a non-empty batch of each store,
    so a pre-write isEmpty()/count() probe or a read-back job re-added
    to any one of them fails here."""
    import os

    from automate_data_ingestion_project_spark.analytics.mixing import (
        append_token_shard_batch,
    )
    from automate_data_ingestion_project_spark.io import load_table

    sc = spark.sparkContext
    docs = load_table(spark, sf_dir, "documents")
    root = str(tmp_path)
    data, ledger = os.path.join(root, "ivf"), os.path.join(root, "ivf_ledger")
    t_data, t_ledger = tombstone_paths(os.path.join(root, "t"))
    shards = os.path.join(root, "shards")

    def ids(lo, hi):
        return spark.range(lo, hi).select(F.col("id").alias("vid"))

    def jobs(tag, append):
        sc.setJobGroup(tag, tag)
        try:
            append()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    tag = f"append-jobs-{id(tmp_path)}"
    got = {
        "ivf_empty": jobs(f"{tag}-0", lambda: append_store_batch(
            spark, data, ledger, _mk_rows(spark, 0, 0), 0, "cell", "vid")),
        "ivf": jobs(f"{tag}-1", lambda: append_store_batch(
            spark, data, ledger, _mk_rows(spark, 0, 30), 1, "cell", "vid")),
        "tombstones_empty": jobs(f"{tag}-2", lambda: append_tombstones(
            spark, t_data, t_ledger, ids(0, 0), 0, "vid")),
        "tombstones": jobs(f"{tag}-3", lambda: append_tombstones(
            spark, t_data, t_ledger, ids(0, 10), 1, "vid")),
        "shards_empty": jobs(f"{tag}-4", lambda: append_token_shard_batch(
            spark, docs.filter("false"), shards, 0)),
        "shards": jobs(f"{tag}-5", lambda: append_token_shard_batch(
            spark, docs.filter("doc_id % 3 = 1"), shards, 1)),
    }
    assert got == {
        "ivf_empty": 1,
        "ivf": 2,
        "tombstones_empty": 1,
        "tombstones": 1,
        "shards_empty": 1,
        "shards": 6,
    }
