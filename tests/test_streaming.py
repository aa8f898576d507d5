"""Structured Streaming: replayed streams must EQUAL the batch
computation over the same files; stateful totals accumulate across
micro-batches."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from automate_data_ingestion_project_spark.analytics.load import scratch_dir
from automate_data_ingestion_project_spark.io import load_table
from automate_data_ingestion_project_spark.streaming import (
    run_available_now,
    sessionized_counts,
    stream_events,
    user_running_totals,
    windowed_event_counts,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir):
    """Events fixture replayed as a 2-file streaming source (2 splits →
    multiple input files for AvailableNow)."""
    root = scratch_dir("test_streaming_src")
    d = os.path.join(root, "events")
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "user_id")
    ev.repartition(2).write.mode("overwrite").parquet(d)
    return d


def _batch_events(spark, events_dir):
    return spark.read.parquet(events_dir)


def test_windowed_counts_equal_batch(spark, events_dir):
    stream = windowed_event_counts(stream_events(spark, events_dir))
    got = run_available_now(stream, "win_counts", output_mode="complete")
    batch = (
        _batch_events(spark, events_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_sessionized_counts_equal_batch(spark, events_dir):
    stream = sessionized_counts(stream_events(spark, events_dir), gap="30 minutes")
    got = run_available_now(stream, "sess_counts", output_mode="complete")
    batch = (
        _batch_events(spark, events_dir)
        .groupBy(F.session_window("ts", "30 minutes").alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))
    assert got.count() > 0


def test_stateful_running_totals_accumulate(spark, events_dir):
    ckpt = os.path.join(scratch_dir("test_streaming_ckpt"), "totals")
    stream = user_running_totals(stream_events(spark, events_dir))
    got = run_available_now(
        stream, "user_totals", output_mode="update", checkpoint_dir=ckpt
    )
    # update mode emits one row per (user, micro-batch); the LAST emission
    # per user must equal the batch count
    last = (
        got.groupBy("user_id").agg(F.max("total_events").alias("total")).collect()
    )
    batch = {
        r.user_id: r["count"]
        for r in _batch_events(spark, events_dir).groupBy("user_id").count().collect()
    }
    assert {r.user_id: r.total for r in last} == batch


def test_stream_upsert_is_idempotent_per_key(spark, sf_dir, tmp_path):
    """stream_upsert on an append-mode keyed event stream: a later file
    re-delivers every 3rd event with a changed payload, and the table
    must hold last-writer-wins per key, i.e. the batch result. Replaying
    the whole stream under a fresh checkpoint leaves the table unchanged
    — the reference's idempotent load, in streaming form. A merge that
    appended instead of upserting would hold the redelivered keys twice."""
    from automate_data_ingestion_project_spark.streaming import (
        KEYED_EVENT_SCHEMA,
        stream_upsert,
    )

    cols = ["event_id", "ts", "event_type", "user_id"]
    ev = load_table(spark, sf_dir, "events").select(*cols)
    corr = ev.filter(F.col("event_id") % 3 == 0).withColumn(
        "event_type", F.lit("corrected")
    )
    src = tmp_path / "incoming"
    ev.repartition(2).write.parquet(str(src / "batch1"))
    corr.coalesce(1).write.parquet(str(src / "batch2"))
    # corrections are the LATER micro-batch: pin the file-source order
    t0 = os.stat(src / "batch1").st_mtime
    for sub, off in (("batch1", 0), ("batch2", 60)):
        for root, _, files in os.walk(src / sub):
            for f in files:
                os.utime(os.path.join(root, f), (t0 + off, t0 + off))
    path = str(tmp_path / "events_by_id")

    def run(tag):
        stream_upsert(
            stream_events(
                spark,
                f"{src}/*",
                schema=KEYED_EVENT_SCHEMA,
                max_files_per_trigger=1,
            ),
            path,
            ["event_id"],
            str(tmp_path / f"ckpt_{tag}"),
        )
        rows = spark.read.parquet(path).select(*cols).collect()
        return sorted(map(tuple, rows))

    batch = ev.join(corr.select("event_id"), "event_id", "left_anti").unionByName(
        corr
    )
    first = run("a")
    assert first == sorted(map(tuple, batch.select(*cols).collect()))
    assert run("b") == first  # full replay with a fresh checkpoint


def test_watermark_present_in_plan(spark, events_dir):
    stream = windowed_event_counts(stream_events(spark, events_dir))
    assert "EventTimeWatermark" in stream._jdf.queryExecution().analyzed().toString()


def test_run_available_now_restores_shuffle_partitions(
    spark, events_dir, tmp_path
):
    """The drain pins its shuffle width without leaking it: a stateful
    stream drained from a session at another width records
    DRAIN_SHUFFLE_PARTITIONS in its checkpoint's offset log (the width
    Spark restores on restart), and the session reads its own value
    again afterwards."""
    from automate_data_ingestion_project_spark.streaming.events import (
        DRAIN_SHUFFLE_PARTITIONS,
    )

    key = "spark.sql.shuffle.partitions"
    ckpt = tmp_path / "ckpt"
    prior = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        got = run_available_now(
            windowed_event_counts(stream_events(spark, events_dir)),
            "restore_conf_probe",
            checkpoint_dir=str(ckpt),
        )
        assert got.count() > 0
        assert spark.conf.get(key) == "3"
    finally:
        spark.conf.set(key, prior)
    # offsets/<batch>: a version line, the batch metadata (with the
    # session confs the checkpoint pins), then one line per source
    meta = json.loads((ckpt / "offsets" / "0").read_text().splitlines()[1])
    assert meta["conf"][key] == str(DRAIN_SHUFFLE_PARTITIONS) == "8"


def test_drain_error_raises_restores_width_and_stops_query(
    spark, events_dir, tmp_path
):
    """A foreachBatch body that raises fails the drain: the error
    surfaces to the caller, the session's own shuffle width is back,
    and no streaming query is left running."""
    from pyspark.errors import StreamingQueryException

    from automate_data_ingestion_project_spark.streaming.events import (
        drain_available_now,
    )

    def fail(batch_df, epoch_id):
        raise RuntimeError("planted micro-batch failure")

    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        with pytest.raises(StreamingQueryException, match="planted"):
            drain_available_now(
                stream_events(spark, events_dir),
                fail,
                checkpoint_dir=str(tmp_path / "ckpt"),
            )
        assert spark.conf.get(key) == "3"
    finally:
        spark.conf.set(key, prior)
    assert spark.streams.active == []


def test_stream_neardup_ingest_cross_batch_detection(spark, tmp_path):
    """The streaming edition of the NearDupIndex loop: two document
    files drained as two micro-batches (maxFilesPerTrigger=1) must
    reproduce the batch loop's decisions — batch 2's doc is a near-dup
    of a doc ACCEPTED in batch 1's epoch, detectable only if the
    foreachBatch append really ran between micro-batches. The ledger
    carries the epoch ids; a replayed file must not double-append
    (ingest_batch's id guard)."""
    from automate_data_ingestion_project_spark.streaming.neardup import (
        stream_neardup_ingest,
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

    src = tmp_path / "incoming"
    novel = "completely different words about distributed query engines here"
    b1 = spark.createDataFrame(
        [
            (10, "xq the quick brown fox jumps over the lazy dog today"),
            (11, novel),
        ],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(20, "zz " + novel)], "doc_id long, text string"
    )
    b1.coalesce(1).write.parquet(str(src / "batch1"))
    b2.coalesce(1).write.parquet(str(src / "batch2"))
    # file-source micro-batch order follows modification time: pin it
    # so batch1's append provably precedes batch2's probe
    t0 = os.stat(src / "batch1").st_mtime
    for sub, off in (("batch1", 0), ("batch2", 60)):
        for root, _, files in os.walk(src / sub):
            for f in files:
                p = os.path.join(root, f)
                os.utime(p, (t0 + off, t0 + off))

    ledger = stream_neardup_ingest(
        spark,
        f"{src}/*",
        index,
        str(tmp_path / "decisions"),
        str(tmp_path / "ckpt"),
    )
    rows = {r.batch_id: (r.is_near_dup, r.epoch_id) for r in ledger.collect()}
    assert rows[10][0] is True  # near-dup of corpus
    assert rows[11][0] is False  # novel, accepted + appended
    assert rows[20][0] is True  # near-dup of batch-1's ACCEPTED doc
    assert rows[11][1] < rows[20][1]  # distinct, ordered epochs
    # the accepted doc is in the index; the rejected ones are not
    assert index.bands().filter("doc_id = 11").count() > 0
    assert index.bands().filter("doc_id in (10, 20)").count() == 0


def test_stream_neardup_ingest_empty_drain_returns_empty_ledger(spark, tmp_path):
    """A drain with nothing pending is a normal state for a continuous
    loop: the ledger comes back empty with the full schema, not a
    read error on a never-created directory."""
    from automate_data_ingestion_project_spark.streaming.neardup import (
        stream_neardup_ingest,
    )
    from automate_data_ingestion_project_spark.textops.neardup_index import (
        NearDupIndex,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    index = NearDupIndex.build(spark, corpus, str(tmp_path / "idx"))
    src = tmp_path / "incoming"
    os.makedirs(src, exist_ok=True)
    ledger = stream_neardup_ingest(
        spark,
        f"{src}/*",
        index,
        str(tmp_path / "decisions"),
        str(tmp_path / "ckpt"),
    )
    assert ledger.count() == 0
    assert set(ledger.columns) == {
        "batch_id", "n_candidates", "n_verified_dups", "is_near_dup",
        "epoch_id",
    }


def test_stream_shard_export_epochs_fill_and_restart_resumes(spark, tmp_path):
    """The streaming shard exporter: two document files drained as two
    micro-batches must land as ledger batches {0, 1} with epoch 1's
    docs continuing from epoch 0's token offset (cross-epoch shard
    filling), and a RESTARTED drain over the same checkpoint must not
    re-export anything (the file source's checkpoint plus the append's
    committed-batch no-op)."""
    import os

    from pyspark.sql import functions as F

    from automate_data_ingestion_project_spark.analytics.mixing import (
        shard_store_paths,
    )
    from automate_data_ingestion_project_spark.streaming.shards import (
        stream_shard_export,
    )

    src = tmp_path / "incoming"
    # 6-token docs, budget 10: doc 1 fills [0,6), doc 2 starts at 6 →
    # shard 0; epoch 1's doc 3 starts at 12 → shard 1, doc 4 at 18 →
    # shard 1 — a deterministic tiny fixture, scramble order irrelevant
    # within epochs because assignment is by running offset either way
    b1 = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "g h i j k l")], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(3, "m n o p q r"), (4, "s t u v w x")], "doc_id long, text string"
    )
    b1.coalesce(1).write.parquet(str(src / "batch1"))
    b2.coalesce(1).write.parquet(str(src / "batch2"))
    t0 = os.stat(str(src / "batch1")).st_mtime
    for sub, off in (("batch1", 0), ("batch2", 60)):
        for walk_root, _, files in os.walk(str(src / sub)):
            for f in files:
                os.utime(os.path.join(walk_root, f), (t0 + off, t0 + off))

    root = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    exported = stream_shard_export(
        spark, f"{src}/*", root, ckpt, budget=10
    )
    rows = {r.doc_id: (r.shard_id, r.batch_seq) for r in exported.collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert {bs for _, bs in rows.values()} == {0, 1}
    # global starting offsets 0, 6, 12, 18 with budget 10 → shards
    # 0, 0, 1, 1: epoch 1 continued from epoch 0's total, not from 0
    assert [rows[i][0] for i in (1, 2, 3, 4)] == [0, 0, 1, 1]

    # restart over the same checkpoint: nothing pending → nothing new
    _, ledger_path = shard_store_paths(root)
    n_ledger = spark.read.parquet(ledger_path).count()
    again = stream_shard_export(
        spark, f"{src}/*", root, ckpt, budget=10
    )
    assert again.count() == 4
    assert spark.read.parquet(ledger_path).count() == n_ledger


def test_stream_shard_export_empty_epoch_survives(spark, tmp_path):
    """An empty micro-batch (a zero-row input file — a real production
    shape for a continuous exporter) must not kill the stream on a
    fresh store: the empty epoch commits a (0, 0, 0) ledger row and the
    following real epoch lands its docs starting at token offset 0."""
    import os

    from automate_data_ingestion_project_spark.analytics.mixing import (
        shard_store_paths,
    )
    from automate_data_ingestion_project_spark.streaming.shards import (
        stream_shard_export,
    )

    src = tmp_path / "incoming"
    empty = spark.createDataFrame([], "doc_id long, text string")
    full = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "g h i j k l")], "doc_id long, text string"
    )
    empty.coalesce(1).write.parquet(str(src / "batch0"))
    full.coalesce(1).write.parquet(str(src / "batch1"))
    # order the file source's epochs: empty file strictly first
    t0 = os.stat(str(src / "batch0")).st_mtime
    for sub, off in (("batch0", 0), ("batch1", 60)):
        for walk_root, _, files in os.walk(str(src / sub)):
            for f in files:
                os.utime(os.path.join(walk_root, f), (t0 + off, t0 + off))

    root = str(tmp_path / "store")
    exported = stream_shard_export(
        spark,
        f"{src}/*",
        root,
        str(tmp_path / "ckpt"),
        budget=10,
    )
    rows = {r.doc_id: (int(r.shard_id), r.batch_seq) for r in exported.collect()}
    # the real epoch's docs start at offset 0 — the empty epoch added none
    assert rows == {1: (0, 1), 2: (0, 1)}
    _, ledger_path = shard_store_paths(root)
    ledger = {
        r.batch_seq: (r.n_docs, r.n_tokens)
        for r in spark.read.parquet(ledger_path).collect()
    }
    assert ledger == {0: (0, 0), 1: (2, 12)}


def test_stream_shard_export_empty_drain_returns_empty(spark, tmp_path):
    import os

    from automate_data_ingestion_project_spark.streaming.shards import (
        stream_shard_export,
    )

    src = tmp_path / "incoming"
    os.makedirs(src, exist_ok=True)
    out = stream_shard_export(
        spark,
        f"{src}/*",
        str(tmp_path / "store"),
        str(tmp_path / "ckpt"),
    )
    assert out.count() == 0
    assert set(out.columns) == {
        "doc_id", "text", "n_tokens", "shard_id", "batch_seq",
    }


def test_stream_ivf_ingest_empty_epoch_and_restart(spark, sf_dir, tmp_path):
    """The streaming IVF indexer: an empty first epoch (zero-row
    embedding file) commits a (0, 0) ledger row and the store survives;
    the real epochs land their vectors; a restarted drain over the same
    checkpoint re-indexes nothing (checkpoint + committed-epoch no-op)."""
    import os

    from pyspark.sql import functions as F

    from automate_data_ingestion_project_spark.analytics.ivf import (
        N_CELLS,
        ivf_store_paths,
    )
    from automate_data_ingestion_project_spark.io import load_table
    from automate_data_ingestion_project_spark.streaming.ivf import (
        stream_ivf_ingest,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = emb.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("c_emb")
    )
    src = tmp_path / "incoming"
    empty = spark.createDataFrame([], emb.schema)
    empty.coalesce(1).write.parquet(str(src / "batch0"))
    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "batch1")
    )
    emb.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "batch2")
    )
    t0 = os.stat(str(src / "batch0")).st_mtime
    for sub, off in (("batch0", 0), ("batch1", 60), ("batch2", 120)):
        for walk_root, _, files in os.walk(str(src / sub)):
            for f in files:
                os.utime(os.path.join(walk_root, f), (t0 + off, t0 + off))

    root = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    stored = stream_ivf_ingest(
        spark, f"{src}/*", centroids, root, ckpt
    )
    assert stored.count() == emb.count()
    assert stored.select("vec_id").distinct().count() == emb.count()
    vectors_path, ledger_path = ivf_store_paths(root)
    ledger = {
        r.batch_seq: r.n_vectors
        for r in spark.read.parquet(ledger_path).collect()
    }
    assert set(ledger) == {0, 1, 2} and ledger[0] == 0
    assert ledger[1] + ledger[2] == emb.count()

    # restart over the same checkpoint: nothing pending → nothing new
    again = stream_ivf_ingest(
        spark, f"{src}/*", centroids, root, ckpt
    )
    assert again.count() == emb.count()
    assert spark.read.parquet(ledger_path).count() == 3
