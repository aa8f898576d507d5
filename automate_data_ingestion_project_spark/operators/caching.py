"""Caller-scoped persist tracking for library operators.

Library operators persist intermediates that feed two plan branches
(e.g. shingles feeding both sides of a self-join, tf feeding both the
df aggregate and the ranking join). The persist must OUTLIVE the
operator function — queries return lazy DataFrames and the cache is
only useful during the caller's eventual action — so a try/finally
inside the operator would unpersist before the cache is ever hit.

Instead every library persist routes through :func:`tracked_persist`,
which registers the persisted DataFrame in a session-global list, and
callers release the whole scope after their action:

    result = some_query(spark, sf_dir)
    rows = result.collect()          # caches populated + used here
    release_caches()                 # drop them; storage back to zero

Without a release, repeated operator calls accumulate cached relations
until executor storage evicts under pressure (correct but wasteful —
eviction is LRU churn, not a leak of wrong data). ``bench.py`` and the
pipeline runner call :func:`release_caches` after every query action;
``tests/test_caching.py`` asserts the sweep leaves zero persistent RDDs.

Store-protocol steps run on concurrent driver threads
(``operators.concurrency.run_concurrently``), so the registry is
guarded by a lock.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_LOCK = threading.Lock()
_ACTIVE: list[DataFrame] = []


def tracked_persist(df: DataFrame, storage_level=None) -> DataFrame:
    """``df.persist()`` + register for a later :func:`release_caches`."""
    persisted = df.persist(storage_level) if storage_level else df.persist()
    with _LOCK:
        _ACTIVE.append(persisted)
    return persisted


def untrack(df: DataFrame) -> None:
    """Remove ``df`` from the registry without unpersisting (for
    operators that manage an intermediate's lifetime themselves, e.g.
    the per-round unpersist in connected_components)."""
    with _LOCK:
        _ACTIVE[:] = [d for d in _ACTIVE if d is not df]


def release_caches() -> int:
    """Unpersist every tracked DataFrame; returns how many were live.

    Safe to call at any point after the caller's action; blocking=False
    (Spark's default) so release is async on the executors.
    """
    n = 0
    while True:
        with _LOCK:
            if not _ACTIVE:
                break
            df = _ACTIVE.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to release
            pass
    return n
