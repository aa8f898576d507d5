"""Pins on the driver-check ordering contract (__spark_entry__):
every _CHECK_FIRST name must resolve to a registered query (a typo
silently demotes that query to registration order and wastes the
round's check slot), the ordered registry must be duplicate-free, and
the window composition must hold: first the 32 rows whose builder calls
`functions.dsum` (their sums moved to exact fixed-point limb
arithmetic after the r17 drive), in registration order, then the first
18 rows of the previous window's head — store, ingest-replay,
change-feed and near-dup rows whose commit and decision paths changed
after the r17 drive."""

import inspect
import re

import __spark_entry__ as entrymod
from automate_data_ingestion_project_spark.analytics import QUERIES

PREVIOUS_HEAD = [
    # the first 18 rows of the previous window; the rest of it (from
    # neardup_store_delete on, then the r13-vintage rows) leads the next
    "ann_ivf_ingest_replay",
    "stream_ann_ivf_ingest_replay",
    "ivf_store_compaction",
    "ivf_store_delete",
    "shard_store_ledger_checkpoint",
    "shard_store_compaction",
    "shard_store_asof",
    "shard_store_asof_compacted",
    "shard_store_delete",
    "shard_store_asof_erasure",
    "shard_store_changes",
    "stream_shard_store_delete",
    "cdf_incremental_consumer",
    "cdf_consumer_erasure_propagation",
    "incremental_neardup_filter",
    "neardup_ingest_replay",
    "stream_neardup_ingest_replay",
    "neardup_compacted_ingest_replay",
]

# a call of `dsum` (or the `_dsum` import alias), not of `dsum_expr`
_DSUM_CALL = re.compile(r"\b_?dsum\(")


def _calls_dsum(name: str) -> bool:
    return bool(_DSUM_CALL.search(inspect.getsource(QUERIES[name].fn)))


def test_check_first_names_all_registered():
    missing = [n for n in entrymod._CHECK_FIRST if n not in QUERIES]
    assert not missing, missing


def test_ordered_registry_has_no_duplicates_and_covers_everything():
    names = list(entrymod.queries())
    assert len(names) == len(set(names))
    assert set(names) == set(QUERIES)


def test_driver_window_composition():
    first50 = list(entrymod.queries())[:50]
    dsum_rows = [n for n in QUERIES if _calls_dsum(n)]  # registration order
    assert len(dsum_rows) == 32
    assert first50[:32] == dsum_rows
    assert first50[32:] == PREVIOUS_HEAD and len(first50) == 50

def test_oracles_cover_every_query():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)
    # current state: full value-hash oracle coverage; a query added
    # without one should be a conscious decision, not an accident
    assert set(o) == set(q), sorted(set(q) - set(o))
