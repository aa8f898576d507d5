"""Pins on the driver-check ordering contract (__spark_entry__):
every _CHECK_FIRST name must resolve to a registered query (a typo
silently demotes that query to registration order and wastes the
round's check slot), the ordered registry must be duplicate-free, and
the window composition must hold: first the 15 rows whose
`functions.dsum` argument changed from a Column to SQL text, then the
2 SQL-scripting rows that sum through `functions.dsum_sql`, then the
other rows whose builder calls `dsum` (all in registration order);
then the previous order — the 16 rows on the one micro-batch drain
(the streaming rows, the near-dup batch replays that share its shuffle
width, and `event_sessions_udtf`), then the store, ingest-replay,
change-feed and near-dup head of the window before — less the rows
already placed."""

import inspect
import re

import __spark_entry__ as entrymod
from automate_data_ingestion_project_spark.analytics import QUERIES

COLUMN_ARG_ROWS = {
    "pricing_summary",
    "nation_revenue_share",
    "promo_revenue_share",
    "nation_revenue_pareto",
    "important_revenue_nations",
    "disjunctive_promo_revenue",
    "local_supplier_revenue",
    "shipping_priority_topk",
    "volume_shipping_pairs",
    "nation_market_share",
    "returned_item_losses",
    "discount_revenue_delta",
    "top_supplier_revenue",
    "nation_profit_by_year",
    "promotable_part_suppliers",
}

SCRIPTING_ROWS = {"scripted_quality_gate", "pipe_syntax_revenue"}

DRAIN_ROWS = {
    "stream_windowed_counts",
    "stream_session_counts",
    "stream_dedup_events",
    "stream_stateful_totals",
    "stream_stream_join",
    "stream_upsert_foreachbatch",
    "stream_late_data_drop",
    "stream_neardup_ingest_replay",
    "stream_shard_export",
    "stream_shard_store_delete",
    "stream_ann_ivf_ingest_replay",
    "stream_ann_ivfpq_ingest_replay",
    "neardup_ingest_replay",
    "neardup_compacted_ingest_replay",
    "neardup_store_delete",
    "event_sessions_udtf",
}

PREVIOUS_HEAD = [
    # the store and near-dup head that followed the drain rows before
    "ann_ivf_ingest_replay",
    "ivf_store_compaction",
    "ivf_store_delete",
    "shard_store_ledger_checkpoint",
    "shard_store_compaction",
    "shard_store_asof",
    "shard_store_asof_compacted",
    "shard_store_delete",
    "shard_store_asof_erasure",
    "shard_store_changes",
    "cdf_incremental_consumer",
    "cdf_consumer_erasure_propagation",
    "incremental_neardup_filter",
]

# a call of `dsum`, not of `dsum_expr` or `dsum_sql`
_DSUM_CALL = re.compile(r"\bdsum\(")


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
    ordered = list(entrymod.queries())
    dsum_rows = [n for n in QUERIES if _calls_dsum(n)]  # registration order
    assert len(dsum_rows) == 32
    assert COLUMN_ARG_ROWS <= set(dsum_rows)
    head = (
        [n for n in QUERIES if n in COLUMN_ARG_ROWS]
        + [n for n in QUERIES if n in SCRIPTING_ROWS]
        + [n for n in dsum_rows if n not in COLUMN_ARG_ROWS]
        + [n for n in QUERIES if n in DRAIN_ROWS]
        + PREVIOUS_HEAD
    )
    assert len(head) == len(set(head)) == 15 + 2 + 17 + 16 + 13
    assert ordered[: len(head)] == head
    assert len(entrymod._CHECK_FIRST) == len(head)


def test_oracles_cover_every_query():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)
    # current state: full value-hash oracle coverage; a query added
    # without one should be a conscious decision, not an accident
    assert set(o) == set(q), sorted(set(q) - set(o))
