"""Pins on the driver-check ordering contract (__spark_entry__):
every _CHECK_FIRST name must resolve to a registered query (a typo
silently demotes that query to registration order and wastes the
round's check slot), the ordered registry must be duplicate-free, and
the round-17 window composition — the round's deliverable — must hold:
the 38 rows whose latest driver evidence was r12-vintage (ALL of the
registry's stalest evidence, computed from the CORRECTNESS_r{N}.json
hash_match history; after this window the histogram minimum is r13),
then 12 rows whose behavior-bearing code changed in the r17
optimization round (the waiting_suppliers window rewrite, the
event_sessions_udtf scoped-conf execution, and representative rows
over the changed store-protocol legs: pre-write isEmpty probes
removed, 3-way concurrent index compaction, session_conf_scope,
thread-aware persist_scope, tombstone erasure-replay recognition),
all re-verified against their oracles in the round's drives."""

import __spark_entry__ as entrymod
from automate_data_ingestion_project_spark.analytics import QUERIES

R12_VINTAGE_HEAD = [
    # the 38 rows whose latest driver evidence was r12 — everything at
    # the staleness minimum goes into this window, per the r16
    # verdict's rotation order (item 8)
    "ann_ivfpq_topk",
    "ann_lsh_topk",
    "ann_pq_recall_eval",
    "ann_pq_refined_topk",
    "ann_pq_topk",
    "ann_recall_eval",
    "ann_refined_recall_eval",
    "ann_topk_cosine",
    "big_ticket_orders",
    "cheapest_supplier_per_part",
    "csv_roundtrip_region",
    "cumulative_new_customers",
    "customer_interarrival",
    "customer_order_histogram",
    "dedup_canonical_keep",
    "dedup_components",
    "events_value_histogram",
    "incremental_daily_rollup",
    "json_roundtrip_nation",
    "leakage_safe_split",
    "minhash_estimate_error",
    "multimodal_chunks",
    "multimodal_manifest",
    "nations_in_region1",
    "order_priority_exists",
    "orders_per_year",
    "parts_bought_together",
    "pipeline_etl_replay",
    "pricing_summary",
    "sales_cube",
    "skew_salted_agg",
    "skew_salted_join",
    "smoke_select_star",
    "source_doc_cap",
    "source_registry_sql",
    "source_token_budget_cap",
    "upsert_idempotent",
    "weighted_systematic_sample",
]

R17_CODE_TOUCHED = {
    # restructured queries (plan rewrites, oracle hashes unchanged)
    "waiting_suppliers",
    "event_sessions_udtf",
    # store-protocol legs changed in r17: pre-write isEmpty probes
    # removed (append_store_batch / append_tombstones /
    # append_token_shard_batch), 3-way concurrent index compaction,
    # session_conf_scope in masked rewrites, thread-aware
    # persist_scope
    "neardup_store_delete",
    "neardup_compacted_ingest_replay",
    "stream_neardup_ingest_replay",
    "ivf_store_delete",
    "ivfpq_store_delete",
    "shard_store_delete",
    "stream_shard_store_delete",
    "cdf_consumer_erasure_propagation",
    "ann_ivf_ingest_replay",
    "ann_ivfpq_ingest_replay",
}


def test_check_first_names_all_registered():
    missing = [n for n in entrymod._CHECK_FIRST if n not in QUERIES]
    assert not missing, missing


def test_ordered_registry_has_no_duplicates_and_covers_everything():
    names = list(entrymod.queries())
    assert len(names) == len(set(names))
    assert set(names) == set(QUERIES)


def test_round17_window_composition():
    first50 = list(entrymod.queries())[:50]
    assert first50[:38] == R12_VINTAGE_HEAD
    assert set(first50[38:]) == R17_CODE_TOUCHED
    assert len(R17_CODE_TOUCHED) == 12 and len(first50) == 50


def test_oracles_cover_every_query():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)
    # current state: full value-hash oracle coverage; a query added
    # without one should be a conscious decision, not an accident
    assert set(o) == set(q), sorted(set(q) - set(o))
