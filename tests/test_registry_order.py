"""Pins on the driver-check ordering contract (__spark_entry__):
every _CHECK_FIRST name must resolve to a registered query (a typo
silently demotes that query to registration order and wastes the
round's check slot), the ordered registry must be duplicate-free, and
the window composition must hold: first the 28 rows whose
behavior-bearing code changed after the r17 drive (every store,
ingest-replay, change-feed and near-dup row, plus the quantize
family), then the 22 stalest rows — r13-vintage evidence in the
CORRECTNESS_r{N}.json hash_match history, in registration order."""

import fnmatch

import __spark_entry__ as entrymod
from automate_data_ingestion_project_spark.analytics import QUERIES

CODE_TOUCHED_PATTERNS = ("*_store_*", "*_ingest_replay", "cdf_*", "*neardup*")
QUANTIZE_FAMILY = {
    "label_centroids",
    "centroid_purity",
    "kmeans_step",
    "semantic_dedup_clusters",
}

STALEST_TAIL = [
    # the first 22 r13-vintage rows in registration order; the other 16
    # r13 rows lead the next window
    "peak_concurrent_sessions",
    "events_variant_props",
    "ann_ivfpq_refined_topk",
    "ann_ivfpq_refined_recall_eval",
    "pq_train_distortion",
    "ann_pq_trained_recall_eval",
    "ivf_train_distortion",
    "ann_ivf_trained_recall_eval",
    "table_profile_approx",
    "heavy_hitters_sketch",
    "quantile_sketch_calibration",
    "pagerank_step",
    "orc_roundtrip_supplier",
    "xml_roundtrip_part",
    "stream_stream_join",
    "stream_upsert_foreachbatch",
    "stream_late_data_drop",
    "pii_redaction",
    "orders_trailing_30d_revenue",
    "promo_revenue_share",
    "sales_grouping_sets",
    "median_order_by_nation",
]

def test_check_first_names_all_registered():
    missing = [n for n in entrymod._CHECK_FIRST if n not in QUERIES]
    assert not missing, missing


def test_ordered_registry_has_no_duplicates_and_covers_everything():
    names = list(entrymod.queries())
    assert len(names) == len(set(names))
    assert set(names) == set(QUERIES)


def test_round17_window_composition():
    first50 = list(entrymod.queries())[:50]
    code_touched = {
        n
        for n in QUERIES
        if any(fnmatch.fnmatch(n, p) for p in CODE_TOUCHED_PATTERNS)
    } | QUANTIZE_FAMILY
    assert len(code_touched) == 28
    assert set(first50[:28]) == code_touched
    assert first50[28:] == STALEST_TAIL and len(first50) == 50

def test_oracles_cover_every_query():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)
    # current state: full value-hash oracle coverage; a query added
    # without one should be a conscious decision, not an accident
    assert set(o) == set(q), sorted(set(q) - set(o))
