"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All implementations live in ``automate_data_ingestion_project_spark``;
this file only adapts the package's query registry to the driver's
calling convention.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from automate_data_ingestion_project_spark.analytics import QUERIES

# Importing these modules populates the registry (decorator side effect).
import automate_data_ingestion_project_spark.analytics.contamination  # noqa: F401
import automate_data_ingestion_project_spark.analytics.core  # noqa: F401
import automate_data_ingestion_project_spark.analytics.behavior  # noqa: F401
import automate_data_ingestion_project_spark.analytics.bpe  # noqa: F401
import automate_data_ingestion_project_spark.analytics.centroids  # noqa: F401
import automate_data_ingestion_project_spark.analytics.checks  # noqa: F401
import automate_data_ingestion_project_spark.analytics.curation  # noqa: F401
import automate_data_ingestion_project_spark.analytics.dedup  # noqa: F401
import automate_data_ingestion_project_spark.analytics.dv3f  # noqa: F401
import automate_data_ingestion_project_spark.analytics.events_ext  # noqa: F401
import automate_data_ingestion_project_spark.analytics.fuzzy  # noqa: F401
import automate_data_ingestion_project_spark.analytics.gates  # noqa: F401
import automate_data_ingestion_project_spark.analytics.grouped_pandas  # noqa: F401
import automate_data_ingestion_project_spark.analytics.ingest_replay  # noqa: F401
import automate_data_ingestion_project_spark.analytics.ivf  # noqa: F401
import automate_data_ingestion_project_spark.analytics.ivf_train  # noqa: F401
import automate_data_ingestion_project_spark.analytics.load  # noqa: F401
import automate_data_ingestion_project_spark.analytics.media  # noqa: F401
import automate_data_ingestion_project_spark.analytics.mixing  # noqa: F401
import automate_data_ingestion_project_spark.analytics.model_build  # noqa: F401
import automate_data_ingestion_project_spark.analytics.pq  # noqa: F401
import automate_data_ingestion_project_spark.analytics.pq_train  # noqa: F401
import automate_data_ingestion_project_spark.analytics.profiling  # noqa: F401
import automate_data_ingestion_project_spark.analytics.quantize  # noqa: F401
import automate_data_ingestion_project_spark.analytics.recursive  # noqa: F401
import automate_data_ingestion_project_spark.analytics.sampling  # noqa: F401
import automate_data_ingestion_project_spark.analytics.scripting  # noqa: F401
import automate_data_ingestion_project_spark.analytics.graph  # noqa: F401
import automate_data_ingestion_project_spark.analytics.semdedup  # noqa: F401
import automate_data_ingestion_project_spark.analytics.similarity  # noqa: F401
import automate_data_ingestion_project_spark.analytics.sketches  # noqa: F401
import automate_data_ingestion_project_spark.analytics.skew_queries  # noqa: F401
import automate_data_ingestion_project_spark.analytics.sources_surface  # noqa: F401
import automate_data_ingestion_project_spark.analytics.spans  # noqa: F401
import automate_data_ingestion_project_spark.analytics.splits  # noqa: F401
import automate_data_ingestion_project_spark.analytics.stream_query  # noqa: F401
import automate_data_ingestion_project_spark.analytics.temporal  # noqa: F401
import automate_data_ingestion_project_spark.analytics.terms  # noqa: F401
import automate_data_ingestion_project_spark.analytics.textstats  # noqa: F401
import automate_data_ingestion_project_spark.analytics.warehouse  # noqa: F401
import automate_data_ingestion_project_spark.analytics.warehouse_ext  # noqa: F401
import automate_data_ingestion_project_spark.analytics.warehouse_subq  # noqa: F401
import automate_data_ingestion_project_spark.analytics.warehouse_q2  # noqa: F401
import automate_data_ingestion_project_spark.analytics.warehouse_q3  # noqa: F401

_SMOKE_SF_DIR = "/root/testdata/sf0.001"

# The driver caps each round at 50 checked queries of the registered
# set (it checks the first 50 in this ordering; the count rotates
# round to round). Order the registry so the weakest driver evidence
# comes first. Round-17 ordering (the second OPTIMIZATION round —
# nothing new registered, so the window is rotation + re-verification,
# per the r16 verdict's item 8):
# (1) ALL 38 rows whose latest driver evidence is r12-vintage — the
# stalest evidence anywhere in the registry, computed from the
# CORRECTNESS_r{N}.json hash_match history (after this round the
# histogram minimum is r13);
# (2) 12 rows whose behavior-bearing code changed in r17: the two
# restructured queries (waiting_suppliers' window rewrite,
# event_sessions_udtf's scoped-conf eager execution) and
# representative rows over every changed protocol leg (pre-write
# isEmpty probes removed from append_store_batch / append_tombstones
# / append_token_shard_batch, the 3-way concurrent index compaction,
# session_conf_scope in the masked rewrites, thread-aware
# persist_scope).
# Every one of these ran green in this round's changed-since oracle
# drives plus a FULL 203-query drive; this window turns that local
# evidence into driver evidence. 38 + 12 = 50 fills the window.
_CHECK_FIRST = [
    # (1) the 38 stalest rows (r12-vintage evidence)
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
    # (2) behavior-bearing code changed in r17
    "waiting_suppliers",
    "event_sessions_udtf",
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
]


def _ordered_specs():
    """Registry in driver-check order: _CHECK_FIRST (deduped, first
    occurrence wins) then the remaining specs in registration order."""
    seen: set[str] = set()
    ordered = []
    for n in _CHECK_FIRST:
        if n in QUERIES and n not in seen:
            seen.add(n)
            ordered.append(QUERIES[n])
    ordered.extend(s for n, s in QUERIES.items() if n not in seen)
    return ordered


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (orders_by_month) on sf0.001; driver checks rows>0."""
    return QUERIES["orders_by_month"].fn(spark, _SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {spec.name: spec.fn for spec in _ordered_specs()}


def oracle_sql() -> dict[str, str]:
    return {
        spec.name: spec.oracle
        for spec in _ordered_specs()
        if spec.oracle is not None
    }
