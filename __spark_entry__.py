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
# comes first:
# (1) the 15 rows whose `functions.dsum` argument changed from a
# Column to SQL text when `dsum` became one parsed template, in
# registration order;
# (2) the 2 SQL-scripting rows, whose Spark SQL now sums through
# `functions.dsum_sql` instead of Spark's own decimal cast;
# (3) the other 17 rows whose builder calls `dsum`;
# (4) the previous order: the 16 rows on the one micro-batch drain
# (and `event_sessions_udtf`), then the store, ingest-replay,
# change-feed and near-dup head of the window before.
# 15 + 2 + 17 + 16 = 50 fills the window. (4)'s store head leads the
# next, then the ivfpq and near-dup graph rows, the quantize family and
# the r13-vintage rows.
_CHECK_FIRST = [
    # (1) `dsum` arguments that were Columns
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
    # (2) Spark SQL summing through `dsum_sql`
    "scripted_quality_gate",
    "pipe_syntax_revenue",
    # (3) the other `dsum` rows
    "orders_by_month",
    "events_weekly_heatmap",
    "incremental_daily_rollup",
    "customer_value_quartiles",
    "skew_salted_join",
    "events_hypertable_rollup",
    "revenue_by_nation",
    "top_brands_by_quantity",
    "orders_per_year",
    "sales_rollup",
    "orders_monthly_gapfill",
    "sales_cube",
    "sales_grouping_sets",
    "events_value_histogram",
    "small_qty_revenue_by_brand",
    "big_ticket_orders",
    "lapsed_customer_balance",
    # (4) the previous order: rows on the one micro-batch drain ...
    "stream_ann_ivf_ingest_replay",
    "stream_shard_export",
    "stream_shard_store_delete",
    "neardup_ingest_replay",
    "stream_neardup_ingest_replay",
    "neardup_compacted_ingest_replay",
    "neardup_store_delete",
    "event_sessions_udtf",
    "stream_ann_ivfpq_ingest_replay",
    "stream_windowed_counts",
    "stream_session_counts",
    "stream_dedup_events",
    "stream_stateful_totals",
    "stream_stream_join",
    "stream_upsert_foreachbatch",
    "stream_late_data_drop",
    # ... then the store and near-dup head
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
