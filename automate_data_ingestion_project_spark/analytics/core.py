"""Core relational surface — SURVEY.md §2 phase-1 queries.

These re-create the reference's analytics layer
(``/root/reference/evidence-workspace/pages/index.md`` SQL fences) and
the dbt example models (``/root/reference/dbt_core/models/example/``)
over the driver's TPC-H-ish fixtures:

- reference ``orders.order_datetime`` → fixture ``orders.o_orderdate``
- reference ``orders.sales``          → fixture ``orders.o_totalprice``
- reference ``orders.category``       → fixture ``orders.o_orderpriority``

Scale notes (100 TB): every query here is a single scan → (optional
shuffle) → agg pipeline. Filters and projections are expressed on base
columns so Catalyst pushes them into the parquet scan; aggregations are
partial (map-side) before the shuffle; no driver-side loops; double
sums use exact fixed-point accumulation (see ``functions.dsum``) so results
are reproducible regardless of partial-agg order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dsum, dsum_expr
from ..io import load_table
from .registry import register

# ---------------------------------------------------------------------------
# Flagship: orders_by_month — the Evidence dashboard's headline query
# (index.md:16-25): date_trunc month + count(*) + sum + derived ratio,
# timestamp range filter, positional GROUP BY/ORDER BY ... DESC.
# Covers SURVEY §2 rows A2 A3 A4 A6 F4 P5 O1.
# ---------------------------------------------------------------------------


@register(
    "orders_by_month",
    oracle=f"""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           COUNT(*) AS number_of_orders,
           {dsum_expr('o_totalprice')} AS sales_usd,
           {dsum_expr('o_totalprice')} / COUNT(*) AS average_order_value
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY 1
    ORDER BY 1 DESC
    """,
    survey_ref="A2,A3,A4,A6,F4,F7,P5,O1 (index.md:16-25)",
)
def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    sales = dsum("o_totalprice")
    return (
        orders.filter(F.col("o_orderdate") >= "1996-01-01")
        .groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .agg(
            F.count("*").alias("number_of_orders"),
            sales.alias("sales_usd"),
            (sales / F.count("*")).alias("average_order_value"),
        )
        .orderBy(F.col("month").desc())
    )


# ---------------------------------------------------------------------------
# categories — DISTINCT via GROUP BY (index.md:69-74). Covers A5.
# ---------------------------------------------------------------------------


@register(
    "categories",
    oracle="SELECT o_orderpriority AS category FROM orders GROUP BY o_orderpriority",
    survey_ref="A5 (index.md:69-74)",
)
def categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(F.col("o_orderpriority").alias("category")).distinct()


# ---------------------------------------------------------------------------
# orders_by_category — parameterized LIKE filters + GROUP BY ALL + ORDER BY
# aggregate DESC (index.md:87-97). The Evidence page interpolates
# ${inputs.category.value} / ${inputs.year.value}; here they are bound via
# spark.sql named parameters (Spark ≥3.4) with the page's defaults
# ('%' wildcards meaning "all", a concrete year otherwise).
# Covers P6 F5 F6 A7 A3 O2.
# ---------------------------------------------------------------------------

_ORDERS_BY_CATEGORY_SQL = """
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       o_orderpriority AS category,
       {sum_expr} AS sales_usd
FROM {table}
WHERE o_orderpriority LIKE :category
  AND CAST(year(o_orderdate) AS STRING) LIKE :year
GROUP BY ALL
ORDER BY sales_usd DESC
"""


@register(
    "orders_by_category",
    oracle=f"""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           o_orderpriority AS category,
           {dsum_expr('o_totalprice')} AS sales_usd
    FROM orders
    WHERE o_orderpriority LIKE '1%'
      AND CAST(year(o_orderdate) AS VARCHAR) LIKE '199%'
    GROUP BY ALL
    ORDER BY sales_usd DESC
    """,
    survey_ref="P6,F5,F6,A7,A3,O2 (index.md:87-97)",
)
def orders_by_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    q = _ORDERS_BY_CATEGORY_SQL.format(
        table="orders_v", sum_expr=dsum_expr("o_totalprice")
    )
    return spark.sql(q, args={"category": "1%", "year": "199%"})


# ---------------------------------------------------------------------------
# dbt example models (my_first_dbt_model.sql / my_second_dbt_model.sql):
# literal inline table + UNION ALL + CTE + equality / null filters.
# Covers S5 U1 P3 P4.
# ---------------------------------------------------------------------------


@register(
    "dbt_first_model",
    oracle="SELECT 1 AS id UNION ALL SELECT NULL AS id",
    survey_ref="S5,U1 (my_first_dbt_model.sql:12-18)",
)
def dbt_first_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CTE source_data + select * (my_first_dbt_model.sql:12-21)
    return spark.sql("WITH source_data AS (SELECT 1 AS id UNION ALL SELECT NULL AS id) "
                     "SELECT * FROM source_data")


@register(
    "dbt_second_model",
    oracle="WITH first_model AS (SELECT 1 AS id UNION ALL SELECT NULL AS id) "
    "SELECT * FROM first_model WHERE id = 1",
    survey_ref="P3 (my_second_dbt_model.sql:4-6), ref() inlining of ephemeral model",
)
def dbt_second_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    first = dbt_first_model(spark, sf_dir)  # ephemeral: composed lazily, never materialized
    return first.filter(F.col("id") == 1)


@register(
    "not_null_filter",
    oracle="WITH first_model AS (SELECT 1 AS id UNION ALL SELECT NULL AS id) "
    "SELECT * FROM first_model WHERE id IS NOT NULL",
    survey_ref="P4 (my_first_dbt_model.sql:27)",
)
def not_null_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dbt_first_model(spark, sf_dir).filter(F.col("id").isNotNull())


# ---------------------------------------------------------------------------
# Pass-through projection + LIMIT (test.md:9-14: SELECT * FROM t LIMIT 10).
# region has 5 rows → LIMIT 10 returns all of them, deterministically.
# Covers P1 O3.
# ---------------------------------------------------------------------------


@register(
    "smoke_select_star",
    oracle="SELECT * FROM region LIMIT 10",
    survey_ref="P1,O3 (pages/test.md:9-14, src_*.sql pass-through)",
)
def smoke_select_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "region").limit(10)


# ---------------------------------------------------------------------------
# Top-k: ORDER BY aggregate-ish value DESC + LIMIT with a deterministic
# tiebreak (O2 O3). The reference's only top-k shape is ORDER BY+LIMIT.
# ---------------------------------------------------------------------------


@register(
    "top10_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    survey_ref="O2,O3,O5 (index.md:96, test.md:13; row cap index.md:59)",
)
def top10_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TakeOrderedAndProject: top-k is computed per-partition then merged on
    # the driver — no full sort, no shuffle of the whole table. Survives any
    # scale as long as k is small.
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Equality filter on a dimension (P3 on real data) + projection pruning.
# ---------------------------------------------------------------------------


@register(
    "nations_in_region1",
    oracle="SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 1",
    survey_ref="P2,P3 (my_second_dbt_model.sql:6 over real table)",
)
def nations_in_region1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey") == 1)
        .select("n_nationkey", "n_name")
    )


# ---------------------------------------------------------------------------
# Timestamp range predicate over the events table (P5) + grouped count (A2).
# ---------------------------------------------------------------------------


@register(
    "events_by_type",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-15'
    GROUP BY event_type
    """,
    survey_ref="P5,A2 (index.md:23 shape over events)",
)
def events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts") >= "2024-01-15")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )
