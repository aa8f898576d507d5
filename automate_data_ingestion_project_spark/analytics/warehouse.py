"""Warehouse-scale analytical queries — the engine's bench headliners.

The reference's analytics layer is small (month buckets, LIKE filters,
sums — ``evidence-workspace/pages/index.md``); a complete engine that a
reference user "switches to" also needs the classic warehouse shapes
those queries grow into: wide aggregations, star-schema joins, top-k
per group. These are the queries bench.py times at sf0.1.

Scale design notes (100 TB):

- ``pricing_summary``: single scan of the fact table; Catalyst pushes
  the shipdate filter into the parquet scan; partial (map-side)
  aggregation means the shuffle carries only |groups| × partitions
  rows (here 6 groups) — constant-size shuffle no matter the input TB.
- ``revenue_by_nation``: dims (nation/region/customer) are orders of
  magnitude smaller than facts. nation/region are broadcast explicitly;
  customer⋈orders is a key join where AQE picks shuffle-hash/broadcast
  by runtime size. No shuffle of lineitem on anything but the join key.
- ``top3_orders_per_priority``: window ranking partitions by a
  low-cardinality key; at scale this is the canonical skew shape —
  rank within partition after a single hash shuffle, never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import dsum, dsum_expr
from ..io import load_table
from .registry import register

DISC_PRICE = "l_extendedprice * (1 - l_discount)"

# ---------------------------------------------------------------------------
# TPC-H Q1-shaped pricing summary over lineitem (A1-A4 generalized; the
# shape SURVEY §2.5's aggregations grow into at warehouse scale).
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           {dsum_expr('l_quantity')} AS sum_qty,
           {dsum_expr('l_extendedprice')} AS sum_base_price,
           {dsum_expr('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {dsum_expr('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {dsum_expr('l_quantity')} / COUNT(*) AS avg_qty,
           {dsum_expr('l_extendedprice')} / COUNT(*) AS avg_price,
           {dsum_expr('l_discount')} / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-06-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    survey_ref="A2-A4 at warehouse scale (TPC-H Q1 shape)",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    n = F.count("*")
    return (
        li.filter(F.col("l_shipdate") <= "2001-06-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(DISC_PRICE).alias("sum_disc_price"),
            dsum(f"{DISC_PRICE} * (1 + l_tax)").alias("sum_charge"),
            (dsum("l_quantity") / n).alias("avg_qty"),
            (dsum("l_extendedprice") / n).alias("avg_price"),
            (dsum("l_discount") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Star-schema join: revenue by nation (the enrichment join the reference
# *intended* with v_commune_2023.dbf — SURVEY §2.4 — generalized).
# ---------------------------------------------------------------------------


@register(
    "revenue_by_nation",
    oracle=f"""
    SELECT n.n_name AS nation,
           r.r_name AS region,
           {dsum_expr('o.o_totalprice')} AS revenue,
           COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY n.n_name, r.r_name
    ORDER BY revenue DESC
    """,
    survey_ref="joins (SURVEY §2.4 intended enrichment) + A3",
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "1996-01-01"
    )
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    # dims are tiny → broadcast; orders⋈customer is the only real shuffle
    dim = F.broadcast(
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(dim, customer.c_nationkey == dim.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(dsum("o_totalprice").alias("revenue"), F.count("*").alias("n_orders"))
        .orderBy(F.col("revenue").desc())
    )


# ---------------------------------------------------------------------------
# Fact⋈dim join + grouped sum + deterministic top-k.
# ---------------------------------------------------------------------------


@register(
    "top_brands_by_quantity",
    oracle=f"""
    SELECT p.p_brand AS brand,
           {dsum_expr('l.l_quantity')} AS total_qty
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    ORDER BY total_qty DESC, brand
    LIMIT 5
    """,
    survey_ref="joins + A3 + O2/O3",
)
def top_brands_by_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # pre-aggregate the fact side on the join key BEFORE the join: the
    # shuffle then carries |distinct partkey| rows instead of |lineitem|.
    # No forced broadcast hint on `part` — it grows with sf, and AQE picks
    # broadcast at runtime whenever the side actually fits.
    per_part = li.groupBy("l_partkey").agg(dsum("l_quantity").alias("part_qty"))
    return (
        per_part.join(part, per_part.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(dsum("part_qty").alias("total_qty"))
        .orderBy(F.col("total_qty").desc(), "brand")
        .limit(5)
    )


# ---------------------------------------------------------------------------
# Window function: top-k per group (beyond the reference — SURVEY §2.13
# notes windows absent; a complete engine ships them).
# ---------------------------------------------------------------------------


@register(
    "top3_orders_per_priority",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, rank_in_priority
    FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS INTEGER) AS rank_in_priority
        FROM orders
    )
    WHERE rank_in_priority <= 3
    """,
    survey_ref="window ranking (engine extension; reference lacks OVER)",
)
def top3_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Skew-proof two-phase top-k: the partition key has only 5 values, so a
    # single window would drag the whole table onto 5 tasks at scale.
    # Phase 1 ranks within (priority, salt) — crc32(orderkey)%32, the same
    # deterministic salt as operators/skew.py, so retries/replays are
    # stable — and keeps ≤ k rows per salt bucket; the global top-k must
    # survive its bucket's top-k, so the prune drops nothing needed.
    # Phase 2 runs the real window over ≤ k·n_salts rows per priority.
    k, n_salts = 3, 32
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    salt = (F.crc32(F.col("o_orderkey").cast("string")) % n_salts).cast("int")
    local_w = Window.partitionBy("o_orderpriority", "_salt").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    survivors = (
        orders.withColumn("_salt", salt)
        .withColumn("_local_rank", F.row_number().over(local_w))
        .filter(F.col("_local_rank") <= k)
        .drop("_salt", "_local_rank")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        survivors.withColumn("rank_in_priority", F.row_number().over(w))
        .filter(F.col("rank_in_priority") <= k)
    )


# ---------------------------------------------------------------------------
# Year extraction (F5) + grouped agg over the full orders history.
# ---------------------------------------------------------------------------


@register(
    "orders_per_year",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           COUNT(*) AS n_orders,
           {dsum_expr('o_totalprice')} AS total_sales
    FROM orders
    GROUP BY 1
    ORDER BY 1
    """,
    survey_ref="F5,A2,A3,A6",
)
def orders_per_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("total_sales"),
        )
        .orderBy("order_year")
    )
