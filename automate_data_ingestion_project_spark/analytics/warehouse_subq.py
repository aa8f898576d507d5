"""Subquery-shaped warehouse queries — the decorrelated-plan family.

The reference's SQL surface (SURVEY.md §2) has no correlated
subqueries; a complete engine must run the classic EXISTS /
scalar-subquery / HAVING-vs-global / argmin-per-group shapes, because
they are where naive plans go quadratic at 100 TB. Each query here is
expressed so Catalyst produces the decorrelated form directly — a
semi-join, an aggregate-then-joinback, or a broadcast scalar — instead
of a per-row re-execution:

- EXISTS          → ``left_semi`` join with the compound condition;
- per-group scalar (``x < f(avg over group)``) → group aggregate +
  equi-join-back on the SAME key, so AQE reuses the exchange (the fact
  relation shuffles once, not twice);
- HAVING vs a global scalar → 1-row aggregate broadcast
  (``crossJoin(broadcast(...))``), never a second scan;
- argmin-per-group → min-aggregate + tie-preserving join-back (the
  deterministic form; ``min_by`` flaps under ties).

Float discipline: every aggregate a boundary predicate later compares
against accumulates exactly (:func:`..functions.dsum`) so 1000-way
partial-aggregation order cannot flip a row across the threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dsum, dsum_expr
from ..io import load_table
from .registry import register

REV = "l_extendedprice * (1 - l_discount)"


@register(
    "order_priority_exists",
    oracle="""
    SELECT o.o_orderpriority AS priority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    )
    GROUP BY 1
    """,
    survey_ref="correlated EXISTS decorrelated to a semi-join (Q4 shape)",
)
def order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with at least one line shipped >90 days after order date,
    counted per priority — the TPC-H Q4 correlated-EXISTS shape.

    Spark-first form: a ``left_semi`` join carrying the correlated
    predicate in the join condition — one shuffle per side on
    l_orderkey, each order emitted at most once regardless of how many
    lines qualify (the dedup an inner-join + distinct would pay a
    second shuffle for).
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "small_qty_revenue_by_brand",
    oracle=f"""
    WITH pa AS (
        SELECT l_partkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE)
                   / COUNT(*) AS avg_qty
        FROM lineitem GROUP BY 1
    )
    SELECT p.p_brand AS brand,
           COUNT(*) AS n_small,
           {dsum_expr('l.l_extendedprice')} AS small_revenue
    FROM lineitem l
    JOIN pa ON l.l_partkey = pa.l_partkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_quantity < 0.5 * pa.avg_qty
    GROUP BY 1
    """,
    survey_ref="per-group scalar subquery decorrelated to agg + join-back (Q17 shape)",
)
def small_qty_revenue_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from lines whose quantity is under half the PART'S OWN
    average — the TPC-H Q17 correlated-scalar shape, grouped by brand.

    Spark-first form: the per-part average is a group aggregate joined
    back on the SAME key the aggregate shuffled on, so AQE reuses the
    exchange — the fact relation shuffles once, and the |parts|-row
    aggregate is the (small) probe side. ``part`` is SF-scaled (SF x
    200k rows), so it carries NO broadcast hint: AQE broadcasts it at
    fixture scale and switches to a key-partitioned join at 100 TB.
    The average accumulates exactly (identical expression in the
    oracle) so the `< 0.5*avg` boundary cannot flip under partial-agg
    reordering.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pa = li.groupBy("l_partkey").agg(
        (dsum("l_quantity") / F.count("*")).alias("avg_qty")
    )
    small = li.join(pa.withColumnRenamed("l_partkey", "pa_partkey"),
                    F.col("l_partkey") == F.col("pa_partkey")).filter(
        F.col("l_quantity") < 0.5 * F.col("avg_qty")
    )
    return (
        small.join(part, small["l_partkey"] == part["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").alias("n_small"),
            dsum("l_extendedprice").alias("small_revenue"),
        )
    )


@register(
    "important_revenue_nations",
    oracle=f"""
    WITH nr AS (
        SELECT n.n_name AS nation, {dsum_expr(REV)} AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1
    )
    SELECT nation, revenue
    FROM nr
    WHERE revenue > (
        SELECT CAST(SUM(CAST(revenue AS DECIMAL(27,6))) AS DOUBLE) / 20
        FROM nr
    )
    """,
    survey_ref="HAVING vs global scalar subquery via 1-row broadcast (Q11 shape)",
)
def important_revenue_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nations whose revenue exceeds 1/20 of GLOBAL revenue — the TPC-H
    Q11 group-vs-global-scalar shape.

    Spark-first form: the grouped relation is persisted once, the
    global threshold is a 1-row aggregate OF THAT RELATION crossJoin-
    broadcast back onto it — the star-join revenue scan runs once, not
    twice (the naive scalar-subquery plan re-executes the whole join
    tree for the threshold). Both aggregate levels accumulate
    exactly so the `>` boundary is stable.

    Hint policy: only fixed-size relations are hinted — nation (25
    rows) and the 1-row threshold aggregate. customer is SF-scaled so
    its join is left to AQE.
    """
    from ..operators.caching import tracked_persist

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    nr = tracked_persist(
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, F.col("o_custkey") == cust["c_custkey"])
        .join(F.broadcast(nation), F.col("c_nationkey") == nation["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum(REV).alias("revenue"))
    )
    threshold = nr.agg((dsum("revenue") / 20).alias("threshold"))
    return (
        nr.crossJoin(F.broadcast(threshold))
        .filter(F.col("revenue") > F.col("threshold"))
        .select("nation", "revenue")
    )


@register(
    "big_ticket_orders",
    oracle=f"""
    WITH big AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS total_qty
        FROM lineitem
        GROUP BY 1
        HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) > 200
    )
    SELECT c.c_name, o.o_orderkey, CAST(o.o_orderdate AS DATE) AS order_date,
           o.o_totalprice, b.total_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    survey_ref="HAVING-filtered aggregate joined back to dims (Q18 shape)",
)
def big_ticket_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total line quantity exceeds 200, enriched with the
    customer — the TPC-H Q18 large-volume-customer shape.

    Spark-first form: the HAVING aggregate reduces lineitem to the few
    qualifying orderkeys FIRST; that small relation then drives the
    joins (AQE broadcasts it against orders), so the wide dims never
    see the unqualified fact rows. Filter-early beats join-early by the
    selectivity of the HAVING (≈1% of orders here).
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 200)
    )
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(cust, F.col("o_custkey") == cust["c_custkey"])
        .select(
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_totalprice",
            "total_qty",
        )
    )


@register(
    "cheapest_supplier_per_part",
    oracle="""
    WITH unit AS (
        SELECT l_partkey, l_suppkey,
               MIN(l_extendedprice / l_quantity) AS unit_price
        FROM lineitem
        GROUP BY 1, 2
    ),
    best AS (
        SELECT l_partkey, MIN(unit_price) AS min_unit_price
        FROM unit GROUP BY 1
    )
    SELECT u.l_partkey AS partkey, u.l_suppkey AS suppkey,
           b.min_unit_price AS unit_price
    FROM unit u
    JOIN best b
      ON u.l_partkey = b.l_partkey AND u.unit_price = b.min_unit_price
    """,
    survey_ref="argmin-per-group via tie-preserving min join-back (Q2 shape)",
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every part, the supplier(s) with the lowest observed unit
    price — the TPC-H Q2 min-cost-supplier shape on the tables this
    corpus ships (no partsupp; lineitem is the price evidence).

    Spark-first form: aggregate to (part, supplier) unit prices, take
    the per-part MIN, and join back on (part, price) — the
    TIE-PRESERVING argmin (``min_by`` picks an arbitrary winner under
    ties, which flaps the hash). Both aggregates and the join-back
    shuffle on l_partkey, so the exchange is planned once and reused;
    MIN over doubles is order-independent, and the join-back compares
    the identical double expression on both sides — bit-stable.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    return cheapest_by_unit_price(li)


def cheapest_by_unit_price(li: DataFrame) -> DataFrame:
    """Tie-preserving argmin over (part → supplier unit price); see
    :func:`cheapest_supplier_per_part` for the plan rationale."""
    from ..operators.caching import tracked_persist

    unit = tracked_persist(
        li.groupBy("l_partkey", "l_suppkey").agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")
        )
    )
    best = unit.groupBy("l_partkey").agg(
        F.min("unit_price").alias("min_unit_price")
    )
    return (
        unit.join(
            best.withColumnRenamed("l_partkey", "b_partkey"),
            (F.col("l_partkey") == F.col("b_partkey"))
            & (F.col("unit_price") == F.col("min_unit_price")),
        )
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
            F.col("min_unit_price").alias("unit_price"),
        )
    )


@register(
    "customer_interarrival",
    oracle="""
    WITH g AS (
        SELECT o_custkey,
               date_diff('day',
                   lag(o_orderdate) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey),
                   o_orderdate) AS gap_days
        FROM orders
    )
    SELECT o_custkey AS custkey,
           COUNT(gap_days) AS n_gaps,
           CAST(SUM(gap_days) AS DOUBLE) / COUNT(gap_days) AS mean_gap_days
    FROM g
    WHERE gap_days IS NOT NULL
    GROUP BY 1
    """,
    survey_ref="LAG inter-event deltas + per-key aggregate (retention cadence)",
)
def customer_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean days between a customer's consecutive orders — the LAG
    window shape (inter-arrival analysis every behavioral pipeline
    needs; repeat-purchase cadence here).

    Spark-first form: one window shuffle on o_custkey (deterministic
    ORDER BY with the orderkey tie-break), then the per-customer
    aggregate REUSES that partitioning — no second exchange. Gap sums
    are exact integers; the mean is a single double division.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = orders.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    return g.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count("gap_days").alias("n_gaps"),
        (
            F.sum("gap_days").cast("double") / F.count("gap_days")
        ).alias("mean_gap_days"),
    )


_Q19_ARMS = [
    ("Brand#11", 1, 15, 1, 20),
    ("Brand#22", 10, 30, 10, 35),
    ("Brand#33", 20, 50, 20, 50),
]


def _q19_pred_sql() -> str:
    arms = [
        f"(p.p_brand = '{b}' AND p.p_size BETWEEN {s0} AND {s1}"
        f" AND l.l_quantity BETWEEN {q0} AND {q1})"
        for b, s0, s1, q0, q1 in _Q19_ARMS
    ]
    return " OR ".join(arms)


@register(
    "disjunctive_promo_revenue",
    oracle=f"""
    SELECT p.p_brand AS brand,
           COUNT(*) AS n_lines,
           {dsum_expr(REV)} AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE {_q19_pred_sql()}
    GROUP BY 1
    """,
    survey_ref="disjunctive OR-of-ANDs predicate across a join (Q19 shape)",
)
def disjunctive_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue under an OR of per-brand (size, quantity) windows — the
    TPC-H Q19 disjunctive-predicate shape, the classic optimizer trap:
    naive engines evaluate the whole OR after the join; the right plan
    pushes each side's COMMON factor down to its scan (every arm
    constrains p_brand + p_size → part filters before broadcasting;
    every arm bounds l_quantity → the fact scan keeps only
    1 ≤ qty ≤ 50) and leaves only the cross-side correlation for the
    join filter. Expressing the predicate ON the joined relation lets
    Catalyst do exactly that (CNF conversion + pushdown — the
    brand/size IN-bounds reach PushedFilters).

    Scale shape: part shrinks to the 3 brands at its SCAN (the pushed
    brand/size bounds), so the join's build side is tiny by filtering,
    not by fiat — no broadcast hint is forced (part is SF-scaled; AQE
    sees the post-filter size at runtime and broadcasts the shrunken
    side). The residual OR is a codegen'd row predicate — no Expand,
    no union-of-three-joins (which would scan lineitem three times).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    arm_preds = [
        (F.col("p_brand") == b)
        & F.col("p_size").between(s0, s1)
        & F.col("l_quantity").between(q0, q1)
        for b, s0, s1, q0, q1 in _Q19_ARMS
    ]
    pred = arm_preds[0]
    for p in arm_preds[1:]:
        pred = pred | p
    joined = li.join(
        part, li["l_partkey"] == part["p_partkey"]
    ).filter(pred)
    return joined.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count("*").alias("n_lines"),
        dsum(REV).alias("revenue"),
    )


@register(
    "local_supplier_revenue",
    oracle=f"""
    SELECT n.n_name AS nation,
           COUNT(*) AS n_lines,
           {dsum_expr(REV)} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_nationkey = s.s_nationkey
    GROUP BY 1
    """,
    survey_ref="multi-dim join with cross-dimension correlation predicate (Q5 shape)",
)
def local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from orders fulfilled by a supplier in the CUSTOMER'S OWN
    nation — the TPC-H Q5 local-supplier shape. Its distinguishing
    feature is the correlation predicate between two DIMENSIONS
    (``c_nationkey = s_nationkey``): neither dim alone can be filtered;
    the predicate only becomes evaluable after the fact row connects
    them.

    Spark-first form: the fact joins each dim on its own key (no
    dim⋈dim product is ever formed), and the cross-dimension equality
    rides as a post-join residual filter on the already-joined row —
    then one shuffle for the per-nation aggregate. customer and
    supplier are SF-scaled, so they carry NO broadcast hint: at
    fixture scale AQE broadcasts both; at 100 TB those joins become
    key-partitioned and the plan degrades gracefully instead of
    OOMing the driver. Only nation (25 rows, fixed) keeps its hint.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, F.col("o_custkey") == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == nation["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("n_lines"), dsum(REV).alias("revenue"))
    )
