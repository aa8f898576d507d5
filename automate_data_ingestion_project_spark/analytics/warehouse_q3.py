"""Third wave of classic warehouse join-tree shapes (Q9/Q12/Q20/Q21
analogs over the fixture's schema subset) — with these, every one of
the 22 canonical TPC-H plan shapes has a registered, oracle-checked
counterpart (see the Q-shape survey_refs across ``warehouse*.py``).

The fixture set carries no ``partsupp`` and no ship-mode/commit/receipt
columns, so two shapes are adapted faithfully rather than ported
verbatim (each docstring states the substitution): Q9's profit drops
the supplycost term (no partsupp), and Q12/Q21's lateness predicate is
``l_shipdate > o_orderdate + 60 days`` (no receipt/commit dates). The
PLAN shapes — the thing these queries exist to cover — are unchanged:
Q9's multi-dimension join tree under a derived-column rollup, Q12's
conditional two-way counts over a late-line join, Q20's nested
semi-join chain with a correlated aggregate threshold, and Q21's
double correlated EXISTS/NOT-EXISTS over self-joined lineitem.

Decorrelation discipline (the point the oracle checks): the DuckDB
oracles keep the TEXTBOOK correlated forms (nested IN, EXISTS + NOT
EXISTS); the Spark side runs the decorrelated plans a distributed
engine wants (aggregate + semi-join chains; per-order supplier-
cardinality aggregates instead of per-row subquery probes). A value
hash match proves the rewrite, not just the arithmetic.

Hint policy and float discipline follow ``warehouse_q2.py``: only
fixed-size-by-construction relations get broadcast hints (nation; the
rest is AQE's call), and every revenue/threshold sum accumulates
exactly (:func:`..functions.dsum`) because Q20's threshold decides
MEMBERSHIP — a low-bit flap would change which suppliers qualify.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import dsum, dsum_expr
from ..io import load_table
from .registry import register

REV = "l.l_extendedprice * (1 - l.l_discount)"
_LATE = "l_shipdate > o_orderdate + INTERVAL 60 DAY"  # duckdb form


def _late_col() -> F.Column:
    return F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS"
    )


@register(
    "nation_profit_by_year",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           {dsum_expr(REV)} AS profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
    survey_ref="product-line profit rollup over a 5-relation join tree (Q9 shape)",
)
def nation_profit_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation, per-year profit on widget-family parts — the TPC-H
    Q9 shape: a fact table joined to THREE dimension arms (part filter,
    supplier→nation rollup, orders for the derived year) under one
    aggregation. Adapted: the fixture set has no ``partsupp``, so
    profit omits the supplycost term (stated, not silent) — the
    5-relation join tree and derived-column rollup are the shape under
    test.

    Scale shape: the part name filter reaches the part scan and the
    join prunes the fact side to matching parts FIRST (the selective
    arm leads); nation broadcasts by hint (25 rows by construction),
    part/supplier are AQE's call; profit accumulates exactly. The
    grouping key (nation, year) is tiny, so the final aggregate is one
    narrow exchange over partial aggregates."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    return (
        li.join(
            part.filter(F.col("p_name").like("%widget%")),
            li.l_partkey == part.p_partkey,
        )
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(dsum("l_extendedprice * (1 - l_discount)").alias("profit"))
    )


@register(
    "late_lines_by_priority_class",
    oracle=f"""
    SELECT l.l_returnflag AS returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.{_LATE.replace('o_orderdate', 'o.o_orderdate')}
      AND o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate < DATE '1998-01-01'
    GROUP BY 1
    """,
    survey_ref="conditional two-way counts over a late-shipment join (Q12 shape)",
)
def late_lines_by_priority_class(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """High- vs low-priority line counts among LATE shipments per
    return flag — the TPC-H Q12 shape: one fact⋈orders join under two
    complementary conditional counts. Adapted: the fixture has no ship
    mode or receipt/commit dates, so the grouping column is
    ``l_returnflag`` and lateness is shipdate > orderdate + 60 days
    (stated); the conditional-aggregation plan shape is unchanged.

    Scale shape: the two-year date window reaches the orders scan
    (PushedFilters); the lateness predicate is evaluated at the join
    (it spans both sides, so it cannot push further — exactly Q12's
    receipt-vs-commit comparison); both counts come out of ONE
    aggregation pass, never two scans."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            _late_col()
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
        )
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@register(
    "promotable_part_suppliers",
    # textbook nested-IN form in the oracle; the Spark side runs the
    # decorrelated aggregate + semi-join chain
    oracle=f"""
    SELECT s.s_suppkey AS suppkey, s.s_name AS supp_name,
           CAST((
               SELECT COUNT(*) FROM (
                   SELECT l_partkey FROM lineitem li
                   WHERE li.l_suppkey = s.s_suppkey
                     AND li.l_partkey IN (
                         SELECT p_partkey FROM part
                         WHERE p_name LIKE '%widget%')
                     AND li.l_shipdate >= DATE '1997-01-01'
                     AND li.l_shipdate < DATE '1998-01-01'
                   GROUP BY 1
                   HAVING SUM(CAST(li.l_quantity AS DECIMAL(38, 10))) > 50
               )
           ) AS BIGINT) AS n_heavy_parts
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT l_suppkey FROM lineitem li
        WHERE li.l_partkey IN (
            SELECT p_partkey FROM part WHERE p_name LIKE '%widget%')
          AND li.l_shipdate >= DATE '1997-01-01'
          AND li.l_shipdate < DATE '1998-01-01'
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(CAST(li.l_quantity AS DECIMAL(38, 10))) > 50
    )
    """,
    survey_ref="nested semi-join chain with a correlated aggregate threshold (Q20 shape)",
)
def promotable_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who moved heavy volume (>50 units shipped in 1997) of
    some widget-family part, with the count of such parts each — the
    TPC-H Q20 shape: a supplier semi-join on a nested subquery whose
    inner HAVING is a correlated aggregate threshold. Adapted: no
    ``partsupp``, so the threshold is over SHIPPED quantity from
    lineitem instead of available stock (stated); the nested-semi-join
    plan shape is unchanged.

    Decorrelation (what the hash match proves): the oracle keeps the
    textbook correlated nested-IN form; here the inner subquery becomes
    ONE aggregate over (suppkey, partkey) with the part-name semi-join
    applied before it (the selective arm first), and both the supplier
    membership and the per-supplier part count come from that single
    aggregate — no per-row subquery probes, no second scan. The
    threshold sum accumulates exactly because it decides MEMBERSHIP.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_shipdate"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    widget_parts = part.filter(F.col("p_name").like("%widget%")).select(
        F.col("p_partkey").alias("l_partkey")
    )
    heavy = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
        )
        .join(widget_parts, "l_partkey", "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(dsum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
    )
    per_supp = heavy.groupBy("l_suppkey").agg(
        F.count("*").alias("n_heavy_parts")
    )
    return supp.join(
        per_supp, supp.s_suppkey == per_supp.l_suppkey
    ).select(
        F.col("s_suppkey").alias("suppkey"),
        F.col("s_name").alias("supp_name"),
        "n_heavy_parts",
    )


@register(
    "waiting_suppliers",
    # textbook EXISTS + NOT EXISTS form in the oracle; the Spark side
    # runs per-order supplier-cardinality aggregates
    oracle=f"""
    SELECT s.s_name AS supp_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
    GROUP BY 1
    """,
    survey_ref="double correlated EXISTS/NOT-EXISTS over self-joined facts (Q21 shape)",
)
def waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who were the SOLE late shipper on multi-supplier
    finished orders, with their late-line counts — the TPC-H Q21
    shape: two correlated subqueries over the fact table itself (an
    EXISTS requiring another supplier on the order, a NOT EXISTS
    forbidding another LATE supplier). Lateness is shipdate >
    orderdate + 60 days (no receipt/commit dates in the fixture —
    stated).

    Decorrelation (what the hash match proves): instead of per-row
    subquery probes, ONE pass computes per-order supplier cardinality
    and per-order LATE-supplier cardinality; an l1 line qualifies iff
    its order has ≥2 suppliers and exactly 1 late supplier (which must
    be l1's own, since l1 is late). The oracle keeps the textbook
    double-correlated form — DuckDB evaluates the subqueries, Spark
    computes both cardinalities as window ``collect_set`` sizes over
    the one ``l_orderkey`` exchange, and the value hash pins them
    equal.

    r17 restructure (same result, pinned by the unchanged oracle):
    (a) orders pre-filtered to ``o_orderstatus = 'F'`` BEFORE the join
    — every subquery correlates on ``l_orderkey`` of an l1 whose order
    is F, so non-F orders can contribute nothing, and the join/agg
    input halves; (b) the two per-order ``countDistinct``s (an Expand
    doubling every row into the aggregation) and the SortMergeJoin
    join-back are replaced by two window ``collect_set`` sizes over
    the same ``l_orderkey`` partitioning — one exchange, one pass, no
    persist (the old form cached the join to feed aggregate + join-back
    branches); set sizes are bounded by suppliers-per-order, a join-key
    group that fits any executor at any scale."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderstatus"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    orders_f = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    with_ord = li.join(orders_f, li.l_orderkey == orders_f.o_orderkey).select(
        "l_orderkey", "l_suppkey", _late_col().alias("is_late")
    )
    w = Window.partitionBy("l_orderkey")
    stats = with_ord.select(
        "l_orderkey",
        "l_suppkey",
        "is_late",
        F.size(F.collect_set("l_suppkey").over(w)).alias("n_supp"),
        # collect_set drops NULLs, so the late-only set mirrors
        # countDistinct(when(is_late, suppkey)) exactly
        F.size(
            F.collect_set(
                F.when(F.col("is_late"), F.col("l_suppkey"))
            ).over(w)
        ).alias("n_late_supp"),
    )
    qualifying = stats.filter(
        F.col("is_late") & (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
    )
    return (
        qualifying.join(supp, qualifying.l_suppkey == supp.s_suppkey)
        .groupBy(F.col("s_name").alias("supp_name"))
        .agg(F.count("*").alias("numwait"))
    )
