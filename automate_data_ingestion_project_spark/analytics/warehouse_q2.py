"""Second wave of classic warehouse join-tree shapes (Q3/Q7/Q8/Q10/Q22
analogs over the fixture's schema subset).

These five cover the plan shapes the first warehouse families don't:
aggregate-then-global-top-k (Q3/Q10 — `TakeOrderedAndProject`, never a
full sort), a disjunctive predicate across TWO ALIASED SCANS of the
same dimension (Q7 — both directions of a region pair), a conditional
market-share ratio at the top of an 8-relation join tree (Q8), and
NOT-EXISTS with a global scalar threshold (Q22 — anti-join + 1-row
broadcast).

Hint policy (the round-6 rule, plan-tested in tests/test_plans.py):
only fixed-size-by-construction relations carry broadcast hints —
nation (25 rows), region (5 rows), 1-row scalar aggregates. customer /
supplier / part scale with the data and are LEFT TO AQE, which
broadcasts them at fixture scale and switches to key-partitioned joins
when they outgrow the threshold.

Float discipline: all revenue/balance sums accumulate exactly
(:func:`..functions.dsum`) — mandatory here because Q3/Q10 ORDER BY the
aggregate and LIMIT, so a low-bit flap would change WHICH rows survive,
not just their values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dsum, dsum_expr
from ..io import load_table
from .registry import register

REV = "l.l_extendedprice * (1 - l.l_discount)"
LI_REV = "l_extendedprice * (1 - l_discount)"  # unqualified, for `dsum`


@register(
    "shipping_priority_topk",
    oracle=f"""
    SELECT l.l_orderkey AS orderkey,
           {dsum_expr(REV)} AS revenue,
           CAST(o.o_orderdate AS DATE) AS order_date,
           o.o_orderpriority AS priority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY 1, 3, 4
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
    survey_ref="aggregate-then-top-k with tie-stable LIMIT (Q3 shape)",
)
def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ten highest-revenue unshipped BUILDING-segment orders — the
    TPC-H Q3 shape: filter three relations, aggregate revenue per
    order, take a global top-k.

    Scale shape: both date predicates and the segment equality reach
    their parquet scans (PushedFilters); the aggregate groups on
    l_orderkey — the SAME key the orders⋈lineitem join shuffled on, so
    AQE reuses the exchange. The top-10 is orderBy+limit, which Spark
    executes as TakeOrderedAndProject (per-partition heaps + one k-row
    merge), never a full sort of the aggregate. LIMIT makes membership
    order-sensitive, so ties break on (revenue DESC, orderkey) and
    revenue accumulates exactly — bit-stable membership.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < "1998-01-01")
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > "1998-01-01")
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.col("o_orderdate").cast("date").alias("order_date"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(dsum(LI_REV).alias("revenue"))
        .select("orderkey", "revenue", "order_date", "priority")
        .orderBy(F.col("revenue").desc(), "orderkey")
        .limit(10)
    )


@register(
    "volume_shipping_pairs",
    oracle=f"""
    SELECT supp_region, cust_region, l_year, COUNT(*) AS n_lines,
           {dsum_expr('rev')} AS revenue
    FROM (
        SELECT r1.r_name AS supp_region, r2.r_name AS cust_region,
               CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
               {REV} AS rev
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
        JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        WHERE (r1.r_name = 'ASIA' AND r2.r_name = 'EUROPE')
           OR (r1.r_name = 'EUROPE' AND r2.r_name = 'ASIA')
    )
    GROUP BY 1, 2, 3
    """,
    survey_ref="cross-sourced dim pair with both-directions disjunction (Q7 shape)",
)
def volume_shipping_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trade volume between two regions, BOTH directions, per ship year
    — the TPC-H Q7 shape. Its optimizer signature: the same dimension
    (nation→region) joins the fact TWICE under different roles
    (supplier side, customer side), and the filter is a disjunction
    ACROSS the two aliases, only evaluable once the fact row connects
    them.

    Spark-first form: each alias chain (nation⋈region, 125 rows,
    fixed by construction) pre-joins and broadcasts; the per-side union
    of admissible regions ({{ASIA, EUROPE}} on each side) IS pushable,
    so each alias is pre-filtered to the union before broadcasting and
    the residual disjunction (the cross-side correlation) evaluates
    post-join — the Q19/Q5 treatment applied to aliased dims. supplier
    and customer are SF-scaled: no hints, AQE decides.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    nr = nation.join(
        F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"]
    ).select("n_nationkey", "r_name")
    both = ["ASIA", "EUROPE"]
    supp_dim = nr.filter(F.col("r_name").isin(both)).select(
        F.col("n_nationkey").alias("s_nk"), F.col("r_name").alias("supp_region")
    )
    cust_dim = nr.filter(F.col("r_name").isin(both)).select(
        F.col("n_nationkey").alias("c_nk"), F.col("r_name").alias("cust_region")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_dim), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(cust_dim), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            (
                (F.col("supp_region") == "ASIA")
                & (F.col("cust_region") == "EUROPE")
            )
            | (
                (F.col("supp_region") == "EUROPE")
                & (F.col("cust_region") == "ASIA")
            )
        )
        .groupBy(
            "supp_region",
            "cust_region",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.count("*").alias("n_lines"), dsum(LI_REV).alias("revenue"))
    )


@register(
    "nation_market_share",
    oracle=f"""
    SELECT o_year,
           {dsum_expr("CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE 0 END")}
               AS nation_revenue,
           {dsum_expr('rev')} AS total_revenue,
           {dsum_expr("CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE 0 END")}
               / {dsum_expr('rev')} AS mkt_share
    FROM (
        SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
               {REV} AS rev,
               n2.n_name AS supp_nation
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        JOIN region r ON n1.n_regionkey = r.r_regionkey
        JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    )
    GROUP BY 1
    """,
    survey_ref="market-share ratio atop an 8-relation join tree (Q8 shape)",
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_3's share of PROMO-part revenue sold into ASIA, per order
    year — the TPC-H Q8 shape: the deepest join tree in the suite
    (fact + 7 dimension hops, the same dimension twice in different
    roles) with a conditional-aggregate ratio on top.

    Scale shape: numerator and denominator come out of ONE aggregate
    pass (CASE inside the sum — the Q14 treatment). The customer-side
    chain pre-reduces to the ASIA nation set (≤25 keys) and the
    supplier-side to (nationkey → name), both fixed-size, both
    broadcast. part is SF-scaled: its PROMO filter is pushed to the
    scan and AQE sees the post-filter size — no hint. The fact
    shuffles once, for the per-year aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    asia_nations = (
        nation.join(
            F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"]
        )
        .filter(F.col("r_name") == "ASIA")
        .select(F.col("n_nationkey").alias("cust_nk"))
    )
    supp_nation = nation.select(
        F.col("n_nationkey").alias("supp_nk"), F.col("n_name").alias("supp_nation")
    )
    agg = (
        li.join(part.filter(F.col("p_type") == "PROMO"),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(asia_nations), F.col("c_nationkey") == F.col("cust_nk"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("supp_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            dsum(
                f"CASE WHEN supp_nation = 'NATION_3' THEN {LI_REV} ELSE 0D END"
            ).alias("nation_revenue"),
            dsum(LI_REV).alias("total_revenue"),
        )
    )
    return agg.select(
        "o_year",
        "nation_revenue",
        "total_revenue",
        (F.col("nation_revenue") / F.col("total_revenue")).alias("mkt_share"),
    )


@register(
    "returned_item_losses",
    oracle=f"""
    SELECT c.c_custkey AS custkey, c.c_name AS name, n.n_name AS nation,
           c.c_acctbal AS acctbal, {dsum_expr(REV)} AS lost_revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate < DATE '1996-07-01'
    GROUP BY 1, 2, 3, 4
    ORDER BY lost_revenue DESC, custkey
    LIMIT 20
    """,
    survey_ref="returned-item ranking: agg + global top-k over a window of time (Q10 shape)",
)
def returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Twenty customers with the most revenue in RETURNED items over a
    half-year window — the TPC-H Q10 shape (Q3's top-k discipline, but
    grouped on the customer entity with its descriptive columns).

    Scale shape: the returnflag and date predicates push to their
    scans; grouping carries the customer's descriptive columns in the
    KEY (they are functionally dependent on custkey, so group
    cardinality is unchanged and no second join is needed to re-attach
    them). nation broadcasts; customer is SF-scaled — no hint. Top-20
    via TakeOrderedAndProject with bit-stable (revenue, custkey)
    ordering.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1996-07-01")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("n_name").alias("nation"),
            F.col("c_acctbal").alias("acctbal"),
        )
        .agg(dsum(LI_REV).alias("lost_revenue"))
        .orderBy(F.col("lost_revenue").desc(), "custkey")
        .limit(20)
    )


@register(
    "lapsed_customer_balance",
    oracle="""
    WITH avg_bal AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(27,6))) AS DOUBLE)
                   / COUNT(*) AS threshold
        FROM customer WHERE c_acctbal > 0
    )
    SELECT n.n_name AS nation,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(27,6))) AS DOUBLE)
               AS total_balance
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_acctbal > (SELECT threshold FROM avg_bal)
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= DATE '1999-01-01'
      )
    GROUP BY 1
    """,
    survey_ref="NOT EXISTS + global scalar threshold via anti-join (Q22 shape)",
)
def lapsed_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-balance customers with NO orders since 1999, counted per
    nation — the TPC-H Q22 shape re-anchored to the fixture schema
    (no phone country codes; lapsed-since-cutoff replaces never-ordered
    because every fixture customer has at least one order): a global
    scalar threshold (average positive balance) AND a correlated
    NOT EXISTS, decorrelated to a broadcast 1-row aggregate plus a
    LEFT ANTI join.

    Scale shape: the threshold is a 1-row aggregate of the customer
    scan crossJoin-broadcast back (the Q11 treatment); the NOT EXISTS
    is one anti-join against the date-pruned orders scan — never a
    per-customer probe. The threshold comparison accumulates
    exactly so membership can't flap at the boundary.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    threshold = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg((dsum("c_acctbal") / F.count("*")).alias("threshold"))
    )
    recent = orders.filter(F.col("o_orderdate") >= "1999-01-01").select(
        "o_custkey"
    )
    return (
        cust.crossJoin(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("threshold"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_customers"),
            dsum("c_acctbal").alias("total_balance"),
        )
    )


@register(
    "discount_revenue_delta",
    oracle=f"""
    SELECT COUNT(*) AS n_lines,
           {dsum_expr('l.l_extendedprice * l.l_discount')} AS forgone_revenue
    FROM lineitem l
    WHERE l.l_shipdate >= DATE '1996-01-01'
      AND l.l_shipdate < DATE '1997-01-01'
      AND l.l_discount BETWEEN 0.05 AND 0.07
      AND l.l_quantity < 24
    """,
    survey_ref="fully-pushed filter + single global sum (Q6 shape)",
)
def discount_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue that would be recovered by eliminating a discount band —
    the TPC-H Q6 what-if: no join, no group; its entire point is that
    EVERY predicate (date range, discount band, quantity cap) must
    reach the parquet scan, leaving a scan→filter→one-row partial sum
    plan. At 100 TB with date-partitioned lineitem this prunes to one
    year's partitions and reads three columns.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count("*").alias("n_lines"),
            dsum("l_extendedprice * l_discount").alias("forgone_revenue"),
        )
    )


@register(
    "part_supplier_variety",
    oracle="""
    SELECT p.p_brand AS brand, p.p_type AS type, p.p_size AS size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7'
    )
    GROUP BY 1, 2, 3
    """,
    survey_ref="distinct-agg behind NOT IN decorrelated to an anti-join (Q16 shape)",
)
def part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many DISTINCT (non-excluded) suppliers stock each (brand,
    type, size) — the TPC-H Q16 shape: a COUNT(DISTINCT) per group fed
    through a NOT IN exclusion list.

    Spark-first form: NOT IN is expressed as an explicit LEFT ANTI join
    against the exclusion keys, NOT a null-aware NOT IN subquery — the
    semantics are identical here because the exclusion key is a
    non-null PK, and the null-aware form would force Catalyst into a
    NULL-checking BroadcastNestedLoop-style plan for a guarantee the
    schema already provides (the classic NOT IN trap). The exclusion
    set is a filtered scan of supplier — SF-scaled, so NO broadcast
    hint; AQE sees the post-filter size. The distinct-agg shuffles on
    the (brand, type, size, suppkey) expanded key, then collapses —
    Spark's standard two-phase distinct, partial-aggregated map-side.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_type", "p_size"
    )
    excl = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_name").like("%7"))
        .select("s_suppkey")
    )
    return (
        li.join(excl, li["l_suppkey"] == excl["s_suppkey"], "left_anti")
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").alias("size"),
        )
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "top_supplier_revenue",
    oracle=f"""
    WITH sr AS (
        SELECT l.l_suppkey AS suppkey, {dsum_expr(REV)} AS total_revenue
        FROM lineitem l
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l.l_shipdate <  TIMESTAMP '1997-04-01'
        GROUP BY 1
    )
    SELECT s.s_suppkey AS suppkey, s.s_name AS supplier, sr.total_revenue
    FROM supplier s
    JOIN sr ON s.s_suppkey = sr.suppkey
    WHERE sr.total_revenue = (SELECT MAX(total_revenue) FROM sr)
    ORDER BY suppkey
    """,
    survey_ref="argmax vs global scalar MAX subquery (Q15 shape)",
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with the maximum quarterly revenue — the TPC-H Q15
    shape: an aggregate view compared against its own global MAX,
    ties kept (the spec's CREATE VIEW + scalar subquery).

    Spark-first form: the per-supplier revenue relation is persisted
    once; the global max is a 1-row aggregate OF THAT RELATION
    crossJoin-broadcast back onto it — the lineitem scan and the
    supplier-key shuffle run once, not twice (a naive scalar subquery
    re-executes the revenue aggregation for the threshold). Equality
    against the max is exact because both sides accumulate the SAME
    exact sums (:func:`..functions.dsum`) — a double accumulation
    here could drop the true argmax on a low-bit flap.

    Scale shape: the quarter predicate reaches the lineitem scan
    (PushedFilters); the aggregate shuffles on l_suppkey only. The
    supplier join carries NO hint — supplier is SF-scaled (10k x SF),
    so AQE broadcasts at fixture scale and repartitions beyond the
    threshold. Ties ORDER BY suppkey for a stable relation.
    """
    from ..operators.caching import tracked_persist

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate"
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    sr = tracked_persist(
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1997-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(dsum(LI_REV).alias("total_revenue"))
    )
    best = sr.agg(F.max("total_revenue").alias("best_revenue"))
    return (
        sr.crossJoin(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("best_revenue"))
        .join(supp, F.col("suppkey") == supp["s_suppkey"])
        .select("suppkey", F.col("s_name").alias("supplier"), "total_revenue")
        .orderBy("suppkey")
    )
