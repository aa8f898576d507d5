"""Extended warehouse SQL surface — shapes the reference lacks
(SURVEY.md §2.13 verified-absent list) that a complete engine ships:
ROLLUP hierarchies, set operations, exact interpolated percentiles.

All pure Spark SQL/DataFrame builtins; each oracle-checked."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dsum, dsum_expr
from ..io import load_table
from .registry import register


@register(
    "sales_rollup",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           o_orderpriority AS priority,
           COUNT(*) AS n_orders,
           {dsum_expr('o_totalprice')} AS sales
    FROM orders
    GROUP BY ROLLUP (CAST(year(o_orderdate) AS INTEGER), o_orderpriority)
    """,
    survey_ref="rollup hierarchy (engine extension; absent in reference §2.13)",
)
def sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year → priority → grand-total hierarchy in ONE pass (Expand +
    single shuffle — not one job per level)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").alias("order_year"),
            F.col("o_orderpriority").alias("priority"),
            "o_totalprice",
        )
        .rollup("order_year", "priority")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("sales"))
    )


@register(
    "repeat_customers_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
    """,
    survey_ref="INTERSECT (engine extension; absent in reference §2.13)",
)
def repeat_customers_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    high = orders.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    return urgent.intersect(high)


@register(
    "nation_only_keys_except",
    oracle="""
    SELECT n_nationkey AS k FROM nation
    EXCEPT
    SELECT r_regionkey AS k FROM region
    """,
    survey_ref="EXCEPT (engine extension; absent in reference §2.13)",
)
def nation_only_keys_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference over the dimension key spaces (25 nation keys minus
    the 5 overlapping region keys — non-empty at every scale factor)."""
    nations = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k")
    )
    regions = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("k")
    )
    return nations.subtract(regions)  # EXCEPT DISTINCT (set semantics)


@register(
    "price_quantiles",
    oracle="""
    SELECT o_orderpriority AS priority,
           quantile_cont(o_totalprice, 0.25) AS q25,
           quantile_cont(o_totalprice, 0.5) AS median,
           quantile_cont(o_totalprice, 0.75) AS q75
    FROM orders
    GROUP BY o_orderpriority
    """,
    survey_ref="A8 (exact interpolated quantiles — the *_q25/median/q75 columns "
    "the reference's API precomputes, config.yaml:44-61)",
)
def price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles (sort-based) — the oracle requires exactness;
    at 100 TB swap in percentile_approx and accept the documented error
    bound."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.expr("percentile(o_totalprice, 0.25)").alias("q25"),
        F.expr("percentile(o_totalprice, 0.5)").alias("median"),
        F.expr("percentile(o_totalprice, 0.75)").alias("q75"),
    )


@register(
    "orders_rolling_revenue",
    oracle=f"""
    WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               COUNT(*) AS n_orders,
               SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS rev
        FROM orders GROUP BY 1
    )
    SELECT month, n_orders,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(SUM(rev) OVER (
               ORDER BY month ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS revenue_3m
    FROM monthly
    """,
    survey_ref="window frames: trailing 3-month revenue (engine extension)",
)
def orders_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 3-month revenue via a ROWS-frame window.

    Scale shape: the window runs over the POST-AGGREGATION monthly
    relation, whose row count is bounded by the calendar (|months|),
    not the data — a global ordered window there is O(100) rows at any
    corpus size. The frame sums DECIMAL-accumulated values (the `dsum`
    discipline) so the sliding-frame incremental add/remove the
    window executor performs stays exact — a double frame-sum would be
    order-sensitive and flap the oracle hash.
    """
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(27,6)")).alias("rev"),
        )
    )
    # bounded unpartitioned window: post-aggregation months only
    frame = Window.orderBy("month").rowsBetween(-2, Window.currentRow)
    return monthly.select(
        "month",
        "n_orders",
        F.col("rev").cast("double").alias("revenue"),
        F.sum("rev").over(frame).cast("double").alias("revenue_3m"),
    )


@register(
    "orders_trailing_30d_revenue",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
                   AS revenue
        FROM orders GROUP BY 1
    )
    SELECT day, n_orders, revenue,
           CAST(SUM(CAST(revenue AS DECIMAL(27,6))) OVER (
               ORDER BY CAST(day AS TIMESTAMP)
               RANGE BETWEEN INTERVAL 29 DAYS PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS revenue_30d
    FROM daily
    """,
    survey_ref="window frames: VALUE-based RANGE interval frame (engine extension)",
)
def orders_trailing_30d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 30-DAY revenue per active day — the VALUE-based RANGE
    frame (``RANGE BETWEEN INTERVAL 29 DAYS PRECEDING``), the window
    feature the ROWS form cannot express: the frame's width is defined
    in event time, so days missing from the data shrink the row-count
    of the frame instead of silently stretching its time span (a
    ROWS-30 frame over sparse days would cover months).

    Scale shape: same as :func:`orders_rolling_revenue` — the window
    runs over the POST-AGGREGATION daily relation, calendar-bounded at
    any corpus size; the frame sum accumulates in DECIMAL so RANGE
    re-evaluation order cannot flap the hash. Expressed in Spark SQL
    because interval RANGE bounds have no DataFrame-API equivalent
    (``rangeBetween`` takes longs) — the declarative form is identical
    in both engines by construction.
    """
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_ord_trailing")
    return spark.sql(
        """
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   COUNT(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
                       AS revenue
            FROM _ord_trailing GROUP BY 1
        )
        SELECT day, n_orders, revenue,
               CAST(SUM(CAST(revenue AS DECIMAL(27,6))) OVER (
                   ORDER BY CAST(day AS TIMESTAMP)
                   RANGE BETWEEN INTERVAL 29 DAYS PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS revenue_30d
        FROM daily
        """
    )


@register(
    "orders_monthly_gapfill",
    oracle=f"""
    WITH bounds AS (
        SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS lo,
               CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS hi
        FROM orders
    ),
    spine AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS DATE)
                   AS month
        FROM bounds
    ),
    monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               COUNT(*) AS n_orders,
               {dsum_expr('o_totalprice')} AS revenue
        FROM orders GROUP BY 1
    )
    SELECT s.month,
           COALESCE(m.n_orders, 0) AS n_orders,
           COALESCE(m.revenue, 0.0) AS revenue
    FROM spine s LEFT JOIN monthly m ON s.month = m.month
    """,
    survey_ref="calendar-spine gap fill: zero-activity months materialize",
)
def orders_monthly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense monthly series: a generated calendar spine LEFT JOINs the
    aggregate so months with no orders appear with zeros — aggregation
    alone silently drops them and downstream window/rolling math then
    skips calendar time.

    Scale shape: the spine is `sequence()` over the min/max month — a
    calendar-bounded relation built from one 1-row aggregate, broadcast
    to the join; the monthly aggregate is the only data-sized shuffle.
    """
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.date_trunc("month", F.min("o_orderdate")).cast("date").alias("lo"),
        F.date_trunc("month", F.max("o_orderdate")).cast("date").alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.expr("sequence(lo, hi, interval 1 month)")
        ).alias("month")
    )
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(
        F.count("*").alias("n_orders"), dsum("o_totalprice").alias("revenue")
    )
    return spine.join(monthly, "month", "left").select(
        "month",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
    )


@register(
    "nation_revenue_share",
    oracle=f"""
    WITH rev AS (
        SELECT n.n_name AS nation, {dsum_expr('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1
    ),
    tot AS (SELECT {dsum_expr('revenue')} AS total FROM rev)
    SELECT nation, revenue,
           revenue / total AS revenue_share
    FROM rev, tot
    """,
    survey_ref="percent-of-total report: scalar broadcast, no global window",
)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each nation's share of total revenue. The naive form is
    ``revenue / SUM(revenue) OVER ()`` — an empty-frame global window
    that drags every row to one task; here the total is ONE scalar
    aggregate broadcast back over the (already tiny) per-nation
    aggregate. Both sides divide the identical exactly-accumulated
    doubles, so shares are bit-stable.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(nation, cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            dsum("l_extendedprice * (1 - l_discount)").alias("revenue")
        )
    )
    tot = rev.agg(dsum("revenue").alias("total"))
    return rev.crossJoin(F.broadcast(tot)).select(
        "nation",
        "revenue",
        (F.col("revenue") / F.col("total")).alias("revenue_share"),
    )


@register(
    "customer_order_histogram",
    oracle="""
    WITH per_cust AS (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY 1
    )
    SELECT n_orders, COUNT(*) AS n_customers
    FROM per_cust
    GROUP BY 1
    """,
    survey_ref="distribution report: counts-of-counts double aggregation (Q13 shape)",
)
def customer_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many customers placed how many orders — the TPC-H Q13
    counts-of-counts shape. The LEFT join keeps zero-order customers
    (COUNT over the right key yields 0 for them), which an inner join
    silently drops — the classic distribution-report bug.

    Scale shape: the first aggregate shuffles on c_custkey (the join
    key, so AQE reuses the exchange); the second aggregates the
    |customers|-row intermediate down to |distinct counts| rows — tiny.
    No window, no skew: order counts per customer are bounded.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count("*").alias("n_customers")
    )


@register(
    "promo_revenue_share",
    oracle=f"""
    SELECT CAST(year(l.l_shipdate) AS INTEGER) AS ship_year,
           {dsum_expr("CASE WHEN p.p_type LIKE 'PROMO%' "
                      "THEN l.l_extendedprice * (1 - l.l_discount) "
                      "ELSE 0 END")} AS promo_revenue,
           {dsum_expr('l.l_extendedprice * (1 - l.l_discount)')} AS total_revenue,
           {dsum_expr("CASE WHEN p.p_type LIKE 'PROMO%' "
                      "THEN l.l_extendedprice * (1 - l.l_discount) "
                      "ELSE 0 END")} /
           {dsum_expr('l.l_extendedprice * (1 - l.l_discount)')} AS promo_share
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
    """,
    survey_ref="conditional-aggregate ratio over a dim join (Q14 shape)",
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of revenue from promo parts per ship year — the TPC-H Q14
    conditional-aggregate-ratio shape: numerator and denominator come
    out of ONE aggregate pass (a CASE inside the sum), never two jobs.

    Scale shape: the part join carries NO broadcast hint — ``part`` is
    SF-scaled (SF x 200k rows; multi-TB at the 100 TB north star), so a
    forced broadcast would override ``autoBroadcastJoinThreshold`` and
    OOM the driver at scale. AQE picks broadcast when part actually
    fits and sort-merge when it doesn't. The fact shuffles once on the
    group key, and both sums accumulate exactly
    (:func:`..functions.dsum`) so 1000-way partial-aggregation order
    cannot flap the ratio's low bits.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    agg = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            dsum(
                "CASE WHEN startswith(p_type, 'PROMO')"
                " THEN l_extendedprice * (1 - l_discount) ELSE 0D END"
            ).alias("promo_revenue"),
            dsum("l_extendedprice * (1 - l_discount)").alias("total_revenue"),
        )
    )
    return agg.select(
        "ship_year",
        "promo_revenue",
        "total_revenue",
        (F.col("promo_revenue") / F.col("total_revenue")).alias("promo_share"),
    )


# Mega-basket cap for the co-occurrence self-join: the basket self-join
# is Σ|basket|², so ONE pathological basket with B items contributes B²
# pairs — the hot-shingle analog. Baskets above the cap are dropped
# from pairing entirely (the association-mining convention: a basket
# with hundreds of items carries no pairwise signal anyway). TPC-H
# orders have ≤ 7 lines, so the cap is invisible at fixture scale and
# the oracle applies the identical rule.
MAX_BASKET = 32


def basket_pairs(
    li: DataFrame, min_support: int = 2, max_basket: int = MAX_BASKET
) -> DataFrame:
    """Within-basket item pairs with support ≥ ``min_support``, over a
    deduplicated (l_orderkey, l_partkey) relation.

    The basket-size guard is one extra bounded aggregate on the SAME
    key as the self-join (AQE coalesces the exchanges), and the
    semi-join against small baskets prunes before any pairing — the
    `max_doc_freq` pattern from the n-gram Jaccard inverted index.
    """
    small = (
        li.groupBy("l_orderkey")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") <= max_basket)
        .select("l_orderkey")
    )
    li = li.join(small, "l_orderkey", "left_semi")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= min_support)
    )


@register(
    "parts_bought_together",
    oracle=f"""
    WITH li AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    small AS (
        SELECT l_orderkey FROM li GROUP BY 1 HAVING COUNT(*) <= {MAX_BASKET}
    ),
    capped AS (
        SELECT li.l_orderkey, li.l_partkey
        FROM li JOIN small USING (l_orderkey)
    ),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS n_orders
        FROM capped a JOIN capped b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )
    SELECT part_a, part_b, n_orders FROM pairs
    WHERE n_orders >= 2
    """,
    survey_ref="co-occurrence/market-basket: within-order part pairs (self-join)",
)
def parts_bought_together(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part pairs appearing in the same order at least twice — the
    association-mining candidate-pair shape.

    Scale shape: the self-join keys on the order (the basket), so cost
    is Σ|basket|², never |lineitem|² — the same bounded-bucket argument
    as the LSH band join — and :data:`MAX_BASKET` caps the per-basket
    contribution so one pathological mega-basket cannot go quadratic
    (`tests/test_properties.py` plants one and proves it is excluded).
    The distinct projection prunes the scan to two columns.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    return basket_pairs(li)


@register(
    "nation_revenue_pareto",
    oracle=f"""
    WITH rev AS (
        SELECT n.n_name AS nation,
               {dsum_expr('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1
    ),
    tot AS (SELECT {dsum_expr('revenue')} AS total FROM rev)
    SELECT nation, revenue,
           CAST(RANK() OVER (ORDER BY revenue DESC, nation) AS INTEGER)
               AS revenue_rank,
           SUM(revenue) OVER (
               ORDER BY revenue DESC, nation
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) / total AS cumulative_share
    FROM rev, tot
    """,
    survey_ref="cumulative distribution: Pareto share over a bounded aggregate",
)
def nation_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue Pareto curve per nation (rank + cumulative share of
    total). The ordered cumulative window runs over the POST-aggregation
    relation — |nations| rows at any corpus size, so the single-task
    window is bounded by the dimension, not the data (same argument as
    the rolling-revenue frame). The running sum adds exactly-summed
    doubles in a deterministic ROWS order, so both engines fold the
    identical operand sequence.
    """
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(nation, cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            dsum("l_extendedprice * (1 - l_discount)").alias("revenue")
        )
    )
    tot = rev.agg(dsum("revenue").alias("total"))
    # bounded unpartitioned window: 25 nation rows post-aggregation
    w = Window.orderBy(F.col("revenue").desc(), "nation")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return rev.crossJoin(F.broadcast(tot)).select(
        "nation",
        "revenue",
        F.rank().over(w).cast("int").alias("revenue_rank"),
        (F.sum("revenue").over(frame) / F.col("total")).alias(
            "cumulative_share"
        ),
    )


@register(
    "sales_cube",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           o_orderstatus AS status,
           COUNT(*) AS n_orders,
           {dsum_expr('o_totalprice')} AS sales
    FROM orders
    GROUP BY CUBE (CAST(year(o_orderdate) AS INTEGER), o_orderstatus)
    """,
    survey_ref="cube lattice (engine extension; absent in reference §2.13)",
)
def sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full (year × status) aggregation lattice — every combination
    of present/rolled-up dimensions — in ONE pass. Like
    :func:`sales_rollup` this compiles to a single Expand + one
    shuffle; the 2^d row multiplication is why d stays small (2 here)
    and high-cardinality dimensions never go in a cube at 100 TB.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").alias("order_year"),
            F.col("o_orderstatus").alias("status"),
            "o_totalprice",
        )
        .cube("order_year", "status")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("sales"))
    )


@register(
    "sales_grouping_sets",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           o_orderpriority AS priority,
           COUNT(*) AS n_orders,
           {dsum_expr('o_totalprice')} AS sales,
           CAST(GROUPING_ID(CAST(year(o_orderdate) AS INTEGER),
                            o_orderpriority) AS BIGINT) AS gid
    FROM orders
    GROUP BY GROUPING SETS ((CAST(year(o_orderdate) AS INTEGER)),
                            (o_orderpriority), ())
    """,
    survey_ref="explicit GROUPING SETS + GROUPING_ID (engine extension; absent in reference §2.13)",
)
def sales_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary (non-lattice) grouping-set list — per-year totals,
    per-priority totals, and the grand total, but NOT the (year,
    priority) cross — with ``grouping_id()`` disambiguating which
    NULLs mean "rolled up" vs "missing data". Completes the
    ROLLUP (:func:`sales_rollup`) / CUBE (:func:`sales_cube`) family:
    same single Expand + one shuffle plan, but the Expand emits exactly
    the requested sets (3 here) instead of a hierarchy or the full
    2^d lattice — at 100 TB you enumerate the sets a dashboard
    actually reads rather than paying the lattice.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").alias("order_year"),
            F.col("o_orderpriority").alias("priority"),
            "o_totalprice",
        )
        .groupingSets(
            [["order_year"], ["priority"], []], "order_year", "priority"
        )
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("sales"),
            F.expr("grouping_id()").alias("gid"),
        )
    )


@register(
    "events_value_histogram",
    oracle=f"""
    SELECT event_type,
           CAST(floor(value / 50.0) AS INTEGER) AS bucket,
           COUNT(*) AS n,
           {dsum_expr('value')} AS bucket_value
    FROM events
    GROUP BY 1, 2
    """,
    survey_ref="fixed-width histogram (distribution profiling; engine extension)",
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type — the distribution
    profile every data-quality dashboard draws. The bucket id is plain
    arithmetic (``floor(value/width)``), so the whole query is one
    map + one partial-then-final aggregate: the shuffle carries
    |types × buckets| rows regardless of data size, and no sort or
    window appears anywhere. (Spark's ``width_bucket`` builtin does
    the same with explicit bounds; the arithmetic form is used here
    because the oracle engine lacks that function — identical IEEE
    double division and floor on both sides.)
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        F.floor(F.col("value") / 50.0).cast("int").alias("bucket"),
    ).agg(F.count("*").alias("n"), dsum("value").alias("bucket_value"))


@register(
    "cumulative_new_customers",
    oracle="""
    WITH first_seen AS (
        SELECT o_custkey,
               MIN(CAST(date_trunc('month', o_orderdate) AS DATE)) AS month
        FROM orders GROUP BY 1
    ),
    per_month AS (
        SELECT month, COUNT(*) AS n_new FROM first_seen GROUP BY 1
    )
    SELECT month, n_new,
           CAST(SUM(n_new) OVER (
               ORDER BY month ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS n_customers_cum
    FROM per_month
    """,
    survey_ref="cumulative distinct count via first-seen rewrite (engine extension)",
)
def cumulative_new_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct customers per month — written as the
    FIRST-SEEN REWRITE, because the naive form (a running
    COUNT(DISTINCT) window) keeps every key seen so far in window
    state and re-deduplicates per frame: O(|keys|) state per row,
    unrunnable at 100 TB. The rewrite is exact and cheap: each
    customer contributes once at their first month (one groupBy),
    months aggregate to |months| rows, and the running total is a
    window over that tiny relation — the distinct-ness moved OUT of
    the window and into a key-partitioned aggregate.
    """
    orders = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    first_seen = orders.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate").cast("date")).alias("month")
    )
    per_month = first_seen.groupBy("month").agg(F.count("*").alias("n_new"))
    # bounded unpartitioned window: post-aggregation months only
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    return per_month.select(
        "month",
        "n_new",
        F.sum("n_new").over(w).cast("long").alias("n_customers_cum"),
    )


@register(
    "median_order_by_nation",
    oracle="""
    SELECT n.n_name AS nation,
           quantile_cont(o.o_totalprice, 0.5) AS median_order,
           COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    """,
    survey_ref="exact grouped median (order statistic per group; engine extension)",
)
def median_order_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-nation median order value — the order-statistic
    aggregate (``percentile``, linear interpolation, same definition as
    the oracle's ``quantile_cont``). Exact medians need the group's
    values together: one shuffle on the group key, in-group sort.
    That is affordable when groups are bounded (25 nations); for
    billions-of-keys profiling the scale default is the sketch form —
    the documented ``approx_percentile`` swap (same contract as
    table_profile vs table_profile_approx).

    Join shape: customer is SF-scaled (SF x 150k rows) so it gets NO
    broadcast hint — AQE broadcasts it at fixture scale and falls back
    to a key-partitioned join when it no longer fits. nation (25 rows,
    fixed by construction) keeps its hint.
    """
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("median_order"),
            F.count("*").alias("n_orders"),
        )
    )


@register(
    "null_safe_join_semantics",
    oracle="""
    WITH a AS (
        SELECT CASE WHEN o_orderkey % 50 = 0 THEN NULL
                    ELSE CAST(o_orderkey % 100 AS BIGINT) END AS k
        FROM orders WHERE o_orderkey < 500
    ),
    b AS (
        SELECT CASE WHEN o_orderkey % 40 = 0 THEN NULL
                    ELSE CAST(o_orderkey % 100 AS BIGINT) END AS k
        FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 1000
    )
    SELECT
        (SELECT COUNT(*) FROM a JOIN b ON a.k = b.k) AS n_eq_matches,
        (SELECT COUNT(*) FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k)
            AS n_null_safe_matches,
        (SELECT COUNT(*) FROM a WHERE k IS NULL) AS n_left_nulls,
        (SELECT COUNT(*) FROM b WHERE k IS NULL) AS n_right_nulls
    """,
    survey_ref="null-safe equality join (<=> / IS NOT DISTINCT FROM; engine extension)",
)
def null_safe_join_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `=` vs `<=>` join-semantics contract, measured: planted-NULL
    keys joined both ways, proving plain equality DROPS null pairs
    (SQL three-valued logic) while the null-safe operator matches them
    (n_null_safe = n_eq + left_nulls x right_nulls). This is the trap
    behind silently-shrinking joins on nullable keys — an engine must
    ship BOTH semantics and a user must be able to verify which one a
    pipeline uses.

    Scale note: a null-safe equi-join still hash-partitions on the key
    (NULL hashes to one value), so heavy null populations make the
    null bucket THE skew key — production either pre-filters nulls or
    salts them; here the planted populations are tiny by construction.
    """
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    key = F.when(F.col("o_orderkey") % 50 == 0, None).otherwise(
        (F.col("o_orderkey") % 100).cast("bigint")
    )
    key_b = F.when(F.col("o_orderkey") % 40 == 0, None).otherwise(
        (F.col("o_orderkey") % 100).cast("bigint")
    )
    a = orders.filter(F.col("o_orderkey") < 500).select(key.alias("k"))
    b = orders.filter(
        (F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 1000)
    ).select(key_b.alias("k"))
    n_eq = a.join(b, a["k"] == b["k"]).count()
    n_ns = a.join(b, a["k"].eqNullSafe(b["k"])).count()
    n_an = a.filter(F.col("k").isNull()).count()
    n_bn = b.filter(F.col("k").isNull()).count()
    return spark.createDataFrame(
        [(n_eq, n_ns, n_an, n_bn)],
        "n_eq_matches long, n_null_safe_matches long, "
        "n_left_nulls long, n_right_nulls long",
    )
