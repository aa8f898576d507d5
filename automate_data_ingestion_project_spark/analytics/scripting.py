"""SQL-procedural pipelines: Spark 4 SQL scripting (BEGIN…END).

The reference's orchestration is Python around SQL (Dagster ops calling
DuckDB); warehouse-native deployments express the same control flow IN
SQL — compound statements with DECLARE'd variables and IF/ELSE
branching (the stored-procedure idiom). Spark 4 executes these
natively, which matters operationally: the gate-then-publish decision
runs where the data runs, with no driver round-trip between the check
and the publish, and the script is portable to any SQL-scripting
warehouse.

The D-family twin of this module is ``pipeline.py`` (config-driven
Python orchestration with per-branch failure isolation); this is the
same gate discipline for teams whose pipeline language is SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions import dsum_expr, dsum_sql
from ..io import load_table
from .registry import register

_GATE_PREDICATE = "o_totalprice <= 0 OR o_custkey IS NULL OR o_orderdate IS NULL"

# the published aggregate over a relation `{rel}`; the sum is `{total}`:
# `dsum_sql` where Spark runs it, `dsum_expr` in the DuckDB oracle
_PUBLISH_TEMPLATE = """
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n_orders,
           {total} AS total_value,
           0 AS n_violations
    FROM {{rel}}
    GROUP BY o_orderpriority
"""
_PUBLISH_SQL = _PUBLISH_TEMPLATE.format(total=dsum_sql("o_totalprice"))


@register(
    "scripted_quality_gate",
    oracle=_PUBLISH_TEMPLATE.format(total=dsum_expr("o_totalprice")).format(
        rel="orders"
    ),
    survey_ref="SQL-procedural gate-then-publish (Spark 4 scripting; D/Q engine ext)",
)
def scripted_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate-then-publish as ONE SQL compound statement: DECLARE a
    violation count, fill it with the quality probe, and IF/ELSE
    between the published aggregate and a quarantine marker row. The
    fixture is clean, so the oracle is the published aggregate; the
    quarantine branch is exercised by ``tests/test_scripting.py`` with
    a planted-bad relation — both engines would agree on either branch
    because the branch CONDITION is an integer count.

    Scale shape: the probe is one fully-pushed-filter count; the
    publish is one bounded-key aggregate (|priorities| groups,
    partial-aggregated). The script adds control flow, not data
    movement — the two statements' plans are exactly what the
    standalone queries would produce.
    """
    ev = load_table(spark, sf_dir, "orders")
    view = "orders_for_scripted_gate"
    ev.createOrReplaceTempView(view)
    return spark.sql(f"""
    BEGIN
      DECLARE n_bad BIGINT DEFAULT 0;
      SET n_bad = (SELECT COUNT(*) FROM {view} WHERE {_GATE_PREDICATE});
      IF n_bad = 0 THEN
        {_PUBLISH_SQL.format(rel=view)};
      ELSE
        SELECT 'QUARANTINED' AS priority,
               CAST(0 AS BIGINT) AS n_orders,
               CAST(0.0 AS DOUBLE) AS total_value,
               CAST(n_bad AS INT) AS n_violations;
      END IF;
    END
    """)


@register(
    "pipe_syntax_revenue",
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
    """,
    survey_ref="SQL pipe syntax: same star join, linear pipeline form (engine ext)",
)
def pipe_syntax_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``revenue_by_nation`` written in Spark 4's SQL PIPE syntax
    (``|>``): each stage reads top-to-bottom in execution order —
    scan → filter → joins → aggregate — instead of the inside-out
    SELECT nesting. Same Catalyst plan, same oracle semantics; the
    point is the SURFACE: generated pipelines (and humans debugging
    them) can append stages without restructuring the statement.

    Plan parity is the claim worth checking and it holds by
    construction — pipe operators desugar before optimization, so
    filter pushdown, the dim broadcasts, and the partial aggregate are
    identical to the nested form's.
    """
    for name in ("orders", "customer", "nation", "region"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(f"pipe_{name}")
    return spark.sql(f"""
      FROM pipe_orders AS o
      |> WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      |> JOIN pipe_customer AS c ON o.o_custkey = c.c_custkey
      |> JOIN pipe_nation AS n ON c.c_nationkey = n.n_nationkey
      |> JOIN pipe_region AS r ON n.n_regionkey = r.r_regionkey
      |> AGGREGATE {dsum_sql('o.o_totalprice')} AS revenue,
                   COUNT(*) AS n_orders
         GROUP BY n.n_name AS nation, r.r_name AS region
      |> SELECT nation, region, revenue, n_orders
    """)
