"""Skew-operator CORRECTNESS queries.

The salted operators (:mod:`..operators.skew`) must be RESULT-equivalent
to their unsalted forms — salting only changes the physical distribution
of work. These register both against plain-SQL oracles:

- ``skew_salted_agg``: two-phase salted sum/count over the canonical
  hot-key shape (5-value ``o_orderpriority``) ≡ plain ``GROUP BY``.
  Partials accumulate in DECIMAL so re-combination is order-independent
  (double partial sums would make the salted result nondeterministic).
- ``skew_salted_join``: lineitem⋈part with the small side replicated
  across salts ≡ the plain equi-join, aggregated to brand revenue.

At 100 TB: the salt spreads one hot key over ``n_salts`` tasks; the
deterministic ``crc32(id) % n`` salt (no ``rand()``) keeps task retries
and stage replays stable — a correctness property, not a style choice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dsum, dsum_expr
from ..io import load_table
from ..operators.skew import salted_join, salted_sum_count
from .registry import register

_DEC = "decimal(27,6)"


@register(
    "skew_salted_agg",
    oracle=f"""
    SELECT o_orderpriority,
           {dsum_expr('o_totalprice')} AS sum_totalprice,
           COUNT(*) AS n_rows
    FROM orders
    GROUP BY o_orderpriority
    """,
    survey_ref="skew: salted two-phase aggregation ≡ plain GROUP BY (scale path)",
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "_v", F.col("o_totalprice").cast(_DEC)
    )
    out = salted_sum_count(
        orders, ["o_orderpriority"], "_v", id_col="o_orderkey", n_salts=16
    )
    return out.select(
        "o_orderpriority",
        F.col("sum__v").cast("double").alias("sum_totalprice"),
        "n_rows",
    )


@register(
    "skew_salted_join",
    oracle=f"""
    SELECT p.p_brand,
           {dsum_expr('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    survey_ref="skew: salted replicated-side join ≡ plain equi-join (scale path)",
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"),
        "l_orderkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev"),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # salt from the ORDER key — varies within a hot part key, so the
    # hot key's rows actually spread over the 8 salt tasks
    joined = salted_join(li, part, key="p_partkey", salt_from="l_orderkey", n_salts=8)
    return joined.groupBy("p_brand").agg(
        dsum("_rev").alias("revenue"),
        F.count("*").alias("n_items"),
    )
