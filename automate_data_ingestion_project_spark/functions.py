"""Scalar/aggregate helper expressions shared across operators.

Maps SURVEY.md §2.7 (F1-F5) plus determinism helpers for the oracle
comparison. Everything is a native Column expression — JVM-side,
whole-stage-codegen'd; no Python UDFs (reference's row-wise pandas
``apply`` at ``scripts/extract_load.py:159-189`` is replaced by these,
per SURVEY.md §2.12).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Exact fixed-point sums of doubles. Summing doubles is order-sensitive,
# and Spark's partial-aggregation order varies with partitioning and
# scheduling, so a plain double SUM is not run-to-run reproducible. The
# oracle twin, `dsum_expr`, is DuckDB's CAST(SUM(CAST(x AS
# DECIMAL(27,6))) AS DOUBLE); `dsum` computes the same value as integer
# arithmetic, with no per-row BigDecimal:
#
# - Per row, u = CAST(rint(v + 1e-9 * signum(v)) AS BIGINT) with
#   v = x * 1e6. This is DuckDB's own double -> DECIMAL cast (scale by
#   10^6, nudge away from zero by 1e-9, round half to even), so u is the
#   unscaled DECIMAL(27,6) value DuckDB sums. Spark's decimal cast
#   rounds the double's decimal string half-up and disagrees with it on
#   near-ties (123456.7890125 -> ...789013 in Spark, ...789012 in DuckDB).
# - Integer sums are exact and associative, so the result is the same
#   under any partitioning. u is split into two limbs, hi = u >> 20 and
#   lo = u & (2^20 - 1), so that u = hi * 2^20 + lo. |v| < 2^62 is
#   required, so |hi| < 2^42 and a long sum of hi overflows only past
#   ~2^21 rows of extreme values (caught by try_sum); 0 <= lo < 2^20,
#   so a long sum of lo cannot overflow below 2^43 rows. A single long
#   sum of u is not enough: a 20k-row group reached S ~ 9.9e18 > 2^63.
# - After the aggregate, S = sum(hi) * 2^20 + sum(lo) is formed once per
#   group as DECIMAL(38,0) and returned as double(S) / 1e6, which is
#   DuckDB's DECIMAL -> DOUBLE cast (correctly rounded while S < 2^64).
#
# Scale 6: fixture values carry at most 6 true decimal places (2dp
# monetary x 2dp rates). NaN, +-Inf, |v| >= 2^62 and a hi-limb overflow
# raise instead of saturating or summing to a wrong value.
#
# The body is one Spark-SQL template parsed once by F.expr, so `dsum`
# takes SQL text (a column name or an expression over columns), not a
# Column. Building the same ~30 operations as PySpark Column calls costs
# ~11 Py4J round trips each (~245 per `dsum`, ~25-30 ms of driver time
# on a dashboard query that runs in a few hundred ms); the parsed
# template costs a handful. The literal suffixes keep every constant a
# DOUBLE (a bare 1000000.0 is a DECIMAL in Spark SQL); the limb widths
# stay INT literals.
_LIMB_BITS = 20


def dsum_sql(sql_expr: str) -> str:
    """Spark-SQL text of :func:`dsum` over the SQL expression
    ``sql_expr``, for queries written as Spark SQL."""
    x = f"({sql_expr})"
    v = f"{x} * 1000000D"
    # Spark orders NaN above every double, so this also catches NaN
    u = (
        f"CASE WHEN abs({v}) >= 4.611686018427388E18D"
        f" THEN raise_error(concat('dsum: value out of range: ', CAST({x} AS STRING)))"
        f" ELSE CAST(rint({v} + signum({v}) * 1.0E-9D) AS BIGINT) END"
    )
    hi = f"try_sum(shiftright({u}, {_LIMB_BITS}))"
    lo = f"sum({u} & {(1 << _LIMB_BITS) - 1})"
    return (
        f"CASE WHEN {hi} IS NULL AND {lo} IS NOT NULL"
        " THEN raise_error('dsum: sum overflow')"
        f" ELSE CAST(CAST({hi} AS DECIMAL(38,0)) * {1 << _LIMB_BITS} + {lo} AS DOUBLE)"
        " / 1000000D END"
    )


def dsum(sql_expr: str) -> Column:
    """Deterministic SUM over a double SQL expression (exact fixed-point
    accumulation, see above), returned as double. An empty or all-NULL
    group gives NULL."""
    return F.expr(dsum_sql(sql_expr))


def dsum_expr(sql_expr: str) -> str:
    """DuckDB/ANSI twin of :func:`dsum` for oracle SQL strings."""
    return f"CAST(SUM(CAST(({sql_expr}) AS DECIMAL(27,6))) AS DOUBLE)"


def sha256_uid(*cols: str | Column) -> Column:
    """F3 — SHA-256 surrogate key over raw concatenation, NO separator.

    Reference: ``hashlib.sha256(str(a)+str(b)+str(c)).hexdigest()``
    (``/root/reference/scripts/extract_load.py:171-193``). The
    no-separator concat is replicated exactly (SURVEY.md §2.7 F3),
    including Python's ``str(None) == 'None'`` coercion: a NULL key
    column contributes the literal string ``'None'`` instead of
    nulling the whole concat (``F.concat`` is NULL-propagating).
    """
    cs = [
        F.coalesce((F.col(c) if isinstance(c, str) else c).cast("string"), F.lit("None"))
        for c in cols
    ]
    return F.sha2(F.concat(*cs), 256)
