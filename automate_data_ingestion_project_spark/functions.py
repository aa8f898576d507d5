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
_SCALE = 1e6
_LIMB_BITS = 20
_MAX_SCALED = 2.0**62


def dsum(col: str | Column) -> Column:
    """Deterministic SUM over a double column (exact fixed-point
    accumulation, see above), returned as double. An empty or all-NULL
    group gives NULL."""
    c = F.col(col) if isinstance(col, str) else col
    v = c * _SCALE
    # Spark orders NaN above every double, so this also catches NaN
    u = F.when(
        F.abs(v) >= _MAX_SCALED,
        F.raise_error(F.concat(F.lit("dsum: value out of range: "), c.cast("string"))),
    ).otherwise(F.rint(v + F.signum(v) * 1e-9).cast("bigint"))
    hi = F.try_sum(F.shiftright(u, _LIMB_BITS))
    lo = F.sum(u.bitwiseAND((1 << _LIMB_BITS) - 1))
    total = hi.cast("decimal(38,0)") * (1 << _LIMB_BITS) + lo
    return F.when(
        hi.isNull() & lo.isNotNull(), F.raise_error(F.lit("dsum: sum overflow"))
    ).otherwise(total.cast("double") / _SCALE)


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
