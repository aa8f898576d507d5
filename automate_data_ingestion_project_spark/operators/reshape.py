"""The reference's signature transform: wide → long → wide normalization.

Reference semantics (``/root/reference/scripts/extract_load.py:119-201``):
an API payload arrives wide — id columns plus one column per
``<metric>_cod<K>`` combination. The pipeline

1. melts every non-id column into (``cod_full``, ``valeur``) rows   (R1, L153)
2. right-splits ``cod_full`` once on ``_`` → metric name + code     (F1, L156-158)
3. strips the literal ``cod`` prefix from the code                  (F2, L159-161)
4. re-pivots per metric with ``first()`` aggregation                (R2/A1, L164-169)
5. adds ``uid = sha256(concat of key cols, NO separator)``          (F3, L171-193)

Everything here is native Spark: ``unpivot`` (whole-stage codegen'd
expand), string expressions, ``pivot`` with an explicit value list (so
no extra distinct-discovery job is launched), ``sha2``. The reference's
row-wise pandas ``apply`` hashing becomes a codegen'd expression — at
100 TB this chain is one scan + one shuffle (the pivot's groupBy),
with map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import sha256_uid


def melt(
    df: DataFrame,
    id_vars: list[str],
    value_vars: list[str] | None = None,
    var_name: str = "cod_full",
    value_name: str = "valeur",
) -> DataFrame:
    """R1 — wide→long unpivot, pandas-``melt`` semantics (nulls kept).

    Value columns are cast to double first: parquet payloads mix long
    (``nbtrans``) and double (indicator) columns, and ``unpivot``
    requires one common value type — same coercion pandas applies.
    Names are quoted, so dotted columns from nested JSON melt as-is.
    """
    value_vars = value_vars or [c for c in df.columns if c not in id_vars]
    ids = [_col(c) for c in id_vars]
    casted = df.select(*ids, *[_col(c).cast("double").alias(c) for c in value_vars])
    return casted.unpivot(ids, [_col(c) for c in value_vars], var_name, value_name)


def _col(name: str) -> Column:
    """Column by literal name: flattened JSON yields dotted names
    (``geo.lat``) that ``F.col`` would read as struct-field access."""
    return F.col("`" + name.replace("`", "``") + "`")


def split_metric_code(
    df: DataFrame,
    col: str = "cod_full",
    metric_name: str = "metric",
    code_name: str = "cod",
    code_prefix: str = "cod",
) -> DataFrame:
    """F1+F2 — rsplit once on ``_`` and strip the literal code prefix.

    ``'valeurfonc_sum_cod111'`` → metric ``'valeurfonc_sum'``, cod ``'111'``.
    ``substring_index(c, '_', -1)`` takes the last segment; the prefix is
    a length-arithmetic substring — no regex in the hot path.

    A value with no separator keeps pandas ``rsplit('_', n=1)``
    semantics: single part → metric is the whole string, code is NULL
    (pandas yields NaN in the expanded second column).
    """
    c = F.col(col)
    has_sep = c.contains("_")
    suffix = F.substring_index(c, "_", -1)
    prefix = c.substr(F.lit(1), F.length(c) - F.length(suffix) - F.lit(1))
    return df.withColumn(metric_name, F.when(has_sep, prefix).otherwise(c)).withColumn(
        code_name,
        F.when(has_sep, F.replace(suffix, F.lit(code_prefix), F.lit(""))).otherwise(
            F.lit(None).cast("string")
        ),
    )


def pivot_metrics(
    df: DataFrame,
    group_cols: list[str],
    metric_col: str,
    value_col: str,
    metrics: list[str],
) -> DataFrame:
    """R2/A1 — long→wide: one column per metric, ``first()`` per cell.

    ``metrics`` is passed explicitly (reference knows its 9 indicator
    names from config.yaml) so Spark skips the distinct-values
    discovery job — one less scan, and a deterministic column order.

    ``ignorenulls=True`` matches pandas ``pivot_table(aggfunc='first')``
    (``GroupBy.first`` skips NaN — measured, not assumed).
    """
    return (
        df.groupBy(*group_cols)
        .pivot(metric_col, metrics)
        .agg(F.first(value_col, ignorenulls=True))
    )


def with_uid(df: DataFrame, key_cols: list[str], uid_name: str = "uid") -> DataFrame:
    """F3 — sha256 surrogate key over no-separator concat of key columns."""
    return df.withColumn(uid_name, sha256_uid(*key_cols))


def normalize_wide(
    df: DataFrame,
    id_vars: list[str],
    metrics: list[str],
    uid_cols: list[str],
    code_prefix: str = "cod",
) -> DataFrame:
    """Full reference transform: melt → split → pivot → uid.

    Equivalent of ``dv3f.transform_data``
    (``/root/reference/scripts/extract_load.py:119-201``) for any scope:
    ``id_vars`` = [annee, dep, libdep] or [annee, reg, libreg];
    ``metrics`` = the declared indicator names (config.yaml:36-67);
    ``uid_cols`` = [annee, dep|reg, cod].

    Output columns: ``uid, *id_vars, cod, *metrics``.

    Pandas-parity edge semantics (measured against the reference's
    ``melt → rsplit → pivot_table(aggfunc='first') → reset_index``):

    - groups with NULL in any key column (``id_vars`` + ``cod``) are
      DROPPED — pandas ``groupby`` default ``dropna=True``;
    - groups where every metric value is NULL are DROPPED —
      ``pivot_table`` omits all-NaN groups;
    - partially-NULL groups are kept with NULL cells.

    The null-key filter runs on the long relation *before* the pivot's
    groupBy, so dropped rows never enter the shuffle.
    """
    long = melt(df, id_vars)
    split = split_metric_code(long, code_prefix=code_prefix)
    key_cols = [*id_vars, "cod"]
    non_null_keys = split.filter(
        reduce_and([F.col(c).isNotNull() for c in key_cols])
    )
    wide = pivot_metrics(non_null_keys, key_cols, "metric", "valeur", metrics)
    any_metric = reduce_or([F.col(m).isNotNull() for m in metrics])
    keyed = with_uid(wide.filter(any_metric), uid_cols)
    return keyed.select("uid", *id_vars, "cod", *metrics)


def reduce_and(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def reduce_or(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out
