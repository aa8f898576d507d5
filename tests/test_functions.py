"""`functions.dsum` against its DuckDB twin `dsum_expr`: the exact
fixed-point sum must give DuckDB's value on rounding ties, near-ties,
negatives and sums past 2^63, be bit-identical under any partitioning,
and raise on inputs it cannot sum exactly."""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from automate_data_ingestion_project_spark.functions import dsum, dsum_expr
from automate_data_ingestion_project_spark.io.maintenance import session_conf_scope

# ties and near-ties at the 6th decimal, negatives, and a value whose
# 6th-decimal tie sits below 1e9's ulp; Spark's own decimal cast
# disagrees with DuckDB on the last six. The last two scale to exact
# ties (x * 1e6 == n + 0.5, where 1e-9 is below half an ulp), which
# DuckDB rounds half to even.
PROBES = [
    2.5e-6,
    -4.5e-6,
    1.0000005,
    2.4999999995e-6,
    123456.7890125,
    -98765.4321005,
    1e9 + 5e-7,
    20.0000005,
    30.0000025,
]


def _duck_dsum(values: list[float | None]) -> float | None:
    frame = pd.DataFrame({"x": pd.Series(values, dtype="float64")})
    con = duckdb.connect()
    try:
        con.register("t", frame)
        return con.execute(f"SELECT {dsum_expr('x')} FROM t").fetchone()[0]
    finally:
        con.close()


def _spark_dsum(spark, values: list[float | None]) -> float | None:
    df = spark.createDataFrame([(v,) for v in values], "x double")
    return df.agg(dsum("x")).first()[0]


@pytest.mark.parametrize("ansi", ["false", "true"])
@pytest.mark.parametrize("x", PROBES)
def test_probe_matches_duckdb(spark, x, ansi):
    with session_conf_scope(spark, "spark.sql.ansi.enabled", ansi):
        got = _spark_dsum(spark, [x])
    assert got == _duck_dsum([x]), (x, got)


def test_dsum_on_a_column_name_costs_a_few_round_trips(spark, monkeypatch):
    """`dsum` is one parsed SQL template: building it on a column name
    makes a handful of Py4J calls, not one per Column operation."""
    from py4j.clientserver import ClientServerConnection

    dsum("x")  # warm: the first call may resolve JVM classes
    sent = []
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        sent.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    dsum("x")
    monkeypatch.undo()
    assert 0 < len(sent) <= 5, len(sent)


def test_null_and_empty_groups_give_null(spark):
    df = spark.createDataFrame([("a", None), ("a", None), ("b", 1.5)], "k string, x double")
    got = {r.k: r.s for r in df.groupBy("k").agg(dsum("x").alias("s")).collect()}
    assert got == {"a": None, "b": 1.5}
    assert spark.createDataFrame([], "x double").agg(dsum("x")).first()[0] is None
    assert _duck_dsum([None, None]) is None


def test_sum_past_2_pow_63_is_exact(spark):
    """One group's scaled sum exceeds a long: the limbs carry it."""
    rng = random.Random(7)
    values = [4.95e8 + rng.randrange(10**6) / 10**6 for _ in range(20_000)]
    assert sum(values) * 1e6 > 2.0**63
    got = spark.createDataFrame(pd.DataFrame({"x": values})).agg(dsum("x")).first()[0]
    assert got == _duck_dsum(values)


def test_partitioning_does_not_change_a_bit(spark):
    rng = random.Random(11)
    rows = [(i % 3, rng.uniform(-1e6, 1e6)) for i in range(3000)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "x"]))

    def sums(n: int) -> dict:
        out = df.repartition(n).groupBy("k").agg(dsum("x").alias("s")).collect()
        return {r.k: r.s for r in out}

    one, eight = sums(1), sums(8)
    assert one == eight
    for k in range(3):
        assert one[k] == _duck_dsum([x for g, x in rows if g == k])


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), 5e12])
def test_unsummable_value_raises(spark, bad):
    with pytest.raises(PySparkException, match="dsum: value out of range"):
        _spark_dsum(spark, [1.0, bad])


def test_high_limb_overflow_raises(spark):
    """~2.2M rows just under the per-row bound overflow the high limb's
    long sum; that must raise, not return NULL or a wrapped value."""
    df = spark.range(2_200_000).select(F.lit(4.6e12).alias("x"))
    with pytest.raises(PySparkException, match="dsum: sum overflow"):
        df.agg(dsum("x")).first()
