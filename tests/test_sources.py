"""`io.sources.load_table` infers a table's parquet schema once and
declares it on later reads: an unchanged file is read without a Spark
job, a rewritten file or a changed inference conf is inferred again,
and the `events` `ts` rebuild gives the same type either way."""

from __future__ import annotations

import datetime as dt
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from automate_data_ingestion_project_spark.io import sources
from automate_data_ingestion_project_spark.io.maintenance import session_conf_scope
from automate_data_ingestion_project_spark.io.sources import load_table


def _jobs_of(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, job ids)."""
    sc = spark.sparkContext
    group = f"sources-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "load_table probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _write(sf_dir, name, table):
    pq.write_table(table, str(sf_dir / f"{name}.parquet"))


def test_unchanged_file_is_read_without_a_job(spark, tmp_path):
    _write(tmp_path, "orders", pa.table({"o_orderkey": [1, 2, 3]}))
    first, jobs1 = _jobs_of(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    again, jobs2 = _jobs_of(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    assert jobs1, "the first read infers the schema with a Spark job"
    assert jobs2 == []
    assert again.schema == first.schema
    assert sorted(r.o_orderkey for r in again.collect()) == [1, 2, 3]


def test_rewritten_file_returns_the_new_schema(spark, tmp_path):
    _write(tmp_path, "orders", pa.table({"o_orderkey": [1, 2]}))
    assert load_table(spark, str(tmp_path), "orders").columns == ["o_orderkey"]
    _write(tmp_path, "orders", pa.table({"o_orderkey": [1, 2], "o_note": ["a", "b"]}))
    df = load_table(spark, str(tmp_path), "orders")
    assert df.columns == ["o_orderkey", "o_note"]
    assert sorted(r.o_note for r in df.collect()) == ["a", "b"]


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    _write(tmp_path, "part", pa.table({"p_name": pa.array([b"x", b"y"], pa.binary())}))
    key = "spark.sql.parquet.binaryAsString"
    with session_conf_scope(spark, key, "false"):
        assert load_table(spark, str(tmp_path), "part").schema["p_name"].dataType == T.BinaryType()
    with session_conf_scope(spark, key, "true"):
        assert load_table(spark, str(tmp_path), "part").schema["p_name"].dataType == T.StringType()


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_ts_type_is_the_same_from_the_cache(spark, tmp_path, unit):
    ts = [dt.datetime(2024, 1, 2, 3, 4, 5, 123456), dt.datetime(2024, 2, 1)]
    _write(
        tmp_path,
        "events",
        pa.table({"ts": pa.array(ts, pa.timestamp(unit)), "value": [1.5, 2.5]}),
    )
    first, _ = _jobs_of(spark, lambda: load_table(spark, str(tmp_path), "events"))
    cached, jobs = _jobs_of(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs == []
    assert first.schema["ts"].dataType == T.TimestampType()
    assert cached.schema == first.schema
    assert sorted(cached.collect()) == sorted(first.collect())
    assert sorted(r.ts for r in cached.collect()) == ts


def test_path_os_stat_cannot_see_is_a_plain_read(spark, tmp_path):
    _write(tmp_path, "region", pa.table({"r_regionkey": [0, 1]}))
    before = dict(sources._SCHEMAS)
    df = load_table(spark, f"file://{tmp_path}", "region")
    assert df.count() == 2
    assert sources._SCHEMAS == before
