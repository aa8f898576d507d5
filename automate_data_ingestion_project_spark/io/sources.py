"""Batch sources.

Reference scans (SURVEY.md §2.1): REST API (S1-S3, see ``ingest.rest``),
dbt source tables (S4), literal tables (S5), multi-connector BI scans
(S6). Here the canonical source is parquet — columnar, splittable,
predicate-pushdown + column-pruning friendly, the right substrate for
100 TB. CSV/JSON/JDBC come free via ``spark.read.format``.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# The driver-provided TPC-H-ish fixture tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Inferred parquet schemas, reused while the files are unchanged.
# `spark.read.parquet` without a schema runs a Spark job that reads the
# footers (55-70 ms per table on a dashboard query); a declared schema
# runs none. Keyed by the path and the confs that change what inference
# returns, the entry holds every file's (name, size, mtime_ns) and the
# schema: a rewritten file misses and is inferred again.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}


def _file_stamps(path: str) -> tuple | None:
    """(name, size, mtime_ns) of the file at ``path``, or of every file
    under it when it is a directory; None when ``os.stat`` cannot see
    it (a remote URI, say)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return ((path, st.st_size, st.st_mtime_ns),)
    stamps = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames.sort()
        for f in sorted(filenames):
            fst = os.stat(os.path.join(dirpath, f))
            stamps.append((os.path.join(dirpath, f), fst.st_size, fst.st_mtime_ns))
    return tuple(stamps)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only when the
    files or the inference confs changed since the last read."""
    stamps = _file_stamps(path)
    if stamps is None:
        return spark.read.parquet(path)
    key = (path, tuple(spark.conf.get(k) for k in _SCHEMA_CONFS))
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamps:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (stamps, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table.

    A parquet scan, so Catalyst keeps full pushdown: filters and
    projections land in the scan (``PushedFilters`` / ``ReadSchema`` in
    the physical plan). The schema is inferred once per unchanged file
    (see ``_SCHEMAS``); later reads declare it and submit no job.

    ``events.ts`` has shipped as both parquet TIMESTAMP(NANOS) and
    TIMESTAMP(MICROS) across fixture generations, so the loader adapts to
    what it reads. Spark 4's vectorized reader rejects NANOS
    (PARQUET_TYPE_ILLEGAL); with ``spark.sql.legacy.parquet.nanosAsLong``
    nanos arrive as long and we rebuild a microsecond timestamp JVM-side —
    the same truncation DuckDB applies when casting TIMESTAMP_NS →
    TIMESTAMP, so oracle parity holds. MICROS arrives as TIMESTAMP_NTZ and
    is reinterpreted as session-TZ TIMESTAMP (UTC is pinned below, so the
    cast is value-preserving).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Timezone independence: string timestamp literals, date_trunc and
    # year() are evaluated in the session timezone, while the DuckDB
    # oracle evaluates naive timestamps. The driver builds its own
    # vanilla session (bypassing get_spark's UTC default), so pin UTC
    # here — parity must not depend on the host TZ.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, path)
        if df.schema["ts"].dataType.simpleString() == "bigint":
            # integer `div`, not `/`: ns epochs (~1.7e18) overflow double's
            # 53-bit mantissa, so float division would lose microseconds
            return df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return _read_parquet(spark, path)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Register fixture tables as temp views for the SQL surface
    (reference's dbt ``source()`` registry, ``dbt_core/models/sources.yml:3-9``).
    """
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


# ---------------------------------------------------------------------------
# S6 — multi-connector scans. The reference's BI layer declares ten
# connector types (evidence-workspace/package.json:17-28); the engine
# needs the formats Spark ships natively. JDBC covers the five
# database connectors (mssql/mysql/postgres/sqlite/trino) given a
# driver jar on the classpath.
# ---------------------------------------------------------------------------


def read_csv(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    """CSV scan; pass an explicit schema for production (inference costs
    an extra pass and guesses types)."""
    opts = {"header": "true", **{k: str(v) for k, v in options.items()}}
    reader = spark.read.options(**opts)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    """JSON-lines scan; nested structs arrive typed (S2's storage twin)."""
    reader = spark.read.options(**{k: str(v) for k, v in options.items()})
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str, **options) -> DataFrame:
    """ORC scan — the other columnar interchange format warehouses
    actually hold (Hive/Trino estates).  Same pushdown/pruning story as
    parquet: filters and projections reach the ORC reader, and the
    schema travels with the files (no explicit schema needed)."""
    return spark.read.options(**{k: str(v) for k, v in options.items()}).orc(
        path
    )


def read_xml(
    spark: SparkSession, path: str, row_tag: str, schema=None, **options
) -> DataFrame:
    """XML scan (built into Spark 4 — the former spark-xml package).
    ``row_tag`` names the repeating element that maps to a row; pass an
    explicit schema for production (inference costs an extra pass)."""
    reader = spark.read.format("xml").option("rowTag", row_tag).options(
        **{k: str(v) for k, v in options.items()}
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def read_jdbc(
    spark: SparkSession, url: str, table: str, **options
) -> DataFrame:
    """JDBC scan (predicate pushdown + partitioned reads via the
    standard partitionColumn/lowerBound/upperBound/numPartitions
    options).  Exercised against embedded Derby in tests/test_jdbc.py —
    the same code path serves any database given its driver jar."""
    return spark.read.format("jdbc").options(url=url, dbtable=table, **options).load()
