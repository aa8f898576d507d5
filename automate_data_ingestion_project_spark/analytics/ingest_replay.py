"""Ingestion + orchestration CORRECTNESS queries (S1-S3, P7, O4, D1-D6, P8, S7).

These register the layers that previously had only pytest coverage as
driver-checked queries, using DETERMINISTIC stub fetchers (the
``fetch=`` injection point of :mod:`..ingest.rest`) so the driver can
hash-match them against a DuckDB oracle with no network involved:

- ``rest_ingest_dv3f`` — the paginated REST scan end-to-end
  (ref ``scripts/extract_load.py:24-101``): endpoint dispatch,
  param pruning (P7 — the stub 500s if a falsy param reaches it),
  ordering pushdown (O4 — the stub 500s if ``ordering`` is absent),
  DRF pagination, nested-JSON flatten (S2), and cross-page column
  drift healed by concatenating the pages' rows under the union of
  their keys (absent keys NULL).
- ``pipeline_etl_replay`` — the reference's whole Dagster job
  (ref ``scripts/etl.py:13-70``): YAML-shaped work-list fan-out,
  per-code failure isolation (code ``'99'`` always 500s and must NOT
  kill the batch), per-scope union → normalize → keyed upsert, run
  TWICE so the driver's hash also proves D-layer idempotence.
- ``dbf_commune`` — the commune enrichment table (S7): synthesizes a
  dBase III file byte-for-byte in scratch, reads it back with
  :func:`..io.dbf.read_dbf` (typed columns, blank→NULL, soft-deleted
  rows skipped), oracle is the literal expected table.
- ``commune_enrichment`` — the join the stripped
  ``ressources/v_commune_2023.dbf`` (ref ``.MISSING_LARGE_BLOBS:2``)
  exists FOR: enrich normalized DV3F rows with commune attributes by
  department code (INSEE code prefix). The commune table is a classic
  broadcast dimension — a few MB of reference data against an
  arbitrarily large fact side, so the explicit ``F.broadcast`` is the
  right 100 TB shape (unlike a crawl-scale vocab, its size is bounded
  by French geography).
"""

from __future__ import annotations

import os
import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ingest.rest import RestResponse, read_api
from ..io.dbf import read_dbf
from ..io.sink import read_parquet
from ..pipeline import run_pipeline
from ..schemas import schemas_from_yaml
from .dv3f import METRICS, _oracle_sql as _dv3f_oracle_sql, normalize_dv3f
from .load import scratch_dir
from .registry import register

# ---------------------------------------------------------------- S1-S3

_N_ROWS = 12
_PAGE_SIZE = 5


def _rest_record(j: int) -> dict:
    """Index-derived record: exact-in-double values, nested geo object,
    and a ``note`` column that only appears on the last server page."""
    rec = {
        "annee": str(2000 + j),
        "dep": "01",
        "valeur": float(10 * j) + 0.5,
        "geo": {"lat": float(j) + 0.25, "lon": -float(j) - 0.75},
    }
    if j >= 10:
        rec["note"] = f"n{j}"
    return rec


def _stub_fetch(url: str, params: dict) -> RestResponse:
    """Deterministic DRF-style server. Rejects protocol violations so
    the CORRECTNESS hash also proves P7/O4:

    - any falsy param value present → 500 (pruning failed, P7);
    - no ``ordering`` param → 500 (pushdown failed, O4).
    """
    if any(not v for v in params.values()):
        return RestResponse(500)
    if params.get("ordering") != "annee":
        return RestResponse(500)
    page = int(params.get("page", 1))
    size = int(params.get("page_size", _N_ROWS))
    recs = sorted((_rest_record(j) for j in range(_N_ROWS)), key=lambda r: r["annee"])
    chunk = recs[(page - 1) * size : page * size]
    nxt = f"{url}?page={page + 1}" if page * size < _N_ROWS else None
    return RestResponse(200, {"count": _N_ROWS, "next": nxt, "results": chunk})


@register(
    "rest_ingest_dv3f",
    oracle=f"""
    SELECT CAST(2000 + j AS VARCHAR) AS annee,
           '01' AS dep,
           CAST(10 * j + 0.5 AS DOUBLE) AS valeur,
           CAST(j + 0.25 AS DOUBLE) AS geo_lat,
           CAST(-j - 0.75 AS DOUBLE) AS geo_lon,
           CASE WHEN j >= 10 THEN 'n' || CAST(j AS VARCHAR) END AS note
    FROM range({_N_ROWS}) AS t(j)
    """,
    survey_ref="S1,S2,S3,P7,O4 (extract_load.py:24-101 paginated REST scan)",
)
def rest_ingest_dv3f(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_api(
        spark,
        "departement",
        "01",
        annee=None,  # pruned before it reaches the server (P7)
        ordering="annee",  # pushed to the server verbatim (O4)
        page_size=_PAGE_SIZE,
        fetch=_stub_fetch,
    )
    # json_normalize's dot-joined names, renamed only for oracle ergonomics
    return df.withColumnRenamed("geo.lat", "geo_lat").withColumnRenamed(
        "geo.lon", "geo_lon"
    )


@register(
    "rest_datasource_scan",
    oracle=f"""
    SELECT CAST(2000 + j AS VARCHAR) AS annee,
           '01' AS dep,
           CAST(10 * j + 0.5 AS DOUBLE) AS valeur,
           CAST(j + 0.25 AS DOUBLE) AS geo_lat
    FROM range({_N_ROWS}) AS t(j)
    """,
    survey_ref="S1 at scale: Spark 4 Python Data Source, one partition per page",
)
def rest_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executor-side ingestion (``format('rest_api')``): each server
    page is an input partition, replayed offline from scratch files —
    the same partition logic production uses against HTTP."""
    import json

    from ..ingest.datasource import RestApiDataSource

    root = scratch_dir("rest_datasource_scan")
    per_page = _N_ROWS // 3
    for page in (1, 2, 3):
        js = range((page - 1) * per_page, page * per_page)
        payload = {
            "count": _N_ROWS,
            "next": "more" if page < 3 else None,
            "results": [
                {
                    "annee": str(2000 + j),
                    "dep": "01",
                    "valeur": float(10 * j) + 0.5,
                    "geo": {"lat": float(j) + 0.25},
                }
                for j in js
            ],
        }
        with open(os.path.join(root, f"page-{page}.json"), "w") as fh:
            json.dump(payload, fh)

    spark.dataSource.register(RestApiDataSource)
    df = (
        spark.read.format("rest_api")
        .option("replay_dir", root)
        .option("pages", "3")
        .option("schema_ddl", "annee string, dep string, valeur double, `geo.lat` double")
        .load()
    )
    return df.withColumnRenamed("geo.lat", "geo_lat")


# ---------------------------------------------------------------- D1-D6

_PIPE_CONFIG = {"args": {"scope": {"departement": ["01", "02", "99"], "region": ["11"]}}}

# L2 — the staging schemas declared in reference-shaped YAML
# (ref config.yaml:16-119); parsed through the YAML → StructType path so
# the pipeline's upsert writes against the DECLARED schema, not whatever
# the batch happens to carry.
_METRIC_LINES = "\n".join(f"      {m}: double" for m in METRICS)
_SCHEMA_YAML = f"""
database: dev
tables:
  src_departement:
    primary_key: [uid]
    columns:
      uid: {{type: string, nullable: false}}
      annee: {{type: string, maxLength: 4}}
      dep: {{type: string, maxLength: 3}}
      libdep: string
      cod: string
{_METRIC_LINES}
  src_region:
    primary_key: [uid]
    columns:
      uid: {{type: string, nullable: false}}
      annee: {{type: string, maxLength: 4}}
      reg: {{type: string, maxLength: 2}}
      libreg: string
      cod: string
{_METRIC_LINES}
"""


def _pipe_fetch(url: str, params: dict) -> RestResponse:
    """Scope-aware stub; code '99' always fails (P8 isolation)."""
    if "/99/" in url:
        return RestResponse(500)
    code = url.rstrip("/").rsplit("/", 1)[-1]
    scope = "region" if "/regions/" in url else "departement"
    idv = (
        {"reg": code, "libreg": f"R{code}"}
        if scope == "region"
        else {"dep": code, "libdep": f"D{code}"}
    )
    rows = [
        {
            "annee": str(2014 + y),
            **idv,
            **{
                f"{m}_cod111": float(i + y + int(code)) + 0.25
                for i, m in enumerate(METRICS)
            },
        }
        for y in range(2)
    ]
    return RestResponse(200, {"count": len(rows), "next": None, "results": rows})


def _pipe_oracle_sql() -> str:
    cells = ",\n           ".join(
        f"CAST({i} + yy + CAST(code AS INTEGER) + 0.25 AS DOUBLE) AS {m}"
        for i, m in enumerate(METRICS)
    )
    return f"""
    WITH grid AS (
        SELECT s.scope, s.code, s.lib, y.annee, y.yy
        FROM (VALUES ('departement', '01', 'D01'),
                     ('departement', '02', 'D02'),
                     ('region', '11', 'R11')) AS s(scope, code, lib)
        CROSS JOIN (VALUES ('2014', 0), ('2015', 1)) AS y(annee, yy)
    )
    SELECT sha256(concat(annee, code, '111')) AS uid,
           annee, scope, code, lib, '111' AS cod,
           {cells}
    FROM grid
    """


@register(
    "pipeline_etl_replay",
    oracle=_pipe_oracle_sql(),
    survey_ref="D1,D2,D3,D4,D5,D6,P8,L2 (etl.py:13-70 config fan-out w/ isolation)",
)
def pipeline_etl_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = scratch_dir("pipeline_etl_replay")
    paths = {
        "departement": os.path.join(root, "src_departement"),
        "region": os.path.join(root, "src_region"),
    }
    declared = schemas_from_yaml(_SCHEMA_YAML)
    schemas = {
        "departement": declared["src_departement"],
        "region": declared["src_region"],
    }
    run_pipeline(spark, _PIPE_CONFIG, paths, METRICS, _pipe_fetch, schemas=schemas)
    # re-run: the keyed upsert makes the whole job idempotent, so the
    # driver's value hash doubles as the idempotence proof
    run_pipeline(spark, _PIPE_CONFIG, paths, METRICS, _pipe_fetch, schemas=schemas)

    def shaped(df: DataFrame, scope: str, code_col: str, lib_col: str) -> DataFrame:
        return df.select(
            "uid",
            "annee",
            F.lit(scope).alias("scope"),
            F.col(code_col).alias("code"),
            F.col(lib_col).alias("lib"),
            "cod",
            *METRICS,
        )

    dep = shaped(read_parquet(spark, paths["departement"]), "departement", "dep", "libdep")
    reg = shaped(read_parquet(spark, paths["region"]), "region", "reg", "libreg")
    return dep.unionByName(reg)


# ------------------------------------------------------------------- S7

_DBF_FIELDS = [
    ("insee", "C", 5, 0),
    ("libelle", "C", 12, 0),
    ("pop", "N", 8, 0),
    ("area", "N", 8, 2),
    ("created", "D", 8, 0),
    ("active", "L", 1, 0),
]

# (deleted?, raw fixed-width cell strings) — blanks decode to NULL
_DBF_RECORDS = [
    (False, ["01001", "Abergement", "776", "15.95", "20230101", "T"]),
    (False, ["2A004", "Ajaccio", "71361", "82.03", "20230215", "F"]),
    (True, ["99999", "Ghost", "1", "1.00", "20230101", "T"]),  # soft-deleted
    (False, ["97101", "Abymes", "", "", "", "?"]),
]


def _write_dbf(path: str) -> None:
    """Synthesize a minimal dBase III file (public layout spec)."""
    record_len = 1 + sum(f[2] for f in _DBF_FIELDS)
    header_len = 32 + 32 * len(_DBF_FIELDS) + 1
    head = bytearray(32)
    head[0] = 0x03
    struct.pack_into("<I", head, 4, len(_DBF_RECORDS))
    struct.pack_into("<H", head, 8, header_len)
    struct.pack_into("<H", head, 10, record_len)
    out = bytes(head)
    for name, ftype, length, dec in _DBF_FIELDS:
        d = bytearray(32)
        d[:11] = name.encode("ascii").ljust(11, b"\x00")
        d[11] = ord(ftype)
        d[16] = length
        d[17] = dec
        out += bytes(d)
    out += b"\x0d"
    for deleted, vals in _DBF_RECORDS:
        rec = b"*" if deleted else b" "
        for (name, ftype, length, dec), v in zip(_DBF_FIELDS, vals):
            rec += v.encode("cp1252").ljust(length)[:length]
        out += rec
    out += b"\x1a"
    with open(path, "wb") as fh:
        fh.write(out)


@register(
    "dbf_commune",
    oracle="""
    SELECT * FROM (VALUES
        ('01001', 'Abergement', CAST(776 AS BIGINT), CAST(15.95 AS DOUBLE),
         DATE '2023-01-01', TRUE),
        ('2A004', 'Ajaccio', CAST(71361 AS BIGINT), CAST(82.03 AS DOUBLE),
         DATE '2023-02-15', FALSE),
        ('97101', 'Abymes', CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
         CAST(NULL AS DATE), CAST(NULL AS BOOLEAN))
    ) AS t(insee, libelle, pop, area, created, active)
    """,
    survey_ref="S7 (ressources/v_commune_2023.dbf commune enrichment table)",
)
def dbf_commune(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = os.path.join(scratch_dir("dbf_commune"), "v_commune.dbf")
    _write_dbf(path)
    return read_dbf(spark, path)


def _commune_enrich_oracle() -> str:
    return f"""
    WITH dv3f AS ({_dv3f_oracle_sql()}),
    commune AS (
        SELECT * FROM (VALUES
            ('01001', 'Abergement', CAST(776 AS BIGINT)),
            ('2A004', 'Ajaccio', CAST(71361 AS BIGINT)),
            ('97101', 'Abymes', CAST(NULL AS BIGINT))
        ) AS t(insee, commune, pop)
    )
    SELECT d.uid, d.annee, d.dep, d.libdep, d.cod, d.nbtrans,
           c.insee, c.commune, c.pop
    FROM dv3f d
    JOIN commune c ON substr(c.insee, 1, 2) = d.dep
    """


@register(
    "commune_enrichment",
    oracle=_commune_enrich_oracle(),
    survey_ref=(
        "S7 enrichment join (ressources/v_commune_2023.dbf "
        "→ normalized DV3F dep codes; ref .MISSING_LARGE_BLOBS:2)"
    ),
)
def commune_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-enrich normalized DV3F rows with commune attributes.

    The commune dimension comes through the real DBF read path
    (synthesized file → :func:`..io.dbf.read_dbf`), its department code
    derived from the INSEE code prefix; the fact side is the reference's
    normalize chain output. Inner join: departments without a commune
    row drop out, matching the enrichment-join semantics the reference's
    stripped ``v_commune_2023.dbf`` implies.
    """
    path = os.path.join(scratch_dir("commune_enrichment"), "v_commune.dbf")
    _write_dbf(path)
    commune = read_dbf(spark, path).select(
        "insee",
        F.col("libelle").alias("commune"),
        "pop",
        F.substring("insee", 1, 2).alias("dep"),
    )
    norm = normalize_dv3f(spark, sf_dir)
    return norm.join(F.broadcast(commune), "dep").select(
        "uid", "annee", "dep", "libdep", "cod", "nbtrans",
        "insee", "commune", "pop",
    )
