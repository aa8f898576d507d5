"""Orchestration (D1-D6): config fan-out, per-code error isolation,
per-scope union, schema-reconciled upsert, idempotent re-run."""

from __future__ import annotations

import os

from automate_data_ingestion_project_spark.analytics.dv3f import METRICS
from automate_data_ingestion_project_spark.analytics.load import scratch_dir
from automate_data_ingestion_project_spark.ingest.rest import RestResponse
from automate_data_ingestion_project_spark.pipeline import (
    load_pipeline_config,
    run_pipeline,
)

CONFIG_YAML = """
args:
  scope:
    departement: ["01", "02", "99"]
    region: ["11"]
"""


class ScopedStub:
    """Per-(scope-path, code) canned payloads; code '99' always 500s."""

    def __call__(self, url, params):
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
                **{f"{m}_cod111": float(i + y) + 0.25 for i, m in enumerate(METRICS)},
            }
            for y in range(2)
        ]
        return RestResponse(200, {"count": len(rows), "next": None, "results": rows})


def test_pipeline_isolates_failures_and_upserts_per_scope(spark):
    cfg = load_pipeline_config(CONFIG_YAML)
    root = scratch_dir("test_pipeline")
    paths = {
        "departement": os.path.join(root, "src_departement"),
        "region": os.path.join(root, "src_region"),
    }
    reports = {r.scope: r for r in run_pipeline(spark, cfg, paths, METRICS, ScopedStub())}

    dep = reports["departement"]
    assert dep.codes_ok == ["01", "02"]
    assert set(dep.codes_failed) == {"99"}  # one bad code didn't kill the batch
    assert "500" in dep.codes_failed["99"]
    assert dep.rows_upserted == 4  # 2 codes × 2 years × 1 cod

    reg = reports["region"]
    assert reg.codes_ok == ["11"] and not reg.codes_failed
    assert reg.rows_upserted == 2

    dep_rows = spark.read.parquet(paths["departement"]).collect()
    assert {r.dep for r in dep_rows} == {"01", "02"}
    assert all(r.cod == "111" and len(r.uid) == 64 for r in dep_rows)

    # D-layer idempotence: the whole pipeline re-run changes nothing
    before = sorted(map(tuple, dep_rows))
    run_pipeline(spark, cfg, paths, METRICS, ScopedStub())
    after = sorted(map(tuple, spark.read.parquet(paths["departement"]).collect()))
    assert after == before


def test_pipeline_all_codes_failing_writes_nothing(spark):
    cfg = load_pipeline_config("args:\n  scope:\n    departement: ['99']\n")
    root = scratch_dir("test_pipeline_allfail")
    paths = {"departement": os.path.join(root, "src_departement")}
    reports = run_pipeline(spark, cfg, paths, METRICS, ScopedStub())
    assert reports[0].codes_failed and not reports[0].codes_ok
    assert reports[0].rows_upserted == 0
    assert not os.path.isdir(paths["departement"])


class NullColumnStub(ScopedStub):
    """Code '03' serves a second page whose metric column is NULL on
    every row — a page type inference alone cannot type."""

    def __call__(self, url, params):
        if "/03/" not in url:
            return super().__call__(url, params)
        m = METRICS[0]
        row = {"dep": "03", "libdep": "D03"}
        pages = [
            [{**row, "annee": "2014", f"{m}_cod111": 1.5}],
            [{**row, "annee": "2015", f"{m}_cod111": None, f"{m}_cod121": 2.5}],
        ]
        page = params.get("page", 1)
        nxt = "next-url" if page < len(pages) else None
        return RestResponse(200, {"count": 2, "next": nxt, "results": pages[page - 1]})


def test_pipeline_loads_code_with_all_null_column_page(spark):
    cfg = load_pipeline_config("args:\n  scope:\n    departement: ['01', '03']\n")
    root = scratch_dir("test_pipeline_null_column")
    paths = {"departement": os.path.join(root, "src_departement")}
    (report,) = run_pipeline(spark, cfg, paths, METRICS, NullColumnStub())
    assert report.codes_ok == ["01", "03"] and not report.codes_failed
    rows = spark.read.parquet(paths["departement"]).filter("dep = '03'").collect()
    got = sorted((r.annee, r.cod, r[METRICS[0]]) for r in rows)
    assert got == [("2014", "111", 1.5), ("2015", "121", 2.5)]
    assert report.rows_upserted == 2 + 2  # code 01: 2 years × 1 cod
