"""REST ingestion (S1-S3, P7, O4) with a stubbed fetcher, including the
full fetch → normalize → upsert replay (idempotent end-to-end)."""

from __future__ import annotations

import os

import pytest

from automate_data_ingestion_project_spark.analytics.dv3f import (
    ID_VARS,
    METRICS,
    UID_COLS,
)
from automate_data_ingestion_project_spark.analytics.load import scratch_dir
from automate_data_ingestion_project_spark.ingest.rest import (
    RestApiError,
    RestResponse,
    build_endpoint,
    flatten_record,
    prune_params,
    read_api,
)
from automate_data_ingestion_project_spark.io.sink import read_parquet, upsert_parquet
from automate_data_ingestion_project_spark.operators.reshape import normalize_wide


class StubFetcher:
    """Records calls; serves canned DRF-style paginated payloads."""

    def __init__(self, pages, status_code=200):
        self.pages = pages
        self.status_code = status_code
        self.calls = []

    def __call__(self, url, params):
        self.calls.append((url, dict(params)))
        if self.status_code != 200:
            return RestResponse(self.status_code)
        idx = params.get("page", 1) - 1
        if idx >= len(self.pages):
            return RestResponse(200, {"count": 0, "next": None, "results": []})
        results = self.pages[idx]
        nxt = "next-url" if idx + 1 < len(self.pages) else None
        return RestResponse(
            200, {"count": sum(map(len, self.pages)), "next": nxt, "results": results}
        )


def test_build_endpoint_scope_dispatch():
    assert build_endpoint("region", "11").endswith("/regions/annuel/11/")
    assert build_endpoint("dep", "01").endswith("/departements/annuel/01/")
    with pytest.raises(ValueError, match="Invalid scope"):
        build_endpoint("pays", "1")


def test_prune_params_drops_falsy():
    assert prune_params({"annee": 2020, "ordering": None, "page": 0, "x": ""}) == {
        "annee": 2020
    }


def test_flatten_record_nested():
    assert flatten_record({"a": 1, "b": {"c": 2, "d": {"e": 3}}}) == {
        "a": 1,
        "b.c": 2,
        "b.d.e": 3,
    }


def test_pagination_unions_pages_with_column_drift(spark):
    fetcher = StubFetcher(
        [
            [{"annee": "2014", "dep": "01", "v": 1.0}],
            [{"annee": "2015", "dep": "01", "v": 2.0, "extra": 9.0}],
        ]
    )
    df = read_api(spark, "departement", "01", annee=2014, fetch=fetcher)
    rows = sorted(df.collect(), key=lambda r: r.annee)
    assert len(rows) == 2
    assert rows[0].extra is None  # key absent on page 1 → NULL
    # ordering param pruned (None), annee pushed (P7/O4)
    assert all("ordering" not in p for _, p in fetcher.calls)
    assert fetcher.calls[0][1]["annee"] == 2014
    assert fetcher.calls[1][1]["page"] == 2


def test_multi_page_scan_is_one_local_relation(spark):
    """All pages enter Spark as ONE Arrow-backed LocalRelation: no
    per-page Python-RDD scan (LogicalRDD) for later stages to pay for."""
    fetcher = StubFetcher([[{"annee": str(2014 + p), "v": float(p)}] for p in range(3)])
    df = read_api(spark, "departement", "01", fetch=fetcher)
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan
    assert "LogicalRDD" not in plan
    assert df.count() == 3


def test_all_null_column_on_one_page(spark):
    """Row-wise type inference cannot type a page whose column is NULL
    on every row (CANNOT_DETERMINE_TYPE); the code must still load."""
    fetcher = StubFetcher(
        [
            [{"annee": "2014", "v": 1.0, "note": None}],
            [{"annee": "2015", "v": None, "note": None}],
        ]
    )
    df = read_api(spark, "departement", "01", fetch=fetcher)
    rows = sorted(df.collect(), key=lambda r: r.annee)
    assert [(r.annee, r.v, r.note) for r in rows] == [
        ("2014", 1.0, None),
        ("2015", None, None),
    ]
    assert dict(df.dtypes)["v"] == "double"


@pytest.mark.parametrize(
    "values, dtype, expected",
    [
        ([[1], [2.5]], "double", [1.0, 2.5]),
        # the string widening a string/number unionByName applies
        ([["s"], [2.5, None]], "string", ["s", "2.5", None]),
    ],
)
def test_type_drift_across_pages_widens(spark, values, dtype, expected):
    pages, n = [], 0
    for page in values:
        pages.append([{"annee": str(2014 + n + k), "v": v} for k, v in enumerate(page)])
        n += len(page)
    df = read_api(spark, "departement", "01", fetch=StubFetcher(pages))
    assert dict(df.dtypes)["v"] == dtype
    assert [r.v for r in sorted(df.collect(), key=lambda r: r.annee)] == expected


def test_nested_record_flows_through_normalize_wide(spark):
    """Flattened nested objects give dotted column names (``geo.lat``);
    the melt must take them as literal names, not struct access."""
    metric = METRICS[0]
    fetcher = StubFetcher(
        [
            [
                {
                    "annee": "2014",
                    "dep": "01",
                    "libdep": "Ain",
                    "geo": {"lat": 46.1, "lon": 5.3},
                    f"{metric}_cod111": 7.5,
                }
            ]
        ]
    )
    wide = read_api(spark, "departement", "01", fetch=fetcher)
    assert {"geo.lat", "geo.lon"} <= set(wide.columns)
    rows = normalize_wide(wide, ID_VARS, METRICS, UID_COLS).collect()
    assert len(rows) == 1
    row = rows[0].asDict()
    assert (row["dep"], row["cod"], row[metric]) == ("01", "111", 7.5)


def test_empty_first_page_raises(spark):
    with pytest.raises(RestApiError, match="no rows"):
        read_api(spark, "region", "11", fetch=StubFetcher([[]]))


def test_http_error_raises(spark):
    with pytest.raises(RestApiError, match="status code 500"):
        read_api(spark, "region", "11", fetch=StubFetcher([], status_code=500))


def test_fetch_normalize_upsert_replay_is_idempotent(spark):
    """The reference's full ETL on a canned payload: extract (stubbed
    HTTP) → reshape transform → keyed upsert, run twice."""
    payload = [
        {
            "annee": "2014",
            "dep": "01",
            "libdep": "Ain",
            **{f"{m}_cod111": float(i) + 0.5 for i, m in enumerate(METRICS)},
        },
        {
            "annee": "2015",
            "dep": "02",
            "libdep": "Aisne",
            **{f"{m}_cod121": float(i) + 1.5 for i, m in enumerate(METRICS)},
        },
    ]
    fetcher = StubFetcher([payload])
    path = os.path.join(scratch_dir("test_rest_replay"), "src_departement")

    def run():
        wide = read_api(spark, "departement", "01", fetch=fetcher)
        table = normalize_wide(wide, ID_VARS, METRICS, UID_COLS)
        upsert_parquet(spark, table, path, keys=["uid"])
        return sorted(map(tuple, read_parquet(spark, path).collect()))

    first = run()
    second = run()
    assert first == second
    assert len(first) == 2
    uids = {t[0] for t in first}
    assert len(uids) == 2 and all(len(u) == 64 for u in uids)
