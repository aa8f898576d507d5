"""REST API source (S1), JSON flatten (S2), empty/error guards (S3),
request-param pruning (P7) and ordering pushdown (O4).

Re-creates ``dv3f.get_data`` (``/root/reference/scripts/extract_load.py:24-101``)
Spark-first:

- the endpoint is chosen by scope (``region``/``reg`` vs
  ``departement``/``dep``; anything else raises — extract_load.py:58-65);
- request params are pruned of falsy values before hitting the API
  (extract_load.py:76) — the source-side analog of predicate pushdown;
- HTTP != 200 and "200 but zero results" both raise
  (extract_load.py:80-101);
- nested JSON records flatten to dot-joined columns
  (``pd.json_normalize`` semantics, extract_load.py:90-91);
- pagination (DRF-style ``count``/``next``/``results`` envelopes) loops
  server pages; the rows of all pages are concatenated on the driver
  under the union of their keys (first-seen order, absent keys NULL),
  so column drift across pages cannot break the batch.

The HTTP layer is INJECTABLE (``fetch=``): tests and replays substitute
a stub; production uses the urllib default. The fetch happens on the
driver — correct at any scale, because the API (not Spark) is the
bottleneck. The rows are already on the driver, so they enter Spark as
ONE Arrow table per code: under
``spark.sql.execution.arrow.localRelationThreshold`` that is a JVM
``LocalRelation``, which the stages reading it scan without a Python
worker. For a truly huge external source this becomes a
Python Data Source (``spark.dataSource.register``) with per-partition
page ranges — same interface, different executor placement.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

DEFAULT_BASE_URL = "https://apidf-preprod.cerema.fr/indicateurs/dv3f"

_SCOPE_PATH = {
    "region": "regions",
    "reg": "regions",
    "departement": "departements",
    "dep": "departements",
}


class RestApiError(ValueError):
    """Raised on HTTP failure or an empty result set (S3)."""


@dataclass
class RestResponse:
    status_code: int
    payload: dict = field(default_factory=dict)


FetchFn = Callable[[str, dict], RestResponse]


def build_endpoint(scope: str, code: str, base_url: str = DEFAULT_BASE_URL) -> str:
    """Scope-dispatched endpoint (ref extract_load.py:58-65)."""
    try:
        path = _SCOPE_PATH[scope]
    except KeyError:
        raise ValueError(
            "Invalid scope value. Valid values are 'region' or 'departement'."
        ) from None
    return f"{base_url}/{path}/annuel/{code}/"


def prune_params(params: dict[str, Any]) -> dict[str, Any]:
    """P7 — drop falsy params so they never reach the API
    (ref extract_load.py:76)."""
    return {k: v for k, v in params.items() if v}


def flatten_record(rec: dict, prefix: str = "") -> dict:
    """S2 — ``pd.json_normalize`` semantics: nested objects flatten to
    dot-joined keys; lists stay as values."""
    out: dict[str, Any] = {}
    for k, v in rec.items():
        key = f"{prefix}{k}"
        if isinstance(v, dict):
            out.update(flatten_record(v, f"{key}."))
        else:
            out[key] = v
    return out


def default_http_fetch(url: str, params: dict) -> RestResponse:  # pragma: no cover
    """Production fetcher (urllib; no extra dependencies)."""
    import urllib.parse
    import urllib.request

    qs = urllib.parse.urlencode(params)
    full = f"{url}?{qs}" if qs else url
    try:
        with urllib.request.urlopen(full, timeout=30) as resp:
            return RestResponse(resp.status, json.loads(resp.read().decode("utf-8")))
    except urllib.error.HTTPError as e:
        return RestResponse(e.code)


def paginate(
    fetch: FetchFn,
    endpoint: str,
    params: dict[str, Any],
    max_pages: int = 10_000,
) -> Iterator[list[dict]]:
    """Yield per-page flattened record lists until the server reports no
    next page (or returns an empty page). Guards (S3):

    - non-200 → RestApiError;
    - first page 200-but-empty → RestApiError (ref: "La requête a
      abouti mais le contenu est vide" + raise);
    - later empty page → stop (server exhausted).
    """
    page = params.get("page") or 1
    for i in range(max_pages):
        q = prune_params({**params, "page": page if (i or params.get("page")) else None})
        resp = fetch(endpoint, q)
        if resp.status_code != 200:
            raise RestApiError(
                f"request failed with status code {resp.status_code} ({endpoint})"
            )
        results = resp.payload.get("results", [])
        if not results:
            if i == 0:
                raise RestApiError(f"request succeeded but returned no rows ({endpoint})")
            return
        yield [flatten_record(r) for r in results]
        if resp.payload.get("next") is None:
            return
        page += 1


def _arrow_column(values: list) -> pa.Array:
    """One column of JSON values as Arrow. All-NULL → void; int mixed
    with float → double. Values Arrow cannot type together (a string
    beside a number) become their JSON text, as Spark widens a
    string/number union to string."""
    try:
        return pa.array(values)
    except pa.ArrowException:
        return pa.array(
            [v if v is None or isinstance(v, str) else json.dumps(v) for v in values],
            pa.string(),
        )


def read_api(
    spark: SparkSession,
    scope: str,
    code: str,
    annee: int | str | None = None,
    ordering: str | None = None,
    page: int | None = None,
    page_size: int | None = None,
    fetch: FetchFn = default_http_fetch,
    base_url: str = DEFAULT_BASE_URL,
) -> DataFrame:
    """S1 — paginated REST scan → one DataFrame.

    The rows of every page are concatenated under the union of their
    keys (first-seen order, absent keys NULL) and handed to Spark as one
    Arrow table, which it plans as a JVM ``LocalRelation`` that no
    Python worker scans. ``ordering`` is pushed to the server verbatim
    (O4); ``annee`` is a source-side filter (the param-pushdown analog
    of P5).
    """
    endpoint = build_endpoint(scope, code, base_url)
    params = prune_params(
        {"annee": annee, "ordering": ordering, "page": page, "page_size": page_size}
    )
    rows = [r for recs in paginate(fetch, endpoint, params) for r in recs]
    keys = list(dict.fromkeys(k for r in rows for k in r))
    return spark.createDataFrame(
        pa.table({k: _arrow_column([r.get(k) for r in rows]) for k in keys})
    )
