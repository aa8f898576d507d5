"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from the run's
``--seed``: the sf0.1-sized warehouse tables, the document corpus, the
DV3F stub server the ingest pipeline fetches from, and the near-dup
op stream. The same seed gives byte-identical inputs; the table sizes
and value distributions follow the fixture layout the registered
queries were written against (uniform keys, two-decimal prices, a
30-word document vocabulary with 5% planted " dup" copies).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "documents": 5_000,
}

DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

_PART_ADJ = "large small red hot new old cold big".split()
_PART_NOUN = "ring bolt anvil rod plate nut gear pin".split()
_PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent deterministic stream per (seed, purpose)."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng, start: str, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _doc_text(rng: np.random.Generator, vocab: list[str], n_words: int) -> str:
    return " ".join(vocab[i] for i in rng.integers(0, len(vocab), n_words))


def warehouse_tables(seed: int) -> dict[str, pa.Table]:
    """The eight TPC-H-ish tables at sf0.1 row counts."""
    r = SF01_ROWS
    g = rng_for(seed, "warehouse")
    n_li, n_o, n_c, n_p, n_s = (
        r["lineitem"], r["orders"], r["customer"], r["part"], r["supplier"]
    )
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": g.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": _cents(g, -999.99, 9999.99, n_c),
        "c_mktsegment": np.array(_SEGMENTS)[g.integers(0, 5, n_c)],
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": g.integers(0, 25, n_s).astype(np.int32),
        "s_acctbal": _cents(g, -999.99, 9999.99, n_s),
    })
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    part = pa.table({
        "p_partkey": np.arange(n_p, dtype=np.int64),
        "p_name": names[g.integers(0, len(names), n_p)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            g.integers(0, 25, n_p)
        ],
        "p_type": np.array(_PART_TYPES)[g.integers(0, 6, n_p)],
        "p_size": g.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_p) % 1000) / 10.0,
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": g.integers(0, n_c, n_o).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[g.integers(0, 3, n_o)],
        "o_totalprice": _cents(g, 1000.0, 500000.0, n_o),
        "o_orderdate": _days(g, "1995-01-01", 2405, n_o),
        "o_orderpriority": np.array(_PRIORITIES)[g.integers(0, 5, n_o)],
    })
    qty = g.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": g.integers(0, n_o, n_li).astype(np.int64),
        "l_partkey": g.integers(0, n_p, n_li).astype(np.int64),
        "l_suppkey": g.integers(0, n_s, n_li).astype(np.int64),
        "l_linenumber": g.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": _cents(g, 900.0, 105000.0, n_li),
        "l_discount": g.integers(0, 11, n_li) / 100.0,
        "l_tax": g.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["N", "R", "A"])[g.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[g.integers(0, 2, n_li)],
        "l_shipdate": _days(g, "1995-01-02", 2499, n_li),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem,
    }


def documents_table(seed: int, n: int = SF01_ROWS["documents"]) -> pa.Table:
    """Corpus: 10-100 words from the fixed 30-word vocabulary; every
    20th doc (on average) is an earlier doc's text plus " dup"."""
    g = rng_for(seed, "documents")
    texts: list[str] = []
    for i in range(n):
        if i > 0 and g.random() < 0.05:
            texts.append(texts[int(g.integers(0, i))] + " dup")
        else:
            texts.append(_doc_text(g, DOC_VOCAB, int(g.integers(10, 101))))
    return pa.table({"doc_id": np.arange(n, dtype=np.int64), "text": texts})


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# DV3F ingest: a DRF-style paginated stub server and the run schedule


DV3F_METRICS = [
    "nbtrans", "valeurfonc_sum", "valeurfonc_q25", "valeurfonc_median",
    "valeurfonc_q75", "pxm2_q25", "pxm2_median", "pxm2_q75", "sbati_sum",
    "sbati_median",
]
DV3F_CODS = ["111", "121"]
# served on even pages only: the column the pipeline must union in
# with ``allowMissingColumns`` (NULL where a page omits it)
PARTIAL_COLUMN = "sbati_median_cod121"


# Traffic of one scheduled run, scaled down from the reference work-list
# (101 departement codes per run) by 1/SCALE so that the benchmark's runs
# fit their time budget: one run at this size takes ~6.5 s at local[4]. Each
# code serves YEARS annual rows in pages of PAGE_SIZE, so every run
# carries CODES_PER_RUN x PAGES_PER_CODE pages and shows the per-page
# cost of the union and upsert.
REFERENCE_CODES = 101
SCALE = 50
CODES_PER_RUN = round(REFERENCE_CODES / SCALE)
YEARS = [str(y) for y in range(2010, 2023)]
PAGE_SIZE = 5
PAGES_PER_CODE = -(-len(YEARS) // PAGE_SIZE)
N_FAILING = 2  # planted HTTP-500 codes, one of them in every run


@dataclass
class IngestPlan:
    """The scheduled runs: which departement codes each run fetches and
    which codes the server fails with HTTP 500.

    Run k > 0 fetches ``CODES_PER_RUN`` good codes, a window sliding by
    one over a pool one code larger (so run k+1 re-fetches all but one
    of run k's codes and every upserted row replaces an existing key),
    plus one planted failing code."""

    seed: int
    pool: list[str]
    failing: list[str]

    @classmethod
    def make(cls, seed: int) -> "IngestPlan":
        g = rng_for(seed, "ingest_plan")
        n_pool = CODES_PER_RUN + 1
        picked = [f"{c:02d}" for c in g.choice(np.arange(1, 96), n_pool + N_FAILING,
                                                replace=False)]
        return cls(seed=seed, pool=sorted(picked[:n_pool]), failing=sorted(picked[n_pool:]))

    def codes_for_run(self, k: int) -> list[str]:
        n = len(self.pool)
        codes = [self.pool[(k + i) % n] for i in range(CODES_PER_RUN)]
        codes.insert(k % (CODES_PER_RUN + 1), self.failing[k % N_FAILING])
        return codes

    def first_run_codes(self) -> list[str]:
        """Run 0 fetches the whole pool, so the table is full from the
        first timed run on."""
        return [*self.pool, self.failing[0]]

    @staticmethod
    def rows_per_run() -> int:
        return CODES_PER_RUN * len(YEARS) * len(DV3F_CODS)


def _cell(seed: int, run: int, code: str, annee: str, cod: str, metric: str):
    """Deterministic served value; ``nbtrans`` is a count, the rest are
    quarter-unit doubles (exact in binary, so no float noise)."""
    h = hashlib.blake2b(
        f"{seed}|{run}|{code}|{annee}|{cod}|{metric}".encode(), digest_size=8
    ).digest()
    x = int.from_bytes(h, "little")
    if metric == "nbtrans":
        return x % 5000
    return (x % 40_000_000) / 4.0


class StubServer:
    """In-process DRF-style server passed to the pipeline as ``fetch=``.

    Serves ``{"count", "next", "previous", "results"}`` envelopes of
    flat wide records (``annee``, ``dep``, ``libdep`` and one
    ``<metric>_cod<K>`` cell per metric and code); ``PARTIAL_COLUMN``
    is left out of odd pages. Records carry no nested objects: the
    pipeline flattens them to dot-joined column names, which
    ``normalize_wide`` cannot resolve. Responses are serialized to JSON
    and parsed back, so the pipeline receives exactly what a wire would
    carry; ``bytes_served`` counts the JSON bytes and ``wait_s`` the
    time spent inside the server."""

    def __init__(self, plan: IngestPlan):
        self.plan = plan
        self.run = 0
        self.bytes_served = 0
        self.pages_served = 0
        self.records_served = 0
        self.wait_s = 0.0

    def page(self, run: int, code: str, page: int) -> dict:
        results = []
        for annee in YEARS[(page - 1) * PAGE_SIZE: page * PAGE_SIZE]:
            rec = {"annee": annee, "dep": code, "libdep": f"Departement {code}"}
            for k in DV3F_CODS:
                for m in DV3F_METRICS:
                    rec[f"{m}_cod{k}"] = _cell(self.plan.seed, run, code, annee, k, m)
            if page % 2:
                del rec[PARTIAL_COLUMN]
            results.append(rec)
        return {
            "count": len(YEARS),
            "next": f"?page={page + 1}" if page < PAGES_PER_CODE else None,
            "previous": f"?page={page - 1}" if page > 1 else None,
            "results": results,
        }

    def __call__(self, url: str, params: dict):
        from automate_data_ingestion_project_spark.ingest.rest import RestResponse

        t0 = time.perf_counter()
        code = url.rstrip("/").rsplit("/", 1)[-1]
        if code in self.plan.failing:
            resp = RestResponse(500)
        else:
            body = json.dumps(self.page(self.run, code, int(params.get("page", 1))))
            self.bytes_served += len(body.encode())
            self.pages_served += 1
            payload = json.loads(body)
            self.records_served += len(payload["results"])
            resp = RestResponse(200, payload)
        self.wait_s += time.perf_counter() - t0
        return resp


def uid(annee: str, dep: str, cod: str) -> str:
    """The pipeline's key: sha256 over the no-separator concat of
    ``SCOPE_UID_COLS['departement']`` = (annee, dep, cod)."""
    return hashlib.sha256(f"{annee}{dep}{cod}".encode()).hexdigest()


class ExpectedTable:
    """Model of ``src_departement`` after each run: latest served value
    per uid. Rows are ``(uid, annee, dep, libdep, cod, *metrics)``."""

    def __init__(self, plan: IngestPlan):
        self.plan = plan
        self.rows: dict[str, tuple] = {}

    @staticmethod
    def columns() -> list[str]:
        return ["uid", "annee", "dep", "libdep", "cod", *DV3F_METRICS]

    def apply_run(self, server: StubServer, run: int, codes: list[str]) -> None:
        for code in codes:
            if code in self.plan.failing:
                continue
            for page in range(1, PAGES_PER_CODE + 1):
                for rec in server.page(run, code, page)["results"]:
                    for k in DV3F_CODS:
                        vals = [rec.get(f"{m}_cod{k}") for m in DV3F_METRICS]
                        key = uid(rec["annee"], rec["dep"], k)
                        self.rows[key] = (key, rec["annee"], rec["dep"],
                                          rec["libdep"], k, *vals)


# ---------------------------------------------------------------------------
# Near-dup corpus maintenance op stream


def fresh_vocab(seed: int, n: int = 4000) -> list[str]:
    g = rng_for(seed, "fresh_vocab")
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = {"".join(letters[g.integers(0, 26, int(g.integers(5, 9)))])
             for _ in range(n)}
    return sorted(words)


@dataclass
class CorpusOp:
    kind: str  # "ingest" | "delete" | "compact"
    docs: list[tuple[int, str]] = field(default_factory=list)
    expected_dup: dict[int, bool] = field(default_factory=dict)
    delete_ids: list[int] = field(default_factory=list)


class CorpusModel:
    """Generates the op stream and tracks the live corpus it implies.

    The stream repeats ``CYCLE``, one round of the timed loop: mostly
    batch ingests, with one takedown and one compaction, so those two
    show in the tail and the median is an ingest. A planted edit replaces the
    first or last token of a live document of at least
    ``MIN_EDIT_WORDS`` words, so exactly one 3-word shingle changes and
    its Jaccard to the source stays >= 0.95: the index must flag it
    (the chance that all 8 LSH bands miss is below 1e-6). A fresh
    document is drawn from a vocabulary disjoint from the corpus's, so
    it shares no shingle with anything and must be accepted."""

    MIN_EDIT_WORDS = 50
    CYCLE = ("ingest", "ingest", "delete", "ingest", "compact")
    BATCH_DOCS = 40  # per ingest, half of them planted edits
    DELETE_N = 10  # docs per takedown

    def __init__(self, seed: int, texts: dict[int, str]):
        self.g = rng_for(seed, "corpus_ops")
        self.vocab = fresh_vocab(seed)
        self.live = dict(texts)
        self.next_id = 1_000_000
        self.k = 0

    def _editable(self) -> list[int]:
        return sorted(i for i, t in self.live.items()
                      if t.count(" ") + 1 >= self.MIN_EDIT_WORDS)

    def next_op(self) -> CorpusOp:
        kind = self.CYCLE[self.k % len(self.CYCLE)]
        self.k += 1
        if kind == "compact":
            return CorpusOp("compact")
        if kind == "delete":
            ids = sorted(self.live)
            pick = self.g.choice(len(ids), self.DELETE_N, replace=False)
            gone = sorted(ids[i] for i in pick)
            for i in gone:
                del self.live[i]
            return CorpusOp("delete", delete_ids=gone)
        editable = self._editable()
        op = CorpusOp("ingest")
        for j in range(self.BATCH_DOCS):
            doc_id = self.next_id
            self.next_id += 1
            if j < self.BATCH_DOCS // 2:
                words = self.live[editable[int(self.g.integers(0, len(editable)))]].split(" ")
                pos = 0 if self.g.random() < 0.5 else len(words) - 1
                words[pos] = self.vocab[int(self.g.integers(0, len(self.vocab)))]
                op.docs.append((doc_id, " ".join(words)))
                op.expected_dup[doc_id] = True
            else:
                text = _doc_text(self.g, self.vocab, int(self.g.integers(30, 81)))
                op.docs.append((doc_id, text))
                op.expected_dup[doc_id] = False
                self.live[doc_id] = text
        order = self.g.permutation(len(op.docs))
        op.docs = [op.docs[i] for i in order]
        return op
