"""Product-quantization ANN (`ann_pq_topk`) — the memory-bound member
of the similarity stack (exact / LSH / IVF / multiprobe / PQ / recall).

PQ (Jégou et al., "Product Quantization for Nearest Neighbor Search",
TPAMI 2011) splits each D-dim vector into M subvectors, quantizes each
subspace against its own K-entry codebook, and answers queries with
ASYMMETRIC DISTANCE COMPUTATION: per query, precompute the M×K table of
(query-subvector → centroid) distances once, then score every candidate
with M table LOOKUPS instead of D multiply-adds. At 100 TB that turns
the scan from compute-bound (D=64 float ops/vector) into memory-bound
(M=4 lookups over a 64-bit code), is why it composes under IVF
(`analytics/ivf.py` prunes cells, PQ scores the survivors), and shrinks
the resident index 64× (4 bytes/code vs 256 bytes/vector).

Determinism (what makes the full value-hash oracle possible):

- the codebook is RELATIONAL, not trained: centroid j of subspace s is
  the s-th subvector of the vector with ``vec_id = j`` (a deterministic
  sample both engines derive from the same table). Production trains it
  with k-means (`analytics/centroids.kmeans_step` is the update rule) —
  codebook quality moves RECALL, never the ADC mechanics checked here;
- every distance is a squared-L2 fold, strict left-to-right over the
  16-dim subspace, double accumulation — bit-identical in DuckDB
  (``list_reduce``) as proven for the cosine folds;
- encoding argmin is a TOTAL order (distance, then centroid id), so
  equidistant centroids can't flap the code;
- the ADC sum adds the M=4 per-subspace lookups in fixed textual order
  (a pivot, not a groupBy-SUM whose partial order Spark may permute).

Plan shape: codebook (M·K = 64 rows) and the per-query LUT (Q·M·K =
320 rows) broadcast; candidates shuffle once for the per-(vector,
subspace) argmin and once for the per-(query, vector) 4-row pivot; the
final top-k is a per-query window over Q·N scored rows. No Python
anywhere; no join wider than the broadcast LUT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from .ivf import N_PROBE as _IVF_N_PROBE
from .registry import register
from .similarity import QUERY_IDS, TOP_K

M = 4  # subspaces
SUBDIM = 16  # dims per subspace (D = 64)
KPQ = 16  # centroids per subspace
CODEBOOK_IDS = list(range(KPQ))  # deterministic codebook sample

_QIDS = ", ".join(str(i) for i in QUERY_IDS)
_CBIDS = ", ".join(str(i) for i in CODEBOOK_IDS)


def _sqdist_sql(a: str, b: str, dialect: str = "spark") -> str:
    """Strict left-fold squared-L2 over a subvector, double accumulation
    — the PQ analog of :func:`..textops.similarity.dot_sql`."""
    if dialect == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> "
            f"(cast(x as double) - cast(y as double)) * "
            f"(cast(x as double) - cast(y as double))), "
            f"cast(0 as double), (acc, v) -> acc + v)"
        )
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) * "
        f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))), "
        f"(acc, x) -> acc + x)"
    )


def _pq_oracle() -> str:
    adc_terms = " + ".join(
        f"MAX(CASE WHEN c.s = {s} THEN l.qd END)" for s in range(M)
    )
    return f"""
    WITH subs AS (
        SELECT vec_id, CAST(s AS INTEGER) AS s,
               list_slice(embedding, s * {SUBDIM} + 1, (s + 1) * {SUBDIM})
                   AS subvec
        FROM embeddings, (SELECT unnest(range(0, {M})) AS s)
    ),
    cb AS (
        SELECT s, CAST(vec_id AS INTEGER) AS j, subvec AS cvec
        FROM subs WHERE vec_id IN ({_CBIDS})
    ),
    dists AS (
        SELECT c.vec_id, c.s, b.j,
               {_sqdist_sql('c.subvec', 'b.cvec', 'duckdb')} AS d
        FROM subs c JOIN cb b USING (s)
    ),
    codes AS (
        SELECT vec_id, s, j AS code
        FROM (
            SELECT vec_id, s, j,
                   row_number() OVER (
                       PARTITION BY vec_id, s ORDER BY d, j) AS rn
            FROM dists
        ) WHERE rn = 1
    ),
    lut AS (
        SELECT vec_id AS query_id, s, j, d AS qd
        FROM dists WHERE vec_id IN ({_QIDS})
    ),
    adc AS (
        SELECT l.query_id, c.vec_id, {adc_terms} AS adist
        FROM codes c JOIN lut l ON c.s = l.s AND c.code = l.j
        GROUP BY l.query_id, c.vec_id
    ),
    ranked AS (
        SELECT query_id, vec_id, adist,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY adist, vec_id
               ) AS INTEGER) AS rnk
        FROM adc WHERE query_id != vec_id
    )
    SELECT query_id, vec_id, adist, rnk FROM ranked WHERE rnk <= {TOP_K}
    """


def pq_dists(emb: DataFrame) -> DataFrame:
    """(vec_id, s, j, d): squared-L2 from every vector's every subvector
    to every centroid of that subspace — the one relation both the
    encoder (argmin over j) and the query LUT (filter to query ids)
    slice from. Persisted here (both consumers reuse one computation);
    M·K rows per vector.
    """
    subs = emb.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice("embedding", s * SUBDIM + 1, SUBDIM)
                    for s in range(M)
                ]
            )
        ).alias("s", "subvec"),
    )
    cb = subs.filter(F.col("vec_id").isin(CODEBOOK_IDS)).select(
        "s", F.col("vec_id").cast("int").alias("j"), F.col("subvec").alias("cvec")
    )
    from ..operators.caching import tracked_persist

    return tracked_persist(
        subs.join(F.broadcast(cb), "s").select(
            "vec_id",
            "s",
            "j",
            F.expr(_sqdist_sql("subvec", "cvec")).alias("d"),
        )
    )


def pq_codes(dists: DataFrame) -> DataFrame:
    """(vec_id, s, code): per-(vector, subspace) argmin under the
    (d, j) TOTAL order — one aggregate, no window."""
    return (
        dists.groupBy("vec_id", "s")
        .agg(F.min(F.struct("d", "j")).alias("m"))
        .select("vec_id", "s", F.col("m.j").alias("code"))
    )


def pq_lut(dists: DataFrame) -> DataFrame:
    """(query_id, s, j, qd): the per-query ADC lookup table — just the
    query rows of the dists relation, Q·M·K rows, always broadcast."""
    return dists.filter(F.col("vec_id").isin(QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), "s", "j", F.col("d").alias("qd")
    )


def _adc_from_joined(joined: DataFrame) -> DataFrame:
    """(query_id, vec_id, adist) from a (vec_id, query_id, s, qd)
    lookup relation — THE one place the M-term ADC addition happens,
    via a pivot so it adds in fixed column order (a plain SUM's
    partial-agg order is not guaranteed bit-stable). Both the pure-PQ
    and the IVF-PQ paths route through here, which is what keeps their
    arithmetic bit-identical on shared candidates."""
    adc = (
        joined.groupBy("vec_id", "query_id")
        .pivot("s", list(range(M)))
        .agg(F.first("qd"))
    )
    adist = sum((F.col(str(s)) for s in range(1, M)), F.col("0"))
    return adc.select("query_id", "vec_id", adist.alias("adist"))


def adc_scores(codes: DataFrame, lut: DataFrame) -> DataFrame:
    """(query_id, vec_id, adist): M lookups per (query, vector) over
    the FULL corpus (every code row matches every query's LUT)."""
    joined = codes.join(
        F.broadcast(lut),
        (codes["s"] == lut["s"]) & (codes["code"] == lut["j"]),
    ).select(
        codes["vec_id"], lut["query_id"], codes["s"].alias("s"), lut["qd"]
    )
    return _adc_from_joined(joined)


def _rank_adc(scored: DataFrame, extra_cols: list[str] | None = None) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy("adist", "vec_id")
    cols = ["query_id", "vec_id", "adist", "rnk", *(extra_cols or [])]
    return (
        scored.filter(F.col("query_id") != F.col("vec_id"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(*cols)
    )


@register(
    "ann_pq_topk",
    oracle=_pq_oracle(),
    survey_ref="similarity search: product-quantization ADC top-k (memory-bound scale path)",
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC approximate top-k over the WHOLE corpus (see module
    docstring for the determinism contract)."""
    emb = load_table(spark, sf_dir, "embeddings")
    dists = pq_dists(emb)
    return _rank_adc(adc_scores(pq_codes(dists), pq_lut(dists)))


def _ivfpq_oracle(n_probe: int = 1) -> str:
    from ..textops.similarity import dot_sql, norm_sql
    from .ivf import N_CELLS

    adc_terms = " + ".join(
        f"MAX(CASE WHEN c.s = {s} THEN l.qd END)" for s in range(M)
    )
    if n_probe == 1:
        # byte-identical to the historical single-probe oracle: the
        # query's cell comes straight from the top-1 assignment
        qcell_sql = f"""qcell AS (
        SELECT vec_id AS query_id, cell FROM assigned
        WHERE vec_id IN ({_QIDS})
    ),"""
    else:
        # multiprobe: the QUERY fans out to its top-n cells (FAISS's
        # nprobe); candidates stay in their single home cell, so the
        # probe join still yields each (query, candidate) pair once
        qcell_sql = f"""qcell AS (
        SELECT vec_id AS query_id, cell FROM (
            SELECT b.vec_id, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY {dot_sql("b.embedding", "c.c_emb", "duckdb")} DESC,
                                c.cell
                   ) AS _r
            FROM base b CROSS JOIN centroids c
            WHERE b.vec_id IN ({_QIDS})
        ) WHERE _r <= {n_probe}
    ),"""
    return f"""
    WITH base AS (
        SELECT vec_id, embedding, {norm_sql("embedding", "duckdb")} AS nrm
        FROM embeddings
    ),
    centroids AS (
        SELECT vec_id AS cell, embedding AS c_emb FROM base
        WHERE vec_id < {N_CELLS}
    ),
    assigned AS (
        SELECT vec_id, cell FROM (
            SELECT b.vec_id, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY {dot_sql("b.embedding", "c.c_emb", "duckdb")} DESC,
                                c.cell
                   ) AS _r
            FROM base b CROSS JOIN centroids c
        ) WHERE _r = 1
    ),
    {qcell_sql}
    cand AS (
        SELECT q.query_id, a.vec_id
        FROM qcell q JOIN assigned a USING (cell)
        WHERE q.query_id != a.vec_id
    ),
    ncand AS (
        SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_candidates
        FROM cand GROUP BY 1
    ),
    subs AS (
        SELECT vec_id, CAST(s AS INTEGER) AS s,
               list_slice(embedding, s * {SUBDIM} + 1, (s + 1) * {SUBDIM})
                   AS subvec
        FROM embeddings, (SELECT unnest(range(0, {M})) AS s)
    ),
    cb AS (
        SELECT s, CAST(vec_id AS INTEGER) AS j, subvec AS cvec
        FROM subs WHERE vec_id IN ({_CBIDS})
    ),
    dists AS (
        SELECT c.vec_id, c.s, b.j,
               {_sqdist_sql('c.subvec', 'b.cvec', 'duckdb')} AS d
        FROM subs c JOIN cb b USING (s)
    ),
    codes AS (
        SELECT vec_id, s, j AS code
        FROM (
            SELECT vec_id, s, j,
                   row_number() OVER (
                       PARTITION BY vec_id, s ORDER BY d, j) AS rn
            FROM dists
        ) WHERE rn = 1
    ),
    lut AS (
        SELECT vec_id AS query_id, s, j, d AS qd
        FROM dists WHERE vec_id IN ({_QIDS})
    ),
    adc AS (
        SELECT l.query_id, c.vec_id, {adc_terms} AS adist
        FROM cand x
        JOIN codes c ON x.vec_id = c.vec_id
        JOIN lut l ON l.query_id = x.query_id
                  AND c.s = l.s AND c.code = l.j
        GROUP BY l.query_id, c.vec_id
    ),
    ranked AS (
        SELECT a.query_id, a.vec_id, a.adist, n.n_candidates,
               CAST(row_number() OVER (
                   PARTITION BY a.query_id ORDER BY a.adist, a.vec_id
               ) AS INTEGER) AS rnk
        FROM adc a JOIN ncand n USING (query_id)
    )
    SELECT query_id, vec_id, adist, rnk, n_candidates
    FROM ranked WHERE rnk <= {TOP_K}
    """


@register(
    "ann_ivfpq_topk",
    oracle=_ivfpq_oracle(),
    survey_ref="similarity search: IVF coarse quantizer + PQ ADC (the composed production index)",
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FAISS-style IVF-PQ composition — the shape a real 100 TB
    vector store runs: the IVF coarse quantizer prunes the search to
    the query's cell (`analytics/ivf.py`; at scale the table is
    partition-pruned on ``cell`` at the parquet scan), and PQ/ADC
    scores ONLY the surviving cell-mates with M table lookups each
    instead of full-precision cosine. Sub-linear candidate generation ×
    memory-bound scoring — each half is oracle-checked alone
    (`ann_ivf_topk`, `ann_pq_topk`); this query checks the
    COMPOSITION, including `n_candidates` so the pruning factor is
    visible next to the result.
    """
    scored = _ivfpq_adc_scores(spark, sf_dir)
    return _rank_adc(scored, extra_cols=["n_candidates"])


def _ivfpq_adc_scores(
    spark: SparkSession, sf_dir: str, n_probe: int = 1
) -> DataFrame:
    """(query_id, vec_id, adist, n_candidates): the IVF-PQ composed
    scoring stage — cell-pruned candidate generation + ADC — shared by
    the plain top-k and the refined top-k. ``n_probe > 1`` fans the
    QUERY out to its top-n cells (FAISS's nprobe); candidates keep
    their single home cell, so each (query, candidate) pair still
    arises exactly once and the candidate pool grows ~n_probe-fold —
    at 100 TB the cost is n_probe partition-pruned scans, never a
    corpus pass."""
    from ..textops.similarity import norm_sql
    from ..operators.caching import tracked_persist
    from .ivf import N_CELLS, assign_cells

    emb = load_table(spark, sf_dir, "embeddings")
    embn = emb.select(
        "vec_id", "embedding", F.expr(norm_sql("embedding")).alias("nrm")
    )
    centroids = embn.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("c_emb")
    )
    assigned = tracked_persist(
        assign_cells(embn, centroids).select("vec_id", "cell")
    )
    if n_probe == 1:
        qcell = assigned.filter(F.col("vec_id").isin(QUERY_IDS)).select(
            F.col("vec_id").alias("query_id"), "cell"
        )
    else:
        qcell = assign_cells(
            embn.filter(F.col("vec_id").isin(QUERY_IDS)),
            centroids,
            n_probe=n_probe,
        ).select(F.col("vec_id").alias("query_id"), "cell")
    cand = (
        qcell.join(assigned, "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id")
    )
    ncand = cand.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_candidates")
    )
    dists = pq_dists(emb)
    codes = pq_codes(dists)
    lut = (
        pq_lut(dists)
        .withColumnRenamed("query_id", "l_qid")
        .withColumnRenamed("s", "l_s")
        .withColumnRenamed("j", "l_j")
    )
    joined = (
        cand.join(codes, "vec_id")
        .join(
            F.broadcast(lut),
            (F.col("query_id") == F.col("l_qid"))
            & (F.col("s") == F.col("l_s"))
            & (F.col("code") == F.col("l_j")),
        )
        .select("vec_id", "query_id", "s", "qd")
    )
    return _adc_from_joined(joined).join(F.broadcast(ncand), "query_id")


def _exact_l2_oracle() -> str:
    return f"""
    SELECT query_id, vec_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id,
               CAST(row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_sqdist_sql('q.embedding', 'c.embedding', 'duckdb')},
                            c.vec_id
               ) AS INTEGER) AS rnk
        FROM (SELECT * FROM embeddings WHERE vec_id IN ({_QIDS})) q
        CROSS JOIN embeddings c
        WHERE q.vec_id != c.vec_id
    ) WHERE rnk <= {TOP_K}
    """


def _pq_recall_oracle() -> str:
    return f"""
    WITH ex AS ({_exact_l2_oracle()}),
    pq AS (SELECT query_id, vec_id FROM ({_pq_oracle()}) p),
    hit AS (
        SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM ex JOIN pq ON ex.query_id = pq.query_id
                       AND ex.vec_id = pq.vec_id
        GROUP BY 1
    )
    SELECT q.query_id,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {TOP_K} AS recall_at_k
    FROM (SELECT DISTINCT query_id FROM ex) q
    LEFT JOIN hit h USING (query_id)
    """


@register(
    "ann_pq_recall_eval",
    oracle=_pq_recall_oracle(),
    survey_ref="similarity search: recall@k of the PQ tier vs exact L2 ground truth",
)
def ann_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the PQ/ADC tier against the exact squared-L2 ground
    truth (the metric PQ approximates — cosine ground truth would
    conflate metric mismatch with quantization loss). With the
    deterministic untrained codebook this number is the FLOOR a trained
    codebook must beat; the eval harness is the deliverable, same
    contract as `ann_recall_eval` for the LSH tier.

    Scale shape: ground truth is the brute-force scan (run once per
    eval batch, not per production query); the comparison operates on
    two Q·k relations — driver-trivial at any corpus size.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select("vec_id", F.col("embedding").alias("c_emb"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.expr(_sqdist_sql("q_emb", "c_emb")).alias("l2d"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("l2d", "vec_id")
    exact = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "vec_id")
    )
    pq = ann_pq_topk(spark, sf_dir).select("query_id", "vec_id")
    hits = (
        pq.join(exact, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            (
                F.coalesce("n_hits", F.lit(0)).cast("double") / TOP_K
            ).alias("recall_at_k"),
        )
    )


# ---- incremental IVF-PQ ingest (frozen coarse + PQ codebooks) -------------


def ivfpq_store_paths(root: str) -> tuple[str, str]:
    """(codes_dir, ledger_dir) under an incremental IVF-PQ store root —
    the same beside-the-data ledger layout every maintained store here
    uses."""
    import os

    return os.path.join(root, "codes"), os.path.join(root, "ledger")


def _codebook_subs(emb: DataFrame) -> DataFrame:
    """(s, j, cvec): the frozen PQ codebook's per-subspace centroids —
    derived once from the codebook sample rows; batches encode against
    THIS relation, never against their own rows (a batch need not
    contain any codebook id)."""
    return (
        emb.filter(F.col("vec_id").isin(CODEBOOK_IDS))
        .select(
            F.col("vec_id").cast("int").alias("j"),
            F.posexplode(
                F.array(
                    *[
                        F.slice("embedding", s * SUBDIM + 1, SUBDIM)
                        for s in range(M)
                    ]
                )
            ).alias("s", "cvec"),
        )
        .select("s", "j", "cvec")
    )


def encode_pq_batch(batch: DataFrame, codebook_subs: DataFrame) -> DataFrame:
    """(vec_id, codes array<int>): PQ-encode a vector batch against the
    frozen codebook — per-subspace squared-L2 argmin under the (d, j)
    total order, codes packed positionally (codes[s] = nearest centroid
    of subspace s). One broadcast join + one aggregate; M·K rows per
    vector in flight, M ints per vector at rest — the 100 TB trade PQ
    exists for (64 float dims → 4 bytes here; real deployments M=64+)."""
    subs = batch.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice("embedding", s * SUBDIM + 1, SUBDIM)
                    for s in range(M)
                ]
            )
        ).alias("s", "subvec"),
    )
    dists = subs.join(F.broadcast(codebook_subs), "s").select(
        "vec_id", "s", "j", F.expr(_sqdist_sql("subvec", "cvec")).alias("d")
    )
    per_sub = (
        dists.groupBy("vec_id", "s")
        .agg(F.min(F.struct("d", "j")).alias("m"))
        .select("vec_id", "s", F.col("m.j").alias("code"))
    )
    return per_sub.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("s", "code"))),
            lambda x: x.code,
        ).alias("codes")
    )


def append_ivfpq_batch(
    spark: SparkSession,
    vectors: DataFrame,
    centroids: DataFrame,
    codebook_subs: DataFrame,
    root: str,
    batch_seq: int,
) -> None:
    """Incremental IVF-PQ index maintenance — FAISS's ``add()`` on a
    trained IVFPQ index, relationally: each batch's vectors are
    coarse-quantized against the frozen IVF centroids AND PQ-encoded
    against the frozen subspace codebooks, and ONLY ``(vec_id, codes,
    cell)`` rows land in the store — the raw embeddings are never
    stored, which is the point of the composed index at 100 TB (M
    small ints per vector instead of D floats; the store IS the codes).

    Durability: the generic unordered ledger protocol
    (:func:`..io.maintenance.append_store_batch`) — batches are
    independent because both quantizers are frozen, a replayed
    committed batch is a no-op, an empty batch commits ``(batch_seq,
    0)``, crash retries self-heal their own leaves, and ``cell`` leads
    the partition spec so ADC candidate scans stay partition-pruned
    over the growing store."""
    from ..io.maintenance import append_store_batch
    from ..textops.similarity import norm_sql
    from .ivf import assign_cells

    codes_path, ledger_path = ivfpq_store_paths(root)
    sized = vectors.select(
        "vec_id", "embedding", F.expr(norm_sql("embedding")).alias("nrm")
    )
    cells = assign_cells(sized, centroids).select("vec_id", "cell")
    rows = encode_pq_batch(vectors, codebook_subs).join(cells, "vec_id")
    append_store_batch(
        spark,
        codes_path,
        ledger_path,
        rows,
        batch_seq,
        key_col="cell",
        sort_col="vec_id",
        count_col="n_vectors",
    )


def _ivfpq_ingest_oracle() -> str:
    """The IVF-PQ oracle extended with per-query n_batches over the
    candidate set (batch membership = the vec_id % 3 split) — derived
    from :func:`_ivfpq_oracle` so the ADC arithmetic can never drift
    between the build-once and ingest forms."""
    base = _ivfpq_oracle()
    nb_cte = """    nb AS (
        SELECT query_id,
               CAST(COUNT(DISTINCT CASE WHEN vec_id % 3 = 0 THEN 1 ELSE 0
                    END) AS BIGINT) AS n_batches
        FROM cand GROUP BY 1
    ),
    subs AS ("""
    assert "    subs AS (" in base
    out = base.replace("    subs AS (", nb_cte, 1)
    old_final = f"""    SELECT query_id, vec_id, adist, rnk, n_candidates
    FROM ranked WHERE rnk <= {TOP_K}"""
    new_final = f"""    SELECT r.query_id, r.vec_id, r.adist, r.rnk, r.n_candidates,
           nb.n_batches
    FROM ranked r JOIN nb USING (query_id)
    WHERE r.rnk <= {TOP_K}"""
    assert old_final in out
    return out.replace(old_final, new_final, 1)


def pq_query_lut(query_emb: DataFrame, codebook_subs: DataFrame) -> DataFrame:
    """(query_id, s, j, qd): the per-query ADC lookup table computed
    directly from the query vectors against the frozen codebook —
    Q·M·K rows, always broadcast; never touches the corpus (the codes
    store holds no raw embeddings to recompute from)."""
    subs = query_emb.select(
        F.col("vec_id").alias("query_id"),
        F.posexplode(
            F.array(
                *[
                    F.slice("embedding", s * SUBDIM + 1, SUBDIM)
                    for s in range(M)
                ]
            )
        ).alias("s", "subvec"),
    )
    return subs.join(F.broadcast(codebook_subs), "s").select(
        "query_id", "s", "j", F.expr(_sqdist_sql("subvec", "cvec")).alias("qd")
    )


def _search_codes_store(
    store: DataFrame, emb: DataFrame, cb_subs: DataFrame
) -> DataFrame:
    """ADC top-k over an appended codes-only store (the shared output
    shape of the batch IVF-PQ ingest replay and its streaming twin):
    probe-cell discovery, partition-pruned candidate scan, positional
    code explode, LUT from the query vectors, pivot-ordered ADC, plus
    per-query n_batches proving candidate lists span the appends."""
    from .ivf import _probed_cells
    from ..operators.caching import tracked_persist

    qcell = store.filter(F.col("vec_id").isin(QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), "cell"
    )
    cand = store.filter(F.col("cell").isin(_probed_cells(qcell))).select(
        "vec_id", "codes", "batch_seq", "cell"
    )
    pairs = tracked_persist(
        qcell.join(cand, "cell").filter(F.col("query_id") != F.col("vec_id"))
    )
    ncand = pairs.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_candidates")
    )
    nb = pairs.groupBy("query_id").agg(
        F.countDistinct("batch_seq").alias("n_batches")
    )
    exploded = pairs.select(
        "query_id", "vec_id", F.posexplode("codes").alias("s", "code")
    )
    lut = (
        pq_query_lut(emb.filter(F.col("vec_id").isin(QUERY_IDS)), cb_subs)
        .withColumnRenamed("query_id", "l_qid")
        .withColumnRenamed("s", "l_s")
        .withColumnRenamed("j", "l_j")
    )
    joined = exploded.join(
        F.broadcast(lut),
        (F.col("query_id") == F.col("l_qid"))
        & (F.col("s") == F.col("l_s"))
        & (F.col("code") == F.col("l_j")),
    ).select("vec_id", "query_id", "s", "qd")
    scored = (
        _adc_from_joined(joined)
        .join(F.broadcast(ncand), "query_id")
        .join(F.broadcast(nb), "query_id")
    )
    return _rank_adc(scored, extra_cols=["n_candidates", "n_batches"])


@register(
    "ann_ivfpq_ingest_replay",
    oracle=_ivfpq_ingest_oracle(),
    survey_ref="similarity search: incremental IVF-PQ ingest (codes-only store, frozen quantizers)",
)
def ann_ivfpq_ingest_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-batch incremental IVF-PQ build, then ADC search over the
    APPENDED codes-only store — FAISS's train-once / add-forever
    contract end-to-end: batch 0 (vec_id % 3 != 0) seeds the store,
    batch 1 is appended against the SAME frozen coarse centroids and PQ
    codebooks, batch 0 is replayed (no-op), and the search reads ONLY
    (vec_id, codes, cell) rows — the store never holds a raw embedding,
    which is the composed index's reason to exist at 100 TB (M ints per
    vector at rest; the query's own vectors supply the LUT). The
    candidate scan partition-prunes on the probed cells; ADC hash-
    matches the from-scratch oracle, and ``n_batches = 2`` rows prove
    the inverted lists span both appends."""
    from .ivf import N_CELLS
    from .load import scratch_dir
    from ..operators.caching import tracked_persist

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = emb.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("c_emb")
    )
    cb_subs = tracked_persist(_codebook_subs(emb))
    root = scratch_dir("ann_ivfpq_ingest_replay")
    b0 = emb.filter(F.col("vec_id") % 3 != 0)
    b1 = emb.filter(F.col("vec_id") % 3 == 0)
    append_ivfpq_batch(spark, b0, centroids, cb_subs, root, 0)
    append_ivfpq_batch(spark, b1, centroids, cb_subs, root, 1)
    append_ivfpq_batch(spark, b0, centroids, cb_subs, root, 0)  # replay

    codes_path, ledger_path = ivfpq_store_paths(root)
    # committed-read isolation: only ledger-committed generations are
    # visible (pure PartitionFilters prune), so a racing crashed
    # appender's orphan leaves can never leak into the candidate scan
    from ..io.maintenance import read_committed

    return _search_codes_store(
        read_committed(spark, codes_path, ledger_path), emb, cb_subs
    )


@register(
    "stream_ann_ivfpq_ingest_replay",
    oracle=_ivfpq_ingest_oracle(),
    survey_ref="streaming: continuous IVF-PQ index maintenance (foreachBatch, full oracle)",
)
def stream_ann_ivfpq_ingest_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME two-batch IVF-PQ ingest, driven by Structured
    Streaming: the batches land as embedding files, drained one
    micro-batch each, ``foreachBatch`` running :func:`append_ivfpq_batch`
    with the epoch id as the batch sequence
    (:func:`..streaming.ivf.stream_ivfpq_ingest`). Hash-matches the
    identical oracle as :func:`ann_ivfpq_ingest_replay` — the streaming
    drain is code-for-code equivalent to the batch append and to a
    from-scratch encode."""
    import os

    from .ivf import N_CELLS
    from .load import scratch_dir
    from ..operators.caching import tracked_persist
    from ..streaming.ivf import stream_ivfpq_ingest

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = emb.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("c_emb")
    )
    cb_subs = tracked_persist(_codebook_subs(emb))
    root = scratch_dir("stream_ann_ivfpq_ingest_replay")
    src = os.path.join(root, "incoming")
    emb.filter(F.col("vec_id") % 3 != 0).coalesce(1).write.parquet(
        os.path.join(src, "batch1")
    )
    emb.filter(F.col("vec_id") % 3 == 0).coalesce(1).write.parquet(
        os.path.join(src, "batch2")
    )
    t0 = os.stat(os.path.join(src, "batch1")).st_mtime
    for sub, off in (("batch1", 0), ("batch2", 60)):
        for walk_root, _, files in os.walk(os.path.join(src, sub)):
            for f in files:
                p = os.path.join(walk_root, f)
                os.utime(p, (t0 + off, t0 + off))
    store = stream_ivfpq_ingest(
        spark,
        os.path.join(src, "*"),
        centroids,
        cb_subs,
        os.path.join(root, "store"),
        os.path.join(root, "ckpt"),
    )
    return _search_codes_store(store, emb, cb_subs)


SHORTLIST = 20  # ADC shortlist size feeding the exact refine stage


def _refined_oracle() -> str:
    return f"""
    WITH subs AS (
        SELECT vec_id, CAST(s AS INTEGER) AS s,
               list_slice(embedding, s * {SUBDIM} + 1, (s + 1) * {SUBDIM})
                   AS subvec
        FROM embeddings, (SELECT unnest(range(0, {M})) AS s)
    ),
    cb AS (
        SELECT s, CAST(vec_id AS INTEGER) AS j, subvec AS cvec
        FROM subs WHERE vec_id IN ({_CBIDS})
    ),
    dists AS (
        SELECT c.vec_id, c.s, b.j,
               {_sqdist_sql('c.subvec', 'b.cvec', 'duckdb')} AS d
        FROM subs c JOIN cb b USING (s)
    ),
    codes AS (
        SELECT vec_id, s, j AS code
        FROM (
            SELECT vec_id, s, j,
                   row_number() OVER (
                       PARTITION BY vec_id, s ORDER BY d, j) AS rn
            FROM dists
        ) WHERE rn = 1
    ),
    lut AS (
        SELECT vec_id AS query_id, s, j, d AS qd
        FROM dists WHERE vec_id IN ({_QIDS})
    ),
    adc AS (
        SELECT l.query_id, c.vec_id,
               {" + ".join(f"MAX(CASE WHEN c.s = {s} THEN l.qd END)" for s in range(M))}
                   AS adist
        FROM codes c JOIN lut l ON c.s = l.s AND c.code = l.j
        GROUP BY l.query_id, c.vec_id
    ),
    shortlist AS (
        SELECT query_id, vec_id, adist FROM (
            SELECT query_id, vec_id, adist,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY adist, vec_id
                   ) AS arnk
            FROM adc WHERE query_id != vec_id
        ) WHERE arnk <= {SHORTLIST}
    ),
    refined AS (
        SELECT s.query_id, s.vec_id, s.adist,
               {_sqdist_sql('q.embedding', 'c.embedding', 'duckdb')} AS l2_dist
        FROM shortlist s
        JOIN embeddings q ON q.vec_id = s.query_id
        JOIN embeddings c ON c.vec_id = s.vec_id
    )
    SELECT query_id, vec_id, adist, l2_dist, rnk FROM (
        SELECT query_id, vec_id, adist, l2_dist,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY l2_dist, vec_id
               ) AS INTEGER) AS rnk
        FROM refined
    ) WHERE rnk <= {TOP_K}
    """


@register(
    "ann_pq_refined_topk",
    oracle=_refined_oracle(),
    survey_ref="similarity search: ADC shortlist + exact refine (FAISS IndexRefineFlat)",
)
def ann_pq_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage search — PQ/ADC produces a SHORTLIST (top-20 by
    approximate distance), then the EXACT squared-L2 is recomputed for
    shortlist members only and the final top-k is ranked by it: FAISS's
    ``IndexRefineFlat``, the standard production recall repair (ADC's
    quantization error re-orders near-ties; the refine step fixes the
    head of the list at the cost of Q·SHORTLIST full-precision
    distances instead of Q·N).

    Scale shape: the shortlist is Q·SHORTLIST rows — broadcast — so the
    refine join-back to the corpus is a semi-join point-lookup on
    ``vec_id`` (at 100 TB: a row-group-pruned scan of only the
    shortlisted vectors, never a corpus pass), and the ADC stage is the
    already-audited :func:`ann_pq_topk` machinery."""
    emb = load_table(spark, sf_dir, "embeddings")
    dists = pq_dists(emb)
    codes = pq_codes(dists)
    lut = pq_lut(dists)
    scored = adc_scores(codes, lut)
    w = Window.partitionBy("query_id").orderBy("adist", "vec_id")
    shortlist = (
        scored.filter(F.col("query_id") != F.col("vec_id"))
        .withColumn("arnk", F.row_number().over(w))
        .filter(F.col("arnk") <= SHORTLIST)
        .select("query_id", "vec_id", "adist")
    )
    q_emb = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    ).filter(F.col("query_id").isin(QUERY_IDS))
    refined = (
        F.broadcast(shortlist)
        .join(emb, "vec_id")
        .join(F.broadcast(q_emb), "query_id")
        .withColumn("l2_dist", F.expr(_sqdist_sql("q_emb", "embedding")))
    )
    wr = Window.partitionBy("query_id").orderBy("l2_dist", "vec_id")
    return (
        refined.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "vec_id", "adist", "l2_dist", "rnk")
    )


@register(
    "ann_refined_recall_eval",
    oracle=f"""
    WITH ex AS ({_exact_l2_oracle()}),
    pq AS (SELECT query_id, vec_id FROM ({_pq_oracle()}) p),
    rf AS (SELECT query_id, vec_id FROM ({_refined_oracle()}) r),
    hit_pq AS (
        SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM ex JOIN pq ON ex.query_id = pq.query_id
                       AND ex.vec_id = pq.vec_id
        GROUP BY 1
    ),
    hit_rf AS (
        SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM ex JOIN rf ON ex.query_id = rf.query_id
                       AND ex.vec_id = rf.vec_id
        GROUP BY 1
    )
    SELECT q.query_id,
           CAST(COALESCE(p.n, 0) AS DOUBLE) / {TOP_K} AS recall_pq,
           CAST(COALESCE(r.n, 0) AS DOUBLE) / {TOP_K} AS recall_refined
    FROM (SELECT DISTINCT query_id FROM ex) q
    LEFT JOIN hit_pq p USING (query_id)
    LEFT JOIN hit_rf r USING (query_id)
    """,
    survey_ref="similarity search: recall@k of refine vs plain ADC (the refine stage's value, measured)",
)
def ann_refined_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@k of the plain ADC top-k AND the
    shortlist+refine top-k against the exact-L2 ground truth, side by
    side — the eval that justifies paying Q·SHORTLIST exact distances:
    refine can only help (its candidate pool contains the ADC top-k and
    it ranks by the true metric), and this row quantifies by how much
    on the fixture. Ground truth is one brute-force pass per eval
    batch; the comparison itself operates on Q·k relations."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select("vec_id", F.col("embedding").alias("c_emb"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.expr(_sqdist_sql("q_emb", "c_emb")).alias("l2d"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("l2d", "vec_id")
    exact = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "vec_id")
    )
    from ..operators.caching import tracked_persist

    exact = tracked_persist(exact)

    def hits(approx: DataFrame, name: str) -> DataFrame:
        return (
            approx.select("query_id", "vec_id")
            .join(exact, ["query_id", "vec_id"])
            .groupBy("query_id")
            .agg(F.count("*").cast("long").alias(name))
        )

    h_pq = hits(ann_pq_topk(spark, sf_dir), "n_pq")
    h_rf = hits(ann_pq_refined_topk(spark, sf_dir), "n_rf")
    return (
        exact.select("query_id")
        .distinct()
        .join(h_pq, "query_id", "left")
        .join(h_rf, "query_id", "left")
        .select(
            "query_id",
            (F.coalesce("n_pq", F.lit(0)).cast("double") / TOP_K).alias(
                "recall_pq"
            ),
            (F.coalesce("n_rf", F.lit(0)).cast("double") / TOP_K).alias(
                "recall_refined"
            ),
        )
    )


def _ivfpq_refined_oracle(n_probe: int = 1) -> str:
    """The IVF-PQ oracle's CTE chain up through ``adc``, then the
    shortlist + exact-L2 refine tail — the composed production search
    (prune cells → ADC → re-rank ≤SHORTLIST at full precision).
    ``n_probe`` parameterizes the coarse stage exactly as in
    :func:`_ivfpq_oracle`."""
    base = _ivfpq_oracle(n_probe)
    marker = "    ranked AS ("
    # same guard as the sibling delete-oracle string surgeries: a
    # reworded base oracle must fail loudly here, not silently produce
    # a malformed refined oracle
    assert base.count(marker) == 1, (
        f"IVF-PQ base oracle changed: expected exactly one {marker!r}, "
        f"found {base.count(marker)}"
    )
    head, _ = base.split(marker, 1)
    return head + f"""    shortlist AS (
        SELECT query_id, vec_id, adist FROM (
            SELECT query_id, vec_id, adist,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY adist, vec_id
                   ) AS arnk
            FROM adc
        ) WHERE arnk <= {SHORTLIST}
    ),
    refined AS (
        SELECT s.query_id, s.vec_id, s.adist,
               {_sqdist_sql('q.embedding', 'c.embedding', 'duckdb')} AS l2_dist
        FROM shortlist s
        JOIN embeddings q ON q.vec_id = s.query_id
        JOIN embeddings c ON c.vec_id = s.vec_id
    )
    SELECT query_id, vec_id, adist, l2_dist, rnk FROM (
        SELECT query_id, vec_id, adist, l2_dist,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY l2_dist, vec_id
               ) AS INTEGER) AS rnk
        FROM refined
    ) WHERE rnk <= {TOP_K}
    """


@register(
    "ann_ivfpq_refined_topk",
    oracle=_ivfpq_refined_oracle(),
    survey_ref="similarity search: IVF-PQ + exact refine (the full production ANN stack)",
)
def ann_ivfpq_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE production ANN stack in one query — what a 100 TB
    vector deployment actually runs (FAISS ``IndexIVFPQ`` wrapped in
    ``IndexRefineFlat``): the IVF coarse quantizer prunes the scan to
    the query's cell (partition pruning at the parquet scan), PQ/ADC
    scores the surviving cell-mates with M table lookups each, and the
    exact squared-L2 is recomputed ONLY for the top-``SHORTLIST``
    shortlist, which re-ranks the head of the list at full precision.
    Cost shape: sub-linear candidate generation × memory-bound ADC ×
    Q·SHORTLIST exact distances — never a full-precision corpus pass.
    Each stage is oracle-checked alone (``ann_ivf_topk``,
    ``ann_pq_topk``, ``ann_pq_refined_topk``); this row checks the
    three-stage composition end-to-end."""
    return _refined_ivfpq_topk(spark, sf_dir, n_probe=1)


def _refined_ivfpq_topk(
    spark: SparkSession, sf_dir: str, n_probe: int
) -> DataFrame:
    """The shared cell-prune → ADC → exact-refine pipeline behind the
    single-probe and multiprobe refined searches: shortlist the top
    ``SHORTLIST`` ADC candidates per query, recompute exact squared-L2
    for the shortlist only (broadcast — Q·SHORTLIST rows by
    construction), re-rank at full precision."""
    scored = _ivfpq_adc_scores(spark, sf_dir, n_probe=n_probe)
    w = Window.partitionBy("query_id").orderBy("adist", "vec_id")
    shortlist = (
        scored.withColumn("arnk", F.row_number().over(w))
        .filter(F.col("arnk") <= SHORTLIST)
        .select("query_id", "vec_id", "adist")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    q_emb = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    ).filter(F.col("query_id").isin(QUERY_IDS))
    refined = (
        F.broadcast(shortlist)
        .join(emb, "vec_id")
        .join(F.broadcast(q_emb), "query_id")
        .withColumn("l2_dist", F.expr(_sqdist_sql("q_emb", "embedding")))
    )
    wr = Window.partitionBy("query_id").orderBy("l2_dist", "vec_id")
    return (
        refined.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "vec_id", "adist", "l2_dist", "rnk")
    )


@register(
    "ann_ivfpq_multiprobe_refined_topk",
    oracle=_ivfpq_refined_oracle(n_probe=_IVF_N_PROBE),
    survey_ref="similarity search: multiprobe IVF-PQ + exact refine (nprobe on the full stack)",
)
def ann_ivfpq_multiprobe_refined_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The production stack with its RECALL KNOB engaged: identical to
    :func:`ann_ivfpq_refined_topk` except the coarse stage probes the
    query's top-``N_PROBE`` cells (FAISS's nprobe, already available
    one tier down in ``ann_ivf_multiprobe`` — here composed through ADC
    and the exact refine). The candidate pool roughly doubles and the
    coarse-stage recall CEILING can only rise (the pool is a strict
    superset); whether realized recall rises at a FIXED shortlist is an
    empirical trade — the extra pool also carries ADC-closer imposters
    that can evict true neighbors from the shortlist. Measured honestly
    by ``ann_ivfpq_multiprobe_recall_eval`` (see SCALE.md: on the iid
    fixtures the ceiling does not move and dilution costs a little; the
    knob pays on clustered corpora, which is why the composition ships
    with its eval attached)."""
    return _refined_ivfpq_topk(spark, sf_dir, n_probe=_IVF_N_PROBE)


@register(
    "ann_ivfpq_multiprobe_recall_eval",
    oracle=f"""
    WITH ex AS ({_exact_l2_oracle()}),
    rf1 AS (SELECT query_id, vec_id FROM ({_ivfpq_refined_oracle()}) a),
    rf2 AS (SELECT query_id, vec_id
            FROM ({_ivfpq_refined_oracle(n_probe=_IVF_N_PROBE)}) b),
    hit1 AS (
        SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM ex JOIN rf1 ON ex.query_id = rf1.query_id
                        AND ex.vec_id = rf1.vec_id
        GROUP BY 1
    ),
    hit2 AS (
        SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM ex JOIN rf2 ON ex.query_id = rf2.query_id
                        AND ex.vec_id = rf2.vec_id
        GROUP BY 1
    )
    SELECT q.query_id,
           CAST(COALESCE(h1.n, 0) AS DOUBLE) / {TOP_K}
               AS recall_refined_p1,
           CAST(COALESCE(h2.n, 0) AS DOUBLE) / {TOP_K}
               AS recall_refined_p{_IVF_N_PROBE}
    FROM (SELECT DISTINCT query_id FROM ex) q
    LEFT JOIN hit1 h1 USING (query_id)
    LEFT JOIN hit2 h2 USING (query_id)
    """,
    survey_ref="similarity search: recall@k lift of multiprobe over single-probe refined IVF-PQ",
)
def ann_ivfpq_multiprobe_recall_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-query recall@k of the refined IVF-PQ stack at n_probe=1 vs
    n_probe=N_PROBE against the exact-L2 ground truth, AT EQUAL
    SHORTLIST — the isolated effect of the nprobe knob on the composed
    search. Two forces, separable only by measuring: multiprobe can
    only RAISE the coarse-stage ceiling (a true neighbor in the
    second-nearest cell becomes reachable), but at a fixed shortlist
    the doubled pool also admits ADC-closer imposters that can evict
    true neighbors before the exact re-rank. On the iid fixtures the
    ceiling does not move (the home cell already holds the reachable
    neighbors) and the dilution term wins slightly — the honest
    negative recorded in SCALE.md, with the eval kept registered to
    re-decide on clustered corpora where the ceiling term dominates
    (the same discipline as the trained-vs-sampled coarse-codebook
    eval)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select("vec_id", F.col("embedding").alias("c_emb"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.expr(_sqdist_sql("q_emb", "c_emb")).alias("l2d"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("l2d", "vec_id")
    exact = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "vec_id")
    )
    from ..operators.caching import tracked_persist

    exact = tracked_persist(exact)

    def hits(approx: DataFrame, name: str) -> DataFrame:
        return (
            approx.select("query_id", "vec_id")
            .join(exact, ["query_id", "vec_id"])
            .groupBy("query_id")
            .agg(F.count("*").cast("long").alias(name))
        )

    h1 = hits(_refined_ivfpq_topk(spark, sf_dir, n_probe=1), "n1")
    h2 = hits(_refined_ivfpq_topk(spark, sf_dir, n_probe=_IVF_N_PROBE), "n2")
    return (
        exact.select("query_id")
        .distinct()
        .join(h1, "query_id", "left")
        .join(h2, "query_id", "left")
        .select(
            "query_id",
            (F.coalesce("n1", F.lit(0)).cast("double") / TOP_K).alias(
                "recall_refined_p1"
            ),
            (F.coalesce("n2", F.lit(0)).cast("double") / TOP_K).alias(
                f"recall_refined_p{_IVF_N_PROBE}"
            ),
        )
    )


@register(
    "ann_ivfpq_refined_recall_eval",
    oracle=f"""
    WITH ex AS ({_exact_l2_oracle()}),
    iq AS (SELECT query_id, vec_id FROM ({_ivfpq_oracle()}) p),
    rf AS (SELECT query_id, vec_id FROM ({_ivfpq_refined_oracle()}) r),
    hit_iq AS (
        SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM ex JOIN iq ON ex.query_id = iq.query_id
                       AND ex.vec_id = iq.vec_id
        GROUP BY 1
    ),
    hit_rf AS (
        SELECT ex.query_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM ex JOIN rf ON ex.query_id = rf.query_id
                       AND ex.vec_id = rf.vec_id
        GROUP BY 1
    )
    SELECT q.query_id,
           CAST(COALESCE(p.n, 0) AS DOUBLE) / {TOP_K} AS recall_ivfpq,
           CAST(COALESCE(r.n, 0) AS DOUBLE) / {TOP_K}
               AS recall_ivfpq_refined
    FROM (SELECT DISTINCT query_id FROM ex) q
    LEFT JOIN hit_iq p USING (query_id)
    LEFT JOIN hit_rf r USING (query_id)
    """,
    survey_ref="similarity search: recall@k of IVF-PQ+refine vs plain IVF-PQ (measured lift)",
)
def ann_ivfpq_refined_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@k of plain IVF-PQ and of IVF-PQ+refine against
    the exact-L2 ground truth, side by side. Within the cell-pruned
    candidate pool refine can only help (its shortlist contains the
    plain top-k and it ranks by the true metric); the pool itself caps
    both columns at the coarse quantizer's recall — so this row shows
    exactly which stage loses what, the number a production deployment
    tunes ``n_probe``/``SHORTLIST`` against."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select("vec_id", F.col("embedding").alias("c_emb"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.expr(_sqdist_sql("q_emb", "c_emb")).alias("l2d"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("l2d", "vec_id")
    exact = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "vec_id")
    )
    from ..operators.caching import tracked_persist

    exact = tracked_persist(exact)

    def hits(approx: DataFrame, name: str) -> DataFrame:
        return (
            approx.select("query_id", "vec_id")
            .join(exact, ["query_id", "vec_id"])
            .groupBy("query_id")
            .agg(F.count("*").cast("long").alias(name))
        )

    h_iq = hits(ann_ivfpq_topk(spark, sf_dir), "n_iq")
    h_rf = hits(ann_ivfpq_refined_topk(spark, sf_dir), "n_rf")
    return (
        exact.select("query_id")
        .distinct()
        .join(h_iq, "query_id", "left")
        .join(h_rf, "query_id", "left")
        .select(
            "query_id",
            (F.coalesce("n_iq", F.lit(0)).cast("double") / TOP_K).alias(
                "recall_ivfpq"
            ),
            (F.coalesce("n_rf", F.lit(0)).cast("double") / TOP_K).alias(
                "recall_ivfpq_refined"
            ),
        )
    )


def _ivfpq_delete_oracle() -> str:
    """The IVF-PQ ingest oracle with the tombstoned vectors removed
    from the CANDIDATE set (same takedown predicate as
    ``ivf.ivf_store_delete``; queries all sit below N_CELLS and
    survive) — derived by injecting the filter into the ``cand`` CTE so
    every downstream relation (candidate counts, batch spans, ADC) sees
    the deletion, exactly as the masked store read does."""
    from .ivf import N_CELLS

    base = _ivfpq_ingest_oracle()
    old = "WHERE q.query_id != a.vec_id"
    assert base.count(old) == 1
    return base.replace(
        old,
        "WHERE q.query_id != a.vec_id AND NOT "
        f"(a.vec_id % 5 = 2 AND a.vec_id >= {N_CELLS})",
    )


@register(
    "ivfpq_store_delete",
    oracle=_ivfpq_delete_oracle(),
    survey_ref="similarity search: takedown deletion from the codes-only IVF-PQ store (tombstones)",
)
def ivfpq_store_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion from the maintained IVF-PQ store — the takedown
    capability on the PRODUCTION index shape (codes-only at rest):
    after the same two-batch ingest as :func:`ann_ivfpq_ingest_replay`,
    every ``vec_id % 5 = 2`` vector outside the query set is tombstoned
    (appended twice; the replay no-ops), and the ADC search runs over
    the committed-read store with the mask applied as a broadcast
    anti-join on ``vec_id``. Hash-matches the ingest oracle minus the
    tombstoned candidates: deleted codes vanish from every candidate
    list and ranks/counts close up. With :func:`..analytics.ivf.
    ivf_store_delete` and ``mixing.shard_store_delete`` this completes
    the takedown lifecycle across all three maintained store layouts
    (raw vectors, codes-only, token shards)."""
    from .ivf import N_CELLS
    from .load import scratch_dir
    from ..io.maintenance import (
        append_tombstones,
        read_committed,
        tombstone_paths,
    )
    from ..operators.caching import tracked_persist

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = emb.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("c_emb")
    )
    cb_subs = tracked_persist(_codebook_subs(emb))
    root = scratch_dir("ivfpq_store_delete")
    append_ivfpq_batch(
        spark, emb.filter(F.col("vec_id") % 3 != 0), centroids, cb_subs, root, 0
    )
    append_ivfpq_batch(
        spark, emb.filter(F.col("vec_id") % 3 == 0), centroids, cb_subs, root, 1
    )
    t_data, t_ledger = tombstone_paths(root)
    dead = emb.filter(
        F.expr(f"vec_id % 5 = 2 AND vec_id >= {N_CELLS}")
    ).select("vec_id")
    append_tombstones(spark, t_data, t_ledger, dead, 0, "vec_id")
    append_tombstones(spark, t_data, t_ledger, dead, 0, "vec_id")  # replay

    codes_path, ledger_path = ivfpq_store_paths(root)
    return _search_codes_store(
        read_committed(
            spark,
            codes_path,
            ledger_path,
            tombstones_path=t_data,
            tombstone_ledger_path=t_ledger,
            id_col="vec_id",
        ),
        emb,
        cb_subs,
    )
