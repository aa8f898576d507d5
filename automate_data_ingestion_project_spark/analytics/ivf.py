"""IVF (inverted-file) ANN variant — the coarse-quantizer scale path.

Complements the hyperplane-LSH variant: vectors are assigned to the
cell of their nearest CENTROID (here: a deterministic SAMPLED codebook
— the first ``N_CELLS`` fixture vectors; the k-means-TRAINED codebook
is wired into its own registered search,
``ivf_train.ann_ivf_trained_topk``, which serves from the trained
cell-partitioned artifact), and a query scans only its own cell's
inverted list. This is the
FAISS-style IVF-flat layout expressed relationally:

- assignment = centroid join + ``row_number`` over (dot desc) — a
  broadcast join against an 8-row codebook, one narrow pass;
- the cell id becomes the partition key: the assigned-vector table is
  WRITTEN partitioned by ``cell`` (:func:`ivf_cell_table` — a
  fingerprint-keyed build-once artifact, like the near-dup corpus
  index) and the registered searches READ that layout, filtering the
  candidate scan to the probed cells so pruning happens at the parquet
  scan (``PartitionFilters``, pinned by tests/test_plans.py::
  test_ann_ivf_topk_scan_prunes_to_probed_cells). Probe-cell discovery
  is a driver-side collect of ≤ |queries|·n_probe cell ids — bounded
  by the query batch, never by the vector count, exactly FAISS's
  two-phase coarse-quantize-then-scan search;
- search = equi-join query-cells ⇄ candidate-cells, cosine, top-k.

Everything is deterministic double arithmetic → full DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..textops.similarity import dot_sql, norm_sql
from .registry import register
from ..operators.caching import tracked_persist

N_CELLS = 8
QUERY_IDS = [0, 1, 2, 3, 4]
TOP_K = 5
_QIDS = ", ".join(map(str, QUERY_IDS))


def assign_cells(
    emb: DataFrame, centroids: DataFrame, n_probe: int = 1
) -> DataFrame:
    """(vec_id, embedding, nrm, cell): nearest-centroid assignment via
    broadcast join + per-vector rank (ties broken by centroid id).
    ``n_probe > 1`` keeps the top-n cells per vector — the multi-probe
    side of an IVF search (one row per (vector, probed cell))."""
    scored = emb.crossJoin(F.broadcast(centroids)).withColumn(
        "cdot", F.expr(dot_sql("embedding", "c_emb"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cdot").desc(), F.col("cell"))
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= n_probe)
        .select("vec_id", "embedding", "nrm", "cell")
    )


def ivf_cell_table(spark: SparkSession, sf_dir: str) -> str:
    """Path of the cell-PARTITIONED assigned-vector table for a
    fixture — built once per fixture fingerprint (deterministic
    nearest-centroid assignment over the deterministic codebook), then
    served from the artifact cache. Every IVF search reads this layout;
    a probe's candidate scan prunes to its cells' directories."""
    from ..io.artifacts import fixture_artifact

    def _build(tmp: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding", F.expr(norm_sql("embedding")).alias("nrm")
        )
        centroids = emb.filter(F.col("vec_id") < N_CELLS).select(
            F.col("vec_id").alias("cell"), F.col("embedding").alias("c_emb")
        )
        assign_cells(emb, centroids).write.partitionBy("cell").parquet(
            os.path.join(tmp, "vectors")
        )

    root = fixture_artifact(sf_dir, "ivf_vectors", ("embeddings",), _build)
    return os.path.join(root, "vectors")


def _probed_cells(q: DataFrame) -> list[int]:
    """Driver-side probe-cell discovery: the distinct cells of the
    query rows — ≤ |queries|·n_probe ints, bounded by the query batch
    (not the corpus), the one collect an IVF search legitimately does."""
    return sorted(r[0] for r in q.select("cell").distinct().collect())


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, embedding, {norm_sql("embedding", "duckdb")} AS nrm
        FROM embeddings
    ),
    centroids AS (
        SELECT vec_id AS cell, embedding AS c_emb FROM base
        WHERE vec_id < {N_CELLS}
    ),
    assigned AS (
        SELECT vec_id, embedding, nrm, cell FROM (
            SELECT b.vec_id, b.embedding, b.nrm, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY {dot_sql("b.embedding", "c.c_emb", "duckdb")} DESC,
                                c.cell
                   ) AS _r
            FROM base b CROSS JOIN centroids c
        ) WHERE _r = 1
    ),
    q AS (
        SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_norm, cell
        FROM assigned WHERE vec_id IN ({_QIDS})
    ),
    scored AS (
        SELECT q.query_id, a.vec_id,
               {dot_sql("q.q_emb", "a.embedding", "duckdb")} / (q.q_norm * a.nrm)
                   AS score
        FROM q JOIN assigned a USING (cell)
        WHERE q.query_id != a.vec_id
    ),
    counted AS (
        SELECT *, CAST(COUNT(*) OVER (PARTITION BY query_id) AS BIGINT)
                      AS n_candidates
        FROM scored
    ),
    ranked AS (
        SELECT query_id, vec_id, score, n_candidates,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY score DESC, vec_id
               ) AS INTEGER) AS rnk
        FROM counted
    )
    SELECT query_id, vec_id, score, rnk, n_candidates
    FROM ranked WHERE rnk <= {TOP_K}
    """,
    survey_ref="similarity search: IVF coarse-quantizer top-k (scale path)",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat search over the cell-partitioned vector table: the
    query rows come from a vec_id row-group-pruned read, their cells
    are collected driver-side (≤5 ints), and the CANDIDATE scan filters
    on those literal cells — partition pruning at the parquet scan, so
    at 100 TB the search reads only the probed inverted lists."""
    assigned = spark.read.parquet(ivf_cell_table(spark, sf_dir))
    q = assigned.filter(F.col("vec_id").isin(QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_norm"),
        "cell",
    )
    c = assigned.filter(F.col("cell").isin(_probed_cells(q))).select(
        "vec_id",
        F.col("embedding").alias("c_emb2"),
        F.col("nrm").alias("c_norm"),
        "cell",
    )
    scored = (
        q.join(c, "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn(
            "score",
            F.expr(dot_sql("q_emb", "c_emb2")) / (F.col("q_norm") * F.col("c_norm")),
        )
    )
    wq = Window.partitionBy("query_id")
    scored = scored.withColumn("n_candidates", F.count("*").over(wq).cast("long"))
    wr = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "vec_id", "score", "rnk", "n_candidates")
    )


N_PROBE = 2


@register(
    "ann_ivf_multiprobe",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, embedding, {norm_sql("embedding", "duckdb")} AS nrm
        FROM embeddings
    ),
    centroids AS (
        SELECT vec_id AS cell, embedding AS c_emb FROM base
        WHERE vec_id < {N_CELLS}
    ),
    ranked_cells AS (
        SELECT b.vec_id, b.embedding, b.nrm, c.cell,
               ROW_NUMBER() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY {dot_sql("b.embedding", "c.c_emb", "duckdb")} DESC,
                            c.cell
               ) AS _r
        FROM base b CROSS JOIN centroids c
    ),
    assigned AS (
        SELECT vec_id, embedding, nrm, cell FROM ranked_cells WHERE _r = 1
    ),
    q AS (
        SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_norm, cell
        FROM ranked_cells
        WHERE _r <= {N_PROBE} AND vec_id IN ({_QIDS})
    ),
    scored AS (
        SELECT q.query_id, a.vec_id,
               {dot_sql("q.q_emb", "a.embedding", "duckdb")} / (q.q_norm * a.nrm)
                   AS score
        FROM q JOIN assigned a USING (cell)
        WHERE q.query_id != a.vec_id
    ),
    counted AS (
        SELECT *, CAST(COUNT(*) OVER (PARTITION BY query_id) AS BIGINT)
                      AS n_candidates
        FROM scored
    ),
    final AS (
        SELECT query_id, vec_id, score, n_candidates,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY score DESC, vec_id
               ) AS INTEGER) AS rnk
        FROM counted
    )
    SELECT query_id, vec_id, score, rnk, n_candidates
    FROM final WHERE rnk <= {TOP_K}
    """,
    survey_ref="similarity search: IVF multi-probe top-k (recall/scan trade)",
)
def ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search probing the query's top-2 cells: candidates stay in
    their single home cell (the inverted lists are unchanged), only the
    QUERY fans out — n_candidates roughly doubles and recall rises,
    which is exactly FAISS's nprobe knob expressed relationally. At
    100 TB the probe is two partition-pruned scans instead of one."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", F.expr(norm_sql("embedding")).alias("nrm")
    )
    centroids = emb.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("c_emb")
    )
    probes = assign_cells(
        emb.filter(F.col("vec_id").isin(QUERY_IDS)), centroids, n_probe=N_PROBE
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_norm"),
        "cell",
    )
    probes = tracked_persist(probes)
    # candidates come from the cell-partitioned layout, pruned to the
    # union of the queries' probed cells (2 per query) — 100 TB cost is
    # nprobe partition-pruned scans, not a corpus pass
    assigned = spark.read.parquet(ivf_cell_table(spark, sf_dir))
    c = assigned.filter(F.col("cell").isin(_probed_cells(probes))).select(
        "vec_id",
        F.col("embedding").alias("c_emb2"),
        F.col("nrm").alias("c_norm"),
        "cell",
    )
    scored = (
        probes.join(c, "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn(
            "score",
            F.expr(dot_sql("q_emb", "c_emb2")) / (F.col("q_norm") * F.col("c_norm")),
        )
    )
    wq = Window.partitionBy("query_id")
    scored = scored.withColumn("n_candidates", F.count("*").over(wq).cast("long"))
    wr = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "vec_id", "score", "rnk", "n_candidates")
    )


# ---- incremental IVF ingest (frozen codebook, ledger append) -------------


def ivf_store_paths(root: str) -> tuple[str, str]:
    """(vectors_dir, ledger_dir) under an incremental IVF store root.
    The ledger sits BESIDE the cell tree so a plain parquet read of the
    vectors never sees ledger files (same layout contract as the
    token-shard store, ``mixing.shard_store_paths``)."""
    return os.path.join(root, "vectors"), os.path.join(root, "ledger")


def append_ivf_batch(
    spark: SparkSession,
    vectors: DataFrame,
    centroids: DataFrame,
    root: str,
    batch_seq: int,
) -> None:
    """Incremental ANN index maintenance: append a vector batch
    (``vec_id``, ``embedding``) to a cell-partitioned IVF store WITHOUT
    rebuilding it — the capability a growing 100 TB corpus needs (the
    build-once :func:`ivf_cell_table` re-quantizes the world per
    refresh; this appends only the new vectors' inverted-list entries).

    The codebook is FROZEN: cell assignment is a pure function of
    (vector, centroids), exactly FAISS's add-after-train contract, so —
    unlike the token-shard store, whose offset arithmetic orders its
    batches — IVF batches are independent and ``batch_seq`` only needs
    to be unique, not ordered.

    Durability is :func:`..io.maintenance.commit_batch`'s ledger
    protocol (via :func:`..io.maintenance.append_store_batch`): files
    land under ``vectors/cell=K/batch_seq=B`` and earlier batches'
    inverted lists are byte-untouched; the ledger row (batch_seq,
    n_vectors) is the commit marker, written last; a replayed committed
    batch is a no-op, a crash retry self-heals its own leaves, and an
    EMPTY batch commits ``(batch_seq, 0)`` without leaving a
    schema-less store.

    Scale shape: assignment is one broadcast join against the codebook
    + a per-vector rank (no corpus access); the write hash-clusters by
    ``cell`` so tasks own their cells; searches over the appended store
    keep partition-pruned candidate scans (``PartitionFilters`` on
    ``cell``, pinned by tests/test_plans.py) because ``cell`` stays the
    leading partition key.
    """
    from ..io.maintenance import append_store_batch

    vectors_path, ledger_path = ivf_store_paths(root)
    sized = vectors.select(
        "vec_id", "embedding", F.expr(norm_sql("embedding")).alias("nrm")
    )
    append_store_batch(
        spark,
        vectors_path,
        ledger_path,
        assign_cells(sized, centroids),
        batch_seq,
        key_col="cell",
        sort_col="vec_id",
        count_col="n_vectors",
    )


_BATCH_EXPR = "CASE WHEN vec_id % 3 = 0 THEN 1 ELSE 0 END"

# the two-batch (vec_id % 3) incremental IVF ingest and its streaming
# twin hash-match this SAME from-scratch oracle: one whole-corpus
# quantization pass, so a match proves append-then-search ≡
# build-then-search regardless of how the appends were driven
_TWO_BATCH_IVF_ORACLE = f"""
    WITH base AS (
        SELECT vec_id, embedding, {norm_sql("embedding", "duckdb")} AS nrm,
               {_BATCH_EXPR} AS batch_seq
        FROM embeddings
    ),
    centroids AS (
        SELECT vec_id AS cell, embedding AS c_emb FROM base
        WHERE vec_id < {N_CELLS}
    ),
    assigned AS (
        SELECT vec_id, embedding, nrm, batch_seq, cell FROM (
            SELECT b.vec_id, b.embedding, b.nrm, b.batch_seq, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY {dot_sql("b.embedding", "c.c_emb", "duckdb")} DESC,
                                c.cell
                   ) AS _r
            FROM base b CROSS JOIN centroids c
        ) WHERE _r = 1
    ),
    q AS (
        SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_norm, cell
        FROM assigned WHERE vec_id IN ({_QIDS})
    ),
    scored AS (
        SELECT q.query_id, a.vec_id, a.batch_seq,
               {dot_sql("q.q_emb", "a.embedding", "duckdb")} / (q.q_norm * a.nrm)
                   AS score
        FROM q JOIN assigned a USING (cell)
        WHERE q.query_id != a.vec_id
    ),
    nb AS (
        SELECT query_id,
               CAST(COUNT(DISTINCT batch_seq) AS BIGINT) AS n_batches
        FROM scored GROUP BY query_id
    ),
    counted AS (
        SELECT *, CAST(COUNT(*) OVER (PARTITION BY query_id) AS BIGINT)
                      AS n_candidates
        FROM scored
    ),
    ranked AS (
        SELECT query_id, vec_id, score, n_candidates,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY score DESC, vec_id
               ) AS INTEGER) AS rnk
        FROM counted
    )
    SELECT r.query_id, r.vec_id, r.score, r.rnk, r.n_candidates,
           nb.n_batches
    FROM ranked r JOIN nb USING (query_id)
    WHERE r.rnk <= {TOP_K}
    """


def _search_appended_ivf(
    spark: SparkSession,
    vectors_path: str,
    ledger_path: str | None = None,
    tombstones_path: str | None = None,
    tombstone_ledger_path: str | None = None,
) -> DataFrame:
    """IVF top-k over an APPENDED store (the shared output shape of the
    batch ingest replay and its streaming twin): probe-cell discovery,
    partition-pruned candidate scan, cosine top-k, plus per-query
    ``n_batches`` proving candidate lists span the appends.

    With ``ledger_path`` the scan is COMMITTED-READ isolated
    (:func:`..io.maintenance.read_committed`): only ledger-committed
    generations are visible, so a reader racing a crashed appender
    never sees its orphan leaves — a pure extra ``PartitionFilters``
    term on ``batch_seq``, zero scan cost. ``tombstones_path`` applies
    the store's deletion mask (broadcast anti-join on ``vec_id``)."""
    if ledger_path is not None:
        from ..io.maintenance import read_committed

        assigned = read_committed(
            spark,
            vectors_path,
            ledger_path,
            tombstones_path=tombstones_path,
            tombstone_ledger_path=tombstone_ledger_path,
            id_col="vec_id",
        )
    else:
        assigned = spark.read.parquet(vectors_path)
    q = assigned.filter(F.col("vec_id").isin(QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_norm"),
        "cell",
    )
    # candidate scan prunes to the probed cells' directories — the
    # partition layout survives appends because cell leads batch_seq
    c = assigned.filter(F.col("cell").isin(_probed_cells(q))).select(
        "vec_id",
        F.col("embedding").alias("c_emb2"),
        F.col("nrm").alias("c_norm"),
        "batch_seq",
        "cell",
    )
    scored = (
        q.join(c, "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn(
            "score",
            F.expr(dot_sql("q_emb", "c_emb2")) / (F.col("q_norm") * F.col("c_norm")),
        )
    )
    scored = tracked_persist(scored)
    # distinct batch_seq per query: countDistinct is not a window
    # function in either engine — tiny per-query aggregate, broadcast back
    nb = scored.groupBy("query_id").agg(
        F.countDistinct("batch_seq").alias("n_batches")
    )
    wq = Window.partitionBy("query_id")
    counted = scored.withColumn(
        "n_candidates", F.count("*").over(wq).cast("long")
    )
    wr = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (
        counted.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= TOP_K)
        .join(F.broadcast(nb), "query_id")
        .select("query_id", "vec_id", "score", "rnk", "n_candidates", "n_batches")
    )


def _frozen_codebook(emb: DataFrame) -> DataFrame:
    """The deterministic frozen codebook both ingest forms quantize
    against (first N_CELLS fixture vectors; production k-means once and
    freezes — FAISS's train-then-add contract)."""
    return emb.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("c_emb")
    )


@register(
    "ann_ivf_ingest_replay",
    oracle=_TWO_BATCH_IVF_ORACLE,
    survey_ref="similarity search: incremental IVF ingest (frozen codebook, ledger append, replay-idempotent)",
)
def ann_ivf_ingest_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-batch incremental IVF build, then a search over the APPENDED
    store: batch 0 (vec_id % 3 != 0) seeds the cell tree, batch 1 (the
    rest — including every query vector) is appended against the frozen
    codebook, and batch 0 is REPLAYED (a committed-batch no-op, proved
    by the hash match: a double-append would double every candidate
    list). The from-scratch oracle quantizes the whole corpus in one
    pass — a hash match proves append-then-search ≡ build-then-search,
    the maintained-index equivalence the shard and near-dup stores
    already carry. ``n_batches = 2`` rows prove candidate lists span
    both appends (cross-batch inverted lists, not two disjoint
    indexes)."""
    from .load import scratch_dir

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = _frozen_codebook(emb)
    root = scratch_dir("ann_ivf_ingest_replay")
    b0 = emb.filter(F.col("vec_id") % 3 != 0)
    b1 = emb.filter(F.col("vec_id") % 3 == 0)
    append_ivf_batch(spark, b0, centroids, root, 0)
    append_ivf_batch(spark, b1, centroids, root, 1)
    append_ivf_batch(spark, b0, centroids, root, 0)  # replay: must no-op

    vectors_path, ledger_path = ivf_store_paths(root)
    return _search_appended_ivf(spark, vectors_path, ledger_path)


@register(
    "stream_ann_ivf_ingest_replay",
    oracle=_TWO_BATCH_IVF_ORACLE,
    survey_ref="streaming: continuous IVF index maintenance (foreachBatch, full oracle)",
)
def stream_ann_ivf_ingest_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME two-batch IVF ingest, driven by Structured Streaming:
    the batches land as embedding files, the file source drains them
    one micro-batch each (``maxFilesPerTrigger=1``), and
    ``foreachBatch`` runs :func:`append_ivf_batch` with the epoch id as
    the batch sequence (:func:`..streaming.ivf.stream_ivf_ingest`) —
    the continuous indexer a production corpus runs as encoder output
    arrives. It hash-matches the identical DuckDB oracle as
    :func:`ann_ivf_ingest_replay`, proving the streaming drain is
    cell-for-cell equivalent to both the batch append AND a
    from-scratch quantization (``n_batches = 2`` rows require epoch 0's
    leaves and epoch 1's leaves under the same probed cells).

    File order is pinned via mtimes for determinism of the store
    layout, though — unlike the token-shard exporter — the result is
    order-agnostic: frozen-codebook assignment makes epochs independent."""
    from .load import scratch_dir
    from ..streaming.ivf import stream_ivf_ingest

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = _frozen_codebook(emb)
    root = scratch_dir("stream_ann_ivf_ingest_replay")
    src = os.path.join(root, "incoming")
    b0 = emb.filter(F.col("vec_id") % 3 != 0)
    b1 = emb.filter(F.col("vec_id") % 3 == 0)
    b0.coalesce(1).write.parquet(os.path.join(src, "batch1"))
    b1.coalesce(1).write.parquet(os.path.join(src, "batch2"))
    t0 = os.stat(os.path.join(src, "batch1")).st_mtime
    for sub, off in (("batch1", 0), ("batch2", 60)):
        for walk_root, _, files in os.walk(os.path.join(src, sub)):
            for f in files:
                p = os.path.join(walk_root, f)
                os.utime(p, (t0 + off, t0 + off))
    stream_ivf_ingest(
        spark,
        os.path.join(src, "*"),
        centroids,
        os.path.join(root, "store"),
        os.path.join(root, "ckpt"),
    )
    vectors_path, ledger_path = ivf_store_paths(os.path.join(root, "store"))
    return _search_appended_ivf(spark, vectors_path, ledger_path)


@register(
    "ivf_store_compaction",
    # post-compaction every candidate row lives in the single reserved
    # batch_seq=-1 generation, so per-query n_batches is the literal 1
    oracle=_TWO_BATCH_IVF_ORACLE.replace("COUNT(DISTINCT batch_seq)", "1"),
    survey_ref="similarity search: IVF store compaction (OPTIMIZE counterpart, pruning preserved)",
)
def ivf_store_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction of the incremental IVF store, search-checked: the
    two-batch append leaves every cell's inverted list split across
    per-epoch files; :func:`..io.maintenance.compact_store_tree`
    rewrites the tree to ONE file per cell in the reserved
    ``batch_seq = -1`` generation, and the SAME search then runs over
    the compacted store. Scores, ranks, and candidate counts hash-match
    the from-scratch oracle (content preserved exactly); ``n_batches``
    drops to 1 for every query — the compacted generation — which the
    oracle states as a literal. Partition pruning survives because
    ``cell`` still leads the partition spec (pinned by
    ``tests/test_plans.py``); the ledger is untouched, so committed
    epochs still no-op on replay and new epochs append beside the
    compacted generation."""
    from .load import scratch_dir
    from ..io.maintenance import compact_store_tree

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = _frozen_codebook(emb)
    root = scratch_dir("ivf_store_compaction")
    append_ivf_batch(
        spark, emb.filter(F.col("vec_id") % 3 != 0), centroids, root, 0
    )
    append_ivf_batch(
        spark, emb.filter(F.col("vec_id") % 3 == 0), centroids, root, 1
    )
    vectors_path, ledger_path = ivf_store_paths(root)
    compact_store_tree(
        spark, vectors_path, "cell", "vec_id", ledger_path=ledger_path
    )
    return _search_appended_ivf(spark, vectors_path, ledger_path)


# tombstoned vectors: every 5th id, excluding the query ids (0..4 all
# sit below N_CELLS) so each query survives its own takedown wave
_IVF_DELETE_PRED = f"(vec_id % 5 = 2 AND vec_id >= {N_CELLS})"


def _ivf_delete_oracle() -> str:
    """The two-batch ingest oracle minus the tombstoned candidates —
    guarded string surgery like :func:`.pq._ivfpq_delete_oracle`, so a
    reworded base oracle fails loudly at import instead of silently
    keeping deleted vectors."""
    old = "WHERE q.query_id != a.vec_id"
    assert _TWO_BATCH_IVF_ORACLE.count(old) == 1
    return _TWO_BATCH_IVF_ORACLE.replace(
        old,
        "WHERE q.query_id != a.vec_id AND NOT "
        f"(a.vec_id % 5 = 2 AND a.vec_id >= {N_CELLS})",
    )


@register(
    "ivf_store_delete",
    # the from-scratch oracle quantizes the whole corpus, then drops
    # the tombstoned vectors from the CANDIDATE side only (assignment
    # is frozen — deletion removes inverted-list entries, it never
    # re-quantizes survivors); scores, ranks, candidate counts and
    # per-query batch spans are all recomputed over the survivors
    oracle=_ivf_delete_oracle(),
    survey_ref="similarity search: takedown deletion from the maintained ANN index (tombstones)",
)
def ivf_store_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion from the maintained IVF store — the ANN face of the
    takedown/right-to-erasure capability: after the same two-batch
    ingest as :func:`ann_ivf_ingest_replay`, every ``vec_id % 5 = 2``
    vector (outside the query set) is tombstoned
    (:func:`..io.maintenance.append_tombstones`; the batch is appended
    TWICE — the replay must no-op or doubled tombstones would still
    anti-join clean, so the proof is the ledger staying single-row,
    pinned by tests). The search then runs with the mask applied
    (committed-read + broadcast anti-join on ``vec_id`` — the store is
    never reshuffled), and hash-matches a from-scratch oracle over the
    SURVIVING vectors: deleted vectors vanish from every candidate
    list, every rank closes up, and ``n_candidates``/``n_batches``
    shrink accordingly. Physical erasure is the same full-collapse
    compaction the shard store proves (``shard_store_delete``);
    tests/test_maintenance.py pins the lifecycle generically."""
    from .load import scratch_dir
    from ..io.maintenance import append_tombstones, tombstone_paths

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = _frozen_codebook(emb)
    root = scratch_dir("ivf_store_delete")
    append_ivf_batch(spark, emb.filter(F.col("vec_id") % 3 != 0), centroids, root, 0)
    append_ivf_batch(spark, emb.filter(F.col("vec_id") % 3 == 0), centroids, root, 1)

    t_data, t_ledger = tombstone_paths(root)
    dead = emb.filter(F.expr(_IVF_DELETE_PRED)).select("vec_id")
    append_tombstones(spark, t_data, t_ledger, dead, 0, "vec_id")
    append_tombstones(spark, t_data, t_ledger, dead, 0, "vec_id")  # replay

    vectors_path, ledger_path = ivf_store_paths(root)
    return _search_appended_ivf(
        spark,
        vectors_path,
        ledger_path,
        tombstones_path=t_data,
        tombstone_ledger_path=t_ledger,
    )
