"""Dedup CORRECTNESS queries over the ``documents`` fixture.

The fixture has no duplicate texts, so both queries first plant
duplicates deterministically (same construction in Spark and the
oracle):

- ``dedup_exact``: every ``doc_id % 10 == 0`` document re-appears
  verbatim under ``doc_id + 100000`` → exact dedup must collapse it;
- ``dedup_minhash_pairs``: every ``doc_id % 20 == 0`` document
  re-appears with one token prepended (``'xqzv '``) under
  ``doc_id + 100000`` → a near-duplicate with shingle-Jaccard
  ≈ (s−2)/(s−1), which MinHash banding must surface and exact Jaccard
  verification must keep.

The MinHash oracle re-executes the IDENTICAL integer pipeline in DuckDB
(md5-prefix base hash, the same (a,b) coefficients mod 2³¹−1, the same
banding) — the fuzzy path is hash-match checked, not just row-counted.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..io.maintenance import session_conf_scope
from ..streaming.events import DRAIN_SHUFFLE_PARTITIONS
from ..textops.dedup import (
    A_COEF,
    B_COEF,
    BANDS,
    K,
    P,
    ROWS_PER_BAND,
    candidate_pairs,
    exact_dedup_summary,
    lsh_band_keys,
    minhash_signatures_rows,
    pair_jaccard_stats,
    shingle_rows,
    verified_near_duplicates_rows,
)
from .registry import register
from ..operators.caching import tracked_persist

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    WITH base AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
    )
    SELECT sha256(text) AS content_hash,
           MIN(doc_id) AS kept_doc_id,
           COUNT(*) AS n_copies
    FROM base
    GROUP BY 1
    """,
    survey_ref="exact dedup (north star; Q4 generalized to corpora)",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dupes = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return exact_dedup_summary(docs.unionByName(dupes))


# ---------------------------------------------------------------------------
# MinHash + LSH near-duplicate pairs
# ---------------------------------------------------------------------------


def _minhash_cte_prefix(base_sql: str | None = None) -> str:
    """Shared DuckDB CTE chain base → shingles → signatures → band keys
    (reused by the pairwise, incremental-filter and ingest-replay
    oracles). ``base_sql`` overrides the (doc_id, text) base relation;
    default is the planted-variant corpus."""
    a_list = "[" + ", ".join(str(x) for x in A_COEF) + "]"
    b_list = "[" + ", ".join(str(x) for x in B_COEF) + "]"
    band_parts = ", ".join(
        f"sigs[{ROWS_PER_BAND}*j+{k + 1}]" for k in range(ROWS_PER_BAND)
    )
    if base_sql is None:
        base_sql = """
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, concat('xqzv ', text) AS text
        FROM documents WHERE doc_id % 20 = 0
        """
    return f"""
    WITH base AS ({base_sql}),
    tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM base),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(0, len(w) - 2),
                   i -> concat_ws(' ', w[i+1], w[i+2], w[i+3]))) AS shingles
        FROM tok WHERE len(w) >= 3
    ),
    hs AS (
        SELECT doc_id, shingles,
               list_transform(shingles,
                   s -> CAST(concat('0x', substr(md5(s), 1, 14)) AS BIGINT) % {P}
               ) AS h0
        FROM sh
    ),
    sig AS (
        SELECT doc_id,
               list_transform(range(0, {K}),
                   i -> list_min(list_transform(h0,
                        h -> ({a_list}[i+1] * h + {b_list}[i+1]) % {P}))) AS sigs
        FROM hs
    ),
    bands AS (
        SELECT doc_id,
               unnest(list_transform(range(0, {BANDS}),
                   j -> concat_ws(':', j, {band_parts}))) AS band_key
        FROM sig
    )"""


def _minhash_oracle_sql() -> str:
    return f"""{_minhash_cte_prefix()},
    pairs AS (
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
        FROM bands a JOIN bands b
          ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    verified AS (
        SELECT p.doc_id_a, p.doc_id_b,
               CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT)
                   AS n_shared,
               CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles)))
                   AS BIGINT) AS n_union
        FROM pairs p
        JOIN sh sa ON p.doc_id_a = sa.doc_id
        JOIN sh sb ON p.doc_id_b = sb.doc_id
    )
    SELECT doc_id_a, doc_id_b, n_shared,
           CAST(n_shared AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard
    FROM verified
    WHERE CAST(n_shared AS DOUBLE) / CAST(n_union AS DOUBLE) >= 0.5
    """


@register(
    "dedup_minhash_pairs",
    oracle=_minhash_oracle_sql(),
    survey_ref="fuzzy dedup: MinHash+LSH banded near-dup (north star)",
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _docs_with_variants(spark, sf_dir)
    # persist the two relations every downstream join branch reuses —
    # without this, both sides of the band self-join and both sides of
    # the verification join would recompute shingling + signatures
    rows = tracked_persist(shingle_rows(base))
    sigs = minhash_signatures_rows(rows)
    bands = tracked_persist(lsh_band_keys(sigs))
    pairs = candidate_pairs(bands)
    return verified_near_duplicates_rows(rows, pairs)


def _docs_with_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus near-dup variants: every 20th doc re-appears with
    one token prepended under doc_id + 100000 (planted ground truth)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("xqzv "), F.col("text")).alias("text"),
    )
    return docs.unionByName(variants)


_VARIANTS_SQL = """
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, concat('xqzv ', text) AS text
        FROM documents WHERE doc_id % 20 = 0
"""


# ---------------------------------------------------------------------------
# SimHash near-duplicate pairs
# ---------------------------------------------------------------------------


def _simhash_oracle_sql() -> str:
    from ..textops.simhash import BAND_BITS, SIM_BANDS, SIM_BITS

    bit_sums = ",\n               ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(SIM_BITS)
    )
    fp_terms = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIM_BITS)
    )
    band_keys = ", ".join(
        f"concat('{j}', ':', CAST((simhash >> {j * BAND_BITS}) & "
        f"{(1 << BAND_BITS) - 1} AS VARCHAR))"
        for j in range(SIM_BANDS)
    )
    return f"""
    WITH base AS ({_VARIANTS_SQL}),
    tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM base
    ),
    th AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(t), 1, 14)) AS BIGINT) AS h
        FROM tok
    ),
    bits AS (
        SELECT doc_id,
               {bit_sums}
        FROM th GROUP BY doc_id
    ),
    fp AS (SELECT doc_id, CAST({fp_terms} AS BIGINT) AS simhash FROM bits),
    bands AS (
        SELECT doc_id, simhash, unnest([{band_keys}]) AS band_key FROM fp
    ),
    pairs AS (
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM bands a JOIN bands b
          ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3
    )
    SELECT doc_id_a, doc_id_b, hamming FROM pairs WHERE hamming <= 3
    """


@register(
    "dedup_simhash_pairs",
    oracle=_simhash_oracle_sql(),
    survey_ref="fuzzy dedup: SimHash 32-bit banded near-dup (north star)",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..textops.simhash import simhash_fingerprints, simhash_near_pairs

    base = _docs_with_variants(spark, sf_dir)
    fps = tracked_persist(simhash_fingerprints(base))
    return simhash_near_pairs(fps, max_hamming=3)


# ---------------------------------------------------------------------------
# Exact n-gram-Jaccard pairs via inverted index
# ---------------------------------------------------------------------------


def _jaccard_index_oracle_sql(threshold: float = 0.5, max_df: int = 200) -> str:
    return f"""
    WITH base AS ({_VARIANTS_SQL}),
    tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM base),
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(0, len(w) - 2),
                   i -> concat_ws(' ', w[i+1], w[i+2], w[i+3])))) AS s
        FROM tok WHERE len(w) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    rare AS (
        SELECT sh.doc_id, sh.s FROM sh
        JOIN (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {max_df}) f
          ON sh.s = f.s
    ),
    shared AS (
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM rare a JOIN rare b
          ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT s.doc_id_a, s.doc_id_b, s.n_shared,
           CAST(s.n_shared AS DOUBLE) /
               CAST(sa.n_sh + sb.n_sh - s.n_shared AS DOUBLE) AS jaccard
    FROM shared s
    JOIN sizes sa ON s.doc_id_a = sa.doc_id
    JOIN sizes sb ON s.doc_id_b = sb.doc_id
    WHERE CAST(s.n_shared AS DOUBLE) /
              CAST(sa.n_sh + sb.n_sh - s.n_shared AS DOUBLE) >= {threshold}
    """


@register(
    "dedup_ngram_jaccard",
    oracle=_jaccard_index_oracle_sql(),
    survey_ref="fuzzy dedup: exact n-gram Jaccard via inverted index (north star)",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..textops.simhash import jaccard_index_join

    base = _docs_with_variants(spark, sf_dir)
    rows = tracked_persist(shingle_rows(base))
    return jaccard_index_join(rows, threshold=0.5, max_doc_freq=200)


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (LSH-bucketed)
# ---------------------------------------------------------------------------


def _embedding_dedup_oracle_sql(threshold: float = 0.999) -> str:
    from ..textops.similarity import bucket_sql, dot_sql, norm_sql

    d = "duckdb"
    return f"""
    WITH base AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 100000 AS vec_id, embedding
        FROM embeddings WHERE vec_id % 25 = 0
    ),
    prepped AS (
        SELECT vec_id, embedding,
               {norm_sql("embedding", d)} AS nrm,
               {bucket_sql("embedding", d)} AS bucket
        FROM base
    ),
    pairs AS (
        SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
               {dot_sql("a.embedding", "b.embedding", d)} / (a.nrm * b.nrm)
                   AS score
        FROM prepped a JOIN prepped b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT vec_id_a, vec_id_b, score FROM pairs WHERE score >= {threshold}
    """


@register(
    "dedup_embedding_cosine",
    oracle=_embedding_dedup_oracle_sql(),
    survey_ref="fuzzy dedup: embedding-cosine near-dup via LSH buckets (north star)",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..textops.similarity import bucket_sql, dot_sql, norm_sql

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    base = emb.unionByName(copies)
    prepped = tracked_persist(
        base.select(
            "vec_id",
            "embedding",
            F.expr(norm_sql("embedding")).alias("nrm"),
            F.expr(bucket_sql("embedding")).alias("bucket"),
        )
    )
    a, b = prepped.alias("a"), prepped.alias("b")
    score = F.expr(dot_sql("a.embedding", "b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id_a"),
            F.col("b.vec_id").alias("vec_id_b"),
            score.alias("score"),
        )
        .filter(F.col("score") >= 0.999)
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over verified pairs
# ---------------------------------------------------------------------------


def _components_oracle_sql() -> str:
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle_sql()}),
    edges AS (
        SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
        UNION
        SELECT doc_id_b AS a, doc_id_a AS b FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS node, LEAST(a, MIN(b)) AS component_id
    FROM reach
    GROUP BY a
    """


@register(
    "dedup_components",
    oracle=_components_oracle_sql(),
    survey_ref="fuzzy dedup: connected-components clustering (iterative algorithm)",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise near-dup evidence → dedup clusters (component id = the
    canonical doc to KEEP; everything else in the component drops).
    Iterative min-label propagation; the DuckDB oracle recomputes the
    same clustering with a recursive transitive-closure CTE.

    Reads the materialized :func:`minhash_pairs_evidence` artifact
    rather than re-deriving the pair generation — the oracle still
    recomputes pairs from scratch, so a stale artifact cannot pass."""
    from ..textops.components import connected_components

    pairs = minhash_pairs_evidence(spark, sf_dir).select(
        "doc_id_a", "doc_id_b"
    )
    return connected_components(pairs)


def _canonical_keep_oracle_sql() -> str:
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle_sql()}),
    edges AS (
        SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
        UNION
        SELECT doc_id_b AS a, doc_id_a AS b FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (
        SELECT a AS node, LEAST(a, MIN(b)) AS component_id
        FROM reach GROUP BY a
    ),
    corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, concat('xqzv ', text) AS text
        FROM documents WHERE doc_id % 20 = 0
    ),
    members AS (
        SELECT c.component_id, c.node AS doc_id,
               octet_length(encode(x.text)) AS n_bytes
        FROM comp c JOIN corpus x ON c.node = x.doc_id
    ),
    ranked AS (
        SELECT component_id, doc_id, n_bytes,
               row_number() OVER (
                   PARTITION BY component_id
                   ORDER BY n_bytes DESC, doc_id) AS rk
        FROM members
    )
    SELECT component_id,
           CAST(MAX(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS kept_doc_id,
           COUNT(*) AS n_members,
           CAST(SUM(CASE WHEN rk > 1 THEN n_bytes ELSE 0 END) AS BIGINT)
               AS bytes_dropped
    FROM ranked
    GROUP BY 1
    """


@register(
    "dedup_canonical_keep",
    oracle=_canonical_keep_oracle_sql(),
    survey_ref="fuzzy dedup: canonical-representative selection per cluster",
)
def dedup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kept/dropped DECISION per near-dup cluster — the step that
    turns clustering into an actual training-set reduction: each
    component keeps its longest member (most content; production swaps
    in its quality score), ties broken by smallest doc_id so the choice
    is total-ordered and replay-stable.

    Spark-first form: argmax-by-struct ``max(struct(n_bytes, -doc_id))``
    inside the ONE per-component aggregate — no window pass, no second
    shuffle, order-independent under partial aggregation. The member
    relation is |cluster members| (tiny vs corpus); the corpus side
    contributes only byte lengths through a broadcast-joined projection.
    """
    from ..textops.components import connected_components

    pairs = minhash_pairs_evidence(spark, sf_dir).select("doc_id_a", "doc_id_b")
    comp = connected_components(pairs)
    docs = _docs_with_variants(spark, sf_dir).select(
        "doc_id", F.octet_length("text").alias("n_bytes")
    )
    members = comp.join(docs, comp["node"] == docs["doc_id"]).select(
        "component_id", "doc_id", "n_bytes"
    )
    agg = members.groupBy("component_id").agg(
        F.max(
            F.struct(F.col("n_bytes"), (-F.col("doc_id")).alias("neg_id"))
        ).alias("best"),
        F.count("*").alias("n_members"),
        F.sum("n_bytes").alias("total_bytes"),
    )
    return agg.select(
        "component_id",
        (-F.col("best.neg_id")).cast("long").alias("kept_doc_id"),
        "n_members",
        (F.col("total_bytes") - F.col("best.n_bytes"))
        .cast("long")
        .alias("bytes_dropped"),
    )


def _minhash_estimate_oracle_sql() -> str:
    return f"""{_minhash_cte_prefix()},
    cand AS (
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
        FROM bands a JOIN bands b
          ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    est AS (
        SELECT c.doc_id_a, c.doc_id_b,
               CAST(len(list_filter(range(0, {K}),
                   i -> sa.sigs[i+1] = sb.sigs[i+1])) AS DOUBLE) / {K}
                   AS est_jaccard
        FROM cand c
        JOIN sig sa ON c.doc_id_a = sa.doc_id
        JOIN sig sb ON c.doc_id_b = sb.doc_id
    ),
    exact AS (
        SELECT c.doc_id_a, c.doc_id_b,
               CAST(len(list_intersect(ha.shingles, hb.shingles)) AS DOUBLE) /
               CAST(len(list_distinct(list_concat(ha.shingles, hb.shingles)))
                   AS DOUBLE) AS exact_jaccard
        FROM cand c
        JOIN sh ha ON c.doc_id_a = ha.doc_id
        JOIN sh hb ON c.doc_id_b = hb.doc_id
    )
    SELECT e.doc_id_a, e.doc_id_b, e.est_jaccard, x.exact_jaccard,
           abs(e.est_jaccard - x.exact_jaccard) AS abs_err
    FROM est e JOIN exact x USING (doc_id_a, doc_id_b)
    """


@register(
    "minhash_estimate_error",
    oracle=_minhash_estimate_oracle_sql(),
    survey_ref="fuzzy dedup: sketch-quality evaluation (estimate vs exact Jaccard)",
)
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality evaluation: for every banded candidate pair, the
    MinHash ESTIMATE of Jaccard (fraction of agreeing signature
    positions) next to the EXACT shingle Jaccard and the absolute
    error — the calibration check that tells you whether K signatures
    and the banding threshold are actually delivering the designed
    precision before you trust them on 100 TB ("measure, don't
    guess" applied to the sketch).

    Scale shape: everything downstream of candidate generation touches
    candidates only — the signature-agreement compare is a K-element
    zip on the (tiny) candidate join, and the exact side reuses the
    candidates-only verification (:func:`pair_jaccard_stats`, corpus
    relation never reshuffled). The estimate/exact HOFs run interpreted
    but over |candidates|·K elements, not corpus-scale data.
    """
    base = _docs_with_variants(spark, sf_dir)
    rows = tracked_persist(shingle_rows(base))
    sigs = tracked_persist(minhash_signatures_rows(rows))
    pairs = candidate_pairs(lsh_band_keys(sigs))
    sa = sigs.select(F.col("doc_id").alias("doc_id_a"), F.col("sigs").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_id_b"), F.col("sigs").alias("sig_b"))
    est = (
        pairs.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            (
                F.expr(
                    "aggregate(zip_with(sig_a, sig_b, "
                    "(x, y) -> if(x = y, 1, 0)), 0, (acc, v) -> acc + v)"
                ).cast("double")
                / K
            ).alias("est_jaccard"),
        )
    )
    exact = pair_jaccard_stats(rows, pairs, "doc_id_a", "doc_id_b").select(
        "doc_id_a",
        "doc_id_b",
        (
            F.col("n_shared").cast("double") / F.col("n_union").cast("double")
        ).alias("exact_jaccard"),
    )
    return est.join(exact, ["doc_id_a", "doc_id_b"]).select(
        "doc_id_a",
        "doc_id_b",
        "est_jaccard",
        "exact_jaccard",
        F.abs(F.col("est_jaccard") - F.col("exact_jaccard")).alias("abs_err"),
    )


def minhash_pairs_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized verified near-dup PAIR EVIDENCE over the
    planted-variant corpus — the :func:`dedup_minhash_pairs` result as
    a fingerprint-keyed parquet artifact (same build-once protocol as
    :func:`corpus_neardup_index`).

    The pair generation (shingle → signature → banded join → exact
    verification) is the most expensive stage of the near-dup family;
    the compositions that CONSUME pair evidence (``dedup_components``,
    ``leakage_safe_split``) used to re-derive it per query. Production
    maintains the evidence as a table the ingestion loop updates; here
    the consumers read this artifact while ``dedup_minhash_pairs``
    itself stays a live computation (it IS the generator benchmark and
    the artifact builder). Content is deterministic (md5-based
    hashing), so artifact reads hash-match live recomputation exactly.
    """
    from ..io.artifacts import fixture_artifact

    def _build(tmp: str) -> None:
        dedup_minhash_pairs(spark, sf_dir).write.mode("overwrite").parquet(
            os.path.join(tmp, "pairs")
        )

    root = fixture_artifact(sf_dir, "minhash_pairs", ("documents",), _build)
    return spark.read.parquet(os.path.join(root, "pairs"))


# ---------------------------------------------------------------------------
# Incremental near-duplicate filter (new batch vs existing corpus)
# ---------------------------------------------------------------------------


def _incremental_oracle_sql() -> str:
    return f"""{_minhash_cte_prefix()},
    cand AS (
        SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id
        FROM bands b JOIN bands c ON b.band_key = c.band_key
        WHERE b.doc_id >= 100000 AND c.doc_id < 100000
        GROUP BY 1, 2
    ),
    ver AS (
        SELECT cand.batch_id,
               CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT)
                   AS n_shared,
               CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles)))
                   AS BIGINT) AS n_union
        FROM cand
        JOIN sh sa ON cand.batch_id = sa.doc_id
        JOIN sh sb ON cand.corpus_id = sb.doc_id
    ),
    agg AS (
        SELECT batch_id, COUNT(*) AS n_candidates,
               CAST(SUM(CASE WHEN 2 * n_shared >= n_union
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_verified_dups
        FROM ver GROUP BY 1
    )
    SELECT b.doc_id AS batch_id,
           COALESCE(a.n_candidates, 0) AS n_candidates,
           COALESCE(a.n_verified_dups, 0) AS n_verified_dups,
           COALESCE(a.n_verified_dups, 0) > 0 AS is_near_dup
    FROM base b LEFT JOIN agg a ON b.doc_id = a.batch_id
    WHERE b.doc_id >= 100000
    """


def corpus_neardup_index(spark: SparkSession, sf_dir: str):
    """Materialized corpus near-dup index for the documents fixture —
    built once per fixture CONTENT and read from parquet afterwards,
    the index a production ingestion maintains as a table.

    Keying and publication go through :mod:`..io.artifacts`: the key is
    a fingerprint of ``documents.parquet`` (size + mtime_ns), so an
    in-place fixture regeneration forces a rebuild instead of silently
    serving the previous generation, and the build is atomically
    renamed into place so a crashed half-write is never mistaken for a
    complete index. At 100 TB the writes would be bucketed by
    band_key / doc_id (write_bucketed_table) so the probe join is
    exchange-free."""
    from ..io.artifacts import fixture_artifact
    from ..textops.neardup_index import NearDupIndex

    def _build(tmp: str) -> None:
        corpus = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        NearDupIndex.write_corpus(corpus, tmp)

    # the artifact name carries the index LAYOUT version (the content
    # fingerprint only tracks fixture regeneration): v2 = bands +
    # shingles + the content-hash roster every index carries.
    root = fixture_artifact(sf_dir, "neardup_index_v2", ("documents",), _build)
    return NearDupIndex(spark, root)


@register(
    "incremental_neardup_filter",
    oracle=_incremental_oracle_sql(),
    survey_ref="fuzzy dedup: incremental batch-vs-corpus filter (north star)",
)
def incremental_neardup_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedupe an incoming BATCH against the existing CORPUS — the shape
    a 100 TB ingestion actually runs (you never re-dedupe the corpus;
    you check the day's batch against it). The planted variants
    (doc_id ≥ 100000) play the batch; the originals play the corpus.

    Scale shape: the corpus side is a MATERIALIZED index
    (:func:`corpus_neardup_index` — fingerprint-keyed, built once, then
    read from parquet; production maintains it as a bucketed table), so
    a batch run computes shingles/signatures for the batch only. The
    batch's band keys are tiny next to the corpus index, so the
    candidate join BROADCASTS the batch side — the corpus band table is
    probed in place and never reshuffled. Verification touches only
    candidates. The dup test ``2·|∩| ≥ |∪|`` is the integer-exact form
    of Jaccard ≥ 0.5.

    This registered query is the read-only probe; the full ingestion
    loop (probe + append accepted docs so consecutive batches see each
    other) is :meth:`..textops.neardup_index.NearDupIndex.ingest_batch`,
    exercised by ``tests/test_dedup.py``.
    """
    index = corpus_neardup_index(spark, sf_dir)
    batch = _docs_with_variants(spark, sf_dir).filter(
        F.col("doc_id") >= 100000
    )
    return index.filter_batch(batch)


# ---------------------------------------------------------------------------
# Two-batch ingestion replay (probe + append + cross-batch detection)
# ---------------------------------------------------------------------------

# Deterministic two-batch construction over the documents fixture:
# corpus = the originals (doc_id < 100000);
# batch 1 = planted near-dups of the corpus (+100000, 'xqzv ' prefix —
#   must be REJECTED) plus novel docs (+300000, the doc's tokens
#   REVERSED — all 3-gram shingles change, so Jaccard vs the original
#   is ~0 and they must be ACCEPTED and appended);
# batch 2 = near-dups of BATCH 1's accepted docs (+400000, 'qjkx ' +
#   the same reversed text — only detectable if batch 1's append
#   actually happened) plus fresh near-dups of the corpus (+500000,
#   'wvux ' prefix — proving the original probe path still works after
#   the append).
_REPLAY_BASE_SQL = """
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, concat('xqzv ', text) AS text
        FROM documents WHERE doc_id % 20 = 0
        UNION ALL
        SELECT doc_id + 300000 AS doc_id,
               array_to_string(list_reverse(string_split(text, ' ')), ' ')
                   AS text
        FROM documents WHERE doc_id % 20 = 10
        UNION ALL
        SELECT doc_id + 400000 AS doc_id,
               concat('qjkx ',
                   array_to_string(list_reverse(string_split(text, ' ')), ' '))
                   AS text
        FROM documents WHERE doc_id % 40 = 10
        UNION ALL
        SELECT doc_id + 500000 AS doc_id, concat('wvux ', text) AS text
        FROM documents WHERE doc_id % 20 = 5
"""


def _ingest_replay_oracle_sql(delete_pred: str | None = None) -> str:
    """The two-batch ingest-replay oracle; ``delete_pred`` (a SQL
    predicate over the corpus ``doc_id``) removes tombstoned documents
    from the INITIAL index — the from-scratch mirror of a takedown
    before the replay starts. Everything downstream (candidates,
    verification, appends, batch-2 decisions) flows from the same CTE
    chain, so the deletion's knock-on effects (formerly-suppressed
    near-dups now accepted AND appended) are computed, not assumed."""
    def decisions(tag: str, batch_pred: str, index_cte: str) -> str:
        return f"""
    cand{tag} AS (
        SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id
        FROM bands b JOIN {index_cte} c ON b.band_key = c.band_key
        WHERE {batch_pred.format(col='b.doc_id')}
        GROUP BY 1, 2
    ),
    ver{tag} AS (
        SELECT cand{tag}.batch_id,
               CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT)
                   AS n_shared,
               CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles)))
                   AS BIGINT) AS n_union
        FROM cand{tag}
        JOIN sh sa ON cand{tag}.batch_id = sa.doc_id
        JOIN sh sb ON cand{tag}.corpus_id = sb.doc_id
    ),
    agg{tag} AS (
        SELECT batch_id, COUNT(*) AS n_candidates,
               CAST(SUM(CASE WHEN 2 * n_shared >= n_union
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_verified_dups
        FROM ver{tag} GROUP BY 1
    ),
    dec{tag} AS (
        SELECT b.doc_id AS batch_id,
               COALESCE(a.n_candidates, 0) AS n_candidates,
               COALESCE(a.n_verified_dups, 0) AS n_verified_dups,
               COALESCE(a.n_verified_dups, 0) > 0 AS is_near_dup
        FROM base b LEFT JOIN agg{tag} a ON b.doc_id = a.batch_id
        WHERE {batch_pred.format(col='b.doc_id')}
    )"""

    idx1_filter = (
        f" AND NOT ({delete_pred})" if delete_pred is not None else ""
    )
    return f"""{_minhash_cte_prefix(_REPLAY_BASE_SQL)},
    idx1 AS (SELECT doc_id, band_key FROM bands
             WHERE doc_id < 100000{idx1_filter}),
    {decisions('1', "{col} >= 100000 AND {col} < 400000", 'idx1').lstrip()},
    acc1 AS (SELECT batch_id AS doc_id FROM dec1 WHERE NOT is_near_dup),
    idx2 AS (
        SELECT doc_id, band_key FROM idx1
        UNION ALL
        SELECT bands.doc_id, band_key FROM bands JOIN acc1 USING (doc_id)
    ),
    {decisions('2', "{col} >= 400000", 'idx2').lstrip()}
    SELECT CAST(1 AS INTEGER) AS batch_no, * FROM dec1
    UNION ALL
    SELECT CAST(2 AS INTEGER) AS batch_no, * FROM dec2
    """


def _clone_replay_index(spark: SparkSession, sf_dir: str, name: str):
    """Writable clone of the fingerprint-keyed corpus index under a
    fresh ``scratch_dir(name)`` — the replay must start from a known
    state to be hash-checkable and it MUTATES its index.

    Hardlink, don't copy: published artifact part-files are immutable
    (build_once only ever atomic-renames whole generations, and the
    replay's appends create NEW part files in the clone dir), so the
    clone shares blocks safely — measured ~2 s of byte copying saved
    at sf0.1, and the same trick is how table-format snapshots make
    "clone then mutate" free at 100 TB (metadata-only copy)."""
    import shutil

    from ..textops.neardup_index import (
        BANDS_SUBDIR,
        HASHES_SUBDIR,
        ROWS_SUBDIR,
        NearDupIndex,
    )
    from .load import scratch_dir

    src = corpus_neardup_index(spark, sf_dir)
    root = scratch_dir(name)

    def _link_or_copy(s: str, d: str) -> None:
        try:
            os.link(s, d)
        except OSError:  # cross-device scratch root → degrade to a copy
            shutil.copy2(s, d)

    for sub in (BANDS_SUBDIR, ROWS_SUBDIR, HASHES_SUBDIR):
        shutil.copytree(
            os.path.join(src.root, sub),
            os.path.join(root, sub),
            copy_function=_link_or_copy,
        )
    # the copy happened outside Spark's write path, so the session's
    # FileStatusCache still holds the PREVIOUS run's listing for this
    # scratch path — refresh or the re-run reads deleted file names
    spark.catalog.refreshByPath(root)
    return NearDupIndex(spark, root)


def _replay_batches(docs: DataFrame):
    """The two deterministic ingest batches of the replay scenario
    (see _REPLAY_BASE_SQL above for the planted classes), from the
    (doc_id, text) originals."""
    docs = docs.select("doc_id", "text")
    rev = F.array_join(F.reverse(F.split(F.col("text"), " ")), " ")
    b1 = (
        docs.filter(F.col("doc_id") % 20 == 0)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.lit("xqzv "), F.col("text")).alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 20 == 10).select(
                (F.col("doc_id") + 300000).alias("doc_id"), rev.alias("text")
            )
        )
    )
    b2 = (
        docs.filter(F.col("doc_id") % 40 == 10)
        .select(
            (F.col("doc_id") + 400000).alias("doc_id"),
            F.concat(F.lit("qjkx "), rev).alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 20 == 5).select(
                (F.col("doc_id") + 500000).alias("doc_id"),
                F.concat(F.lit("wvux "), F.col("text")).alias("text"),
            )
        )
    )
    return b1, b2


@register(
    "neardup_ingest_replay",
    oracle=_ingest_replay_oracle_sql(),
    survey_ref="fuzzy dedup: two-batch ingest loop (probe + append + cross-batch)",
)
def neardup_ingest_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL production ingestion loop, hash-checked: two consecutive
    batches run through :meth:`..textops.neardup_index.NearDupIndex.
    ingest_batch` against a fresh index — batch 1's accepted documents
    are appended, and batch 2 contains near-dups OF THOSE documents, so
    its decisions prove the cross-batch append actually happened (the
    r5 gap: the loop existed but was pytest-only).

    Scale shape: identical to :func:`incremental_neardup_filter` per
    batch (batch bands broadcast, corpus index probed in place,
    verification candidates-only) plus the append — idempotent,
    column-pruned id guard, parquet append as the local stand-in for a
    transactional table commit. The replay must start from a known
    state to be hash-checkable, and it MUTATES its index, so it clones
    the fingerprint-keyed :func:`corpus_neardup_index` artifact (a file
    copy — the corpus is the same originals-only relation, and artifact
    content is deterministic, so the clone hash-matches a fresh build
    without recomputing shingles/signatures; production replays against
    a table snapshot the same way)."""
    index = _clone_replay_index(spark, sf_dir, "neardup_ingest_replay")
    b1, b2 = _replay_batches(load_table(spark, sf_dir, "documents"))
    # The replay runs at the streaming drain's shuffle width
    # (streaming.events.DRAIN_SHUFFLE_PARTITIONS), so it and
    # stream_neardup_ingest_replay execute the same ingest: each step
    # chains several shuffles over a few-hundred-row batch, and
    # 32-partition exchanges pay task/commit overhead on kilobytes
    # (measured 7.0 s → 5.2 s at sf0.1 with 8). ingest_batch is eager
    # (its decisions come back as a driver-built LocalRelation), so the
    # scoped width governs all of its execution.
    with session_conf_scope(
        spark, "spark.sql.shuffle.partitions", DRAIN_SHUFFLE_PARTITIONS
    ):
        d1 = index.ingest_batch(b1).withColumn("batch_no", F.lit(1).cast("int"))
        d2 = index.ingest_batch(b2).withColumn("batch_no", F.lit(2).cast("int"))
    return d1.unionByName(d2).select(
        "batch_no", "batch_id", "n_candidates", "n_verified_dups", "is_near_dup"
    )


@register(
    "stream_neardup_ingest_replay",
    oracle=_ingest_replay_oracle_sql(),
    survey_ref="streaming: continuous near-dup ingestion loop (foreachBatch, full oracle)",
)
def stream_neardup_ingest_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME two-batch ingestion replay, driven by Structured
    Streaming instead of direct calls: the batches land as files, the
    file source drains them one micro-batch each
    (``maxFilesPerTrigger=1``), and ``foreachBatch`` runs
    :meth:`..textops.neardup_index.NearDupIndex.ingest_batch` per epoch
    (:func:`..streaming.neardup.stream_neardup_ingest`) — the
    continuous form a production corpus runs. It hash-matches the
    identical DuckDB oracle as :func:`neardup_ingest_replay`, proving
    the streaming drain is decision-for-decision equivalent to the
    batch loop (batch 2's dups-of-accepted-batch-1-docs detect ONLY if
    epoch 1's index append committed before epoch 2's probe).

    ``batch_no`` is derived from the replay's disjoint id ranges rather
    than the epoch counter so the output is agnostic to empty epochs;
    the ledger's epoch ids are exercised by ``tests/test_streaming.py``.
    File order is pinned via mtimes (the file source processes oldest
    first) — the streaming analogue of the replay's known-state
    requirement."""
    from .load import scratch_dir
    from ..streaming.neardup import stream_neardup_ingest

    index = _clone_replay_index(spark, sf_dir, "stream_neardup_replay/index")
    b1, b2 = _replay_batches(load_table(spark, sf_dir, "documents"))
    root = scratch_dir("stream_neardup_replay/run")
    src = os.path.join(root, "incoming")
    b1.coalesce(1).write.parquet(os.path.join(src, "batch1"))
    b2.coalesce(1).write.parquet(os.path.join(src, "batch2"))
    t0 = os.stat(os.path.join(src, "batch1")).st_mtime
    for sub, off in (("batch1", 0), ("batch2", 60)):
        for walk_root, _, files in os.walk(os.path.join(src, sub)):
            for f in files:
                p = os.path.join(walk_root, f)
                os.utime(p, (t0 + off, t0 + off))
    ledger = stream_neardup_ingest(
        spark,
        os.path.join(src, "*"),
        index,
        os.path.join(root, "decisions"),
        os.path.join(root, "ckpt"),
    )
    return ledger.select(
        F.when(F.col("batch_id") < 400000, 1).otherwise(2).cast("int").alias(
            "batch_no"
        ),
        "batch_id",
        "n_candidates",
        "n_verified_dups",
        "is_near_dup",
    )


@register(
    "neardup_compacted_ingest_replay",
    oracle=_ingest_replay_oracle_sql(),
    survey_ref="fuzzy dedup: ingest loop with mid-loop index compaction (decisions invariant)",
)
def neardup_compacted_ingest_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-batch ingestion replay with an index COMPACTION between
    the batches: after batch 1's appends, :meth:`..textops.
    neardup_index.NearDupIndex.compact` rewrites the rows/bands/roster
    trees (each ingest otherwise accumulates one small file set per
    table per epoch — the long-running loop's object-store listing
    problem), then batch 2 probes the compacted index. It hash-matches
    the identical DuckDB oracle as :func:`neardup_ingest_replay`:
    batch 2 still detects near-dups OF BATCH-1 DOCS (the appended
    bands survived the rewrite byte-for-meaning), the replay guard
    still sees batch-1's roster rows, and candidate/verify counts are
    unchanged — compaction is invisible to the loop's semantics, which
    is the whole contract of a maintenance op."""
    index = _clone_replay_index(spark, sf_dir, "neardup_compacted_replay")
    b1, b2 = _replay_batches(load_table(spark, sf_dir, "documents"))
    with session_conf_scope(
        spark, "spark.sql.shuffle.partitions", DRAIN_SHUFFLE_PARTITIONS
    ):
        d1 = index.ingest_batch(b1).withColumn("batch_no", F.lit(1).cast("int"))
        index.compact()
        d2 = index.ingest_batch(b2).withColumn("batch_no", F.lit(2).cast("int"))
    return d1.unionByName(d2).select(
        "batch_no", "batch_id", "n_candidates", "n_verified_dups", "is_near_dup"
    )


@register(
    "neardup_store_delete",
    # same two-batch replay oracle, with the tombstoned originals
    # removed from the initial index: their planted near-dups flip to
    # ACCEPTED (suppressor gone), get appended, and batch 2's
    # cross-batch decisions reflect the enlarged index — all computed
    # by the one CTE chain, nothing assumed
    oracle=_ingest_replay_oracle_sql(delete_pred="doc_id % 20 = 0"),
    survey_ref="fuzzy dedup: takedown deletion from the maintained near-dup index (tombstones)",
)
def neardup_store_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Takedown deletion from the maintained near-dup index — the
    fourth and last maintained artifact to get the tombstone
    lifecycle: every ``doc_id % 20 = 0`` original is deleted from the
    cloned corpus index (:meth:`..textops.neardup_index.NearDupIndex.
    delete_docs`, appended TWICE — the ledger replay guard must no-op),
    then the standard two-batch replay runs. The deletion's semantics
    are the interesting part and the oracle computes them end-to-end:
    batch 1's ``xqzv``-prefixed near-dups of the deleted docs are now
    ACCEPTED (a removed document must stop suppressing new ones — the
    whole point of a takedown), they get APPENDED, and batch 2 probes
    the enlarged index. Between the batches :meth:`~..textops.
    neardup_index.NearDupIndex.compact` applies the mask PHYSICALLY
    (all three trees rewritten without the masked rows, tombstone
    files dropped, ledger kept) — so batch 2's matching decisions also
    prove the logical mask and the physical erasure agree."""
    index = _clone_replay_index(spark, sf_dir, "neardup_store_delete")
    docs = load_table(spark, sf_dir, "documents")
    dead = docs.filter(F.col("doc_id") % 20 == 0).select("doc_id")
    index.delete_docs(dead, 0)
    index.delete_docs(dead, 0)  # replayed tombstone batch: no-op
    b1, b2 = _replay_batches(docs)
    with session_conf_scope(
        spark, "spark.sql.shuffle.partitions", DRAIN_SHUFFLE_PARTITIONS
    ):
        d1 = index.ingest_batch(b1).withColumn("batch_no", F.lit(1).cast("int"))
        index.compact()  # physical erasure between the batches
        d2 = index.ingest_batch(b2).withColumn("batch_no", F.lit(2).cast("int"))
    return d1.unionByName(d2).select(
        "batch_no", "batch_id", "n_candidates", "n_verified_dups", "is_near_dup"
    )
