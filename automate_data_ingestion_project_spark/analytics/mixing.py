"""Corpus-mixing queries: deterministic per-source sampling, domain
capping, and token-budget sequence packing over ``documents``.

The shapes every LLM training-data build runs:

- ``corpus_sample_mix`` — per-source sampling at per-source rates
  (the "mixture weights" step). Random sampling is useless at
  100 TB — reruns must keep the SAME documents — so the keep/drop
  decision is a pure function of ``doc_id``: 56-bit md5 hash mod
  100 compared to the source's rate. Narrow map + one tiny
  aggregate; runs at parquet scan speed and is trivially
  re-entrant (append-only corpora keep their prior decisions).
- ``pack_sequences`` — pack documents into fixed token-budget
  training sequences by contiguous concatenation: cumulative token
  count per source (ordered by ``doc_id``), sequence id =
  starting-offset ``div`` budget. One shuffle: the window's
  ``source`` partitioning also satisfies the (source, seq_id)
  groupBy.
- ``source_doc_cap`` / ``source_token_budget_cap`` (r9) — domain
  capping by document count and by token budget, in deterministic
  scrambled-hash order; both avoid any window whose partition grows
  with a source (two-phase salted top-K; two-phase prefix sum in
  scramble space — see each docstring).
- ``export_token_shards`` (r10) — the terminal materialization:
  write the corpus as token-bounded shards in deterministic global
  scrambled order (global two-phase prefix sum; hash-clustered
  partitionBy write; stats recomputed from the WRITTEN files).

100 TB note for packing: a single ordered window per source
serializes that source on one task. At real scale the same operator
runs per (source, shard) with shard base offsets from a two-phase
prefix-sum (count tokens per shard, broadcast the running totals) —
the binning arithmetic is unchanged. The fixture-scale query keeps
the one-window form because it is the semantics being checked.

Beyond-reference family (north star: LLM-pipeline curation);
fixtures: ``documents.parquet``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..textops import analysis as ta
from .registry import register

SEQ_BUDGET = 256  # tokens per packed training sequence


def _scramble(dialect: str, tag: str) -> str:
    """56-bit md5 scramble of doc_id — the deterministic stand-in for
    'uniformly random order', identical value in both engines, so the
    capped selection is a pure function of the corpus (reruns and the
    oracle pick the SAME documents)."""
    if dialect == "spark":
        s = f"concat('{tag}:', cast(doc_id as string))"
        return f"cast(conv(substr(md5({s}), 1, 14), 16, 10) as bigint)"
    s = f"concat('{tag}:', cast(doc_id as varchar))"
    return f"CAST(concat('0x', substr(md5({s}), 1, 14)) AS BIGINT)"


def _hash_pct(dialect: str) -> str:
    """hash56(doc_id) % 100 — identical value in both engines (one
    recipe: the shared :func:`_scramble`, so the engine pair cannot
    drift apart)."""
    return f"{_scramble(dialect, 'mix')} % 100"


def _rate(dialect: str) -> str:
    """Per-source mixture rate in [10, 94], derived from the numeric
    source suffix so the config needs no side table."""
    return f"10 + 7 * (cast(substr(source, 4) as integer) % 13)"


@register(
    "corpus_sample_mix",
    oracle=f"""
    SELECT source,
           {_rate("duckdb")} AS rate_pct,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER ({_hash_pct("duckdb")} < {_rate("duckdb")})
               AS n_sampled,
           CAST(COALESCE(SUM(n_chars) FILTER (
               {_hash_pct("duckdb")} < {_rate("duckdb")}), 0) AS BIGINT)
               AS chars_sampled
    FROM documents
    GROUP BY 1
    """,
    survey_ref="LLM curation: deterministic corpus mixing weights (north star)",
)
def corpus_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-weight sampling report: docs kept per source when each
    source samples at its own rate via the deterministic hash rule.

    Plan: scan → narrow hash/compare map → 20-group aggregate. No
    joins, no window, nothing that grows with corpus size except the
    scan itself.
    """
    docs = load_table(spark, sf_dir, "documents")
    kept = F.expr(_hash_pct("spark")) < F.expr(_rate("spark"))
    return (
        docs.select(
            "source",
            "n_chars",
            F.expr(_rate("spark")).alias("rate_pct"),
            kept.alias("kept"),
        )
        .groupBy("source", "rate_pct")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("kept"), 1)).alias("n_sampled"),
            F.coalesce(
                F.sum(F.when(F.col("kept"), F.col("n_chars"))), F.lit(0)
            ).alias("chars_sampled"),
        )
        .select(
            "source", "rate_pct", "n_docs", "n_sampled", "chars_sampled"
        )
    )


@register(
    "pack_sequences",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, source,
               {ta.n_tokens("text", "duckdb")} AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT doc_id, source, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM sized
    )
    SELECT source,
           (cum_tokens - n_tokens) // {SEQ_BUDGET} AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
           MIN(doc_id) AS first_doc_id,
           MAX(doc_id) AS last_doc_id
    FROM cum
    GROUP BY 1, 2
    """,
    survey_ref="LLM curation: token-budget sequence packing (north star)",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous-concatenation packing: per source, documents in
    ``doc_id`` order fill 256-token sequences; a document belongs to
    the sequence its starting offset falls in.

    Plan: one shuffle (window hash partition on ``source``); the
    (source, seq_id) groupBy reuses that partitioning, so count/sum/
    min/max aggregate shuffle-free on top of the window.
    """
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "source",
        F.expr(ta.n_tokens("text", "spark")).alias("n_tokens"),
    )
    win = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sized.withColumn("cum_tokens", F.sum("n_tokens").over(win))
    return (
        cum.withColumn(
            "seq_id",
            F.expr(f"(cum_tokens - n_tokens) div {SEQ_BUDGET}"),
        )
        .groupBy("source", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
    )


DOC_CAP = 10  # max documents kept per source (domain cap)
TOKEN_BUDGET = 600  # max tokens kept per source (token-budget cap)
_CAP_SALTS = 8  # phase-1 fan-out of the two-phase per-group top-K
SHARD_BUDGET = 20_000  # tokens per exported corpus shard
_HBUCKET_DIV = 35184372088832  # 2^45: top 11 bits of the 56-bit scramble


@register(
    "source_doc_cap",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY {_scramble("duckdb", "cap")}, doc_id
               ) AS keep_rank
        FROM documents
    )
    SELECT doc_id, source, keep_rank
    FROM ranked WHERE keep_rank <= {DOC_CAP}
    """,
    survey_ref="LLM curation: per-source document cap (domain capping, north star)",
)
def source_doc_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain capping by document count: keep at most ``DOC_CAP`` docs
    per source, chosen in deterministic scrambled-hash order (every
    real corpus build caps its dominant domains — CommonCrawl-style
    sources would otherwise drown the mixture).

    Scale shape — the naive per-source ROW_NUMBER window sorts each
    source's FULL document set on one task (a 10 PB crawl source =
    one task). This runs the two-phase top-K instead: phase 1 ranks
    within (source, salt) cells — ``_CAP_SALTS``× smaller sorts, any of
    which may hold at most the whole top-K — and keeps only each
    cell's top-``DOC_CAP``; phase 2 re-ranks the ≤ salts·K survivors per
    source, a bounded relation regardless of corpus size. Every
    global top-K member is a cell top-K member, so the result is
    exactly the one-window answer (the oracle computes that form).
    """
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "source",
        F.expr(_scramble("spark", "cap")).alias("_hkey"),
        (F.col("doc_id") % _CAP_SALTS).alias("_salt"),
    )
    cell = Window.partitionBy("source", "_salt").orderBy("_hkey", "doc_id")
    survivors = keyed.withColumn(
        "_cell_rank", F.row_number().over(cell)
    ).filter(F.col("_cell_rank") <= DOC_CAP)
    final = Window.partitionBy("source").orderBy("_hkey", "doc_id")
    return (
        survivors.withColumn("keep_rank", F.row_number().over(final))
        .filter(F.col("keep_rank") <= DOC_CAP)
        .select("doc_id", "source", "keep_rank")
    )


@register(
    "source_token_budget_cap",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, source,
               {ta.n_tokens("text", "duckdb")} AS n_tokens,
               {_scramble("duckdb", "budget")} AS hkey
        FROM documents
    ),
    cum AS (
        SELECT doc_id, source, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY hkey, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM sized
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM cum WHERE cum_tokens <= {TOKEN_BUDGET}
    """,
    survey_ref="LLM curation: per-source token budget cap (north star)",
)
def source_token_budget_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain capping by token budget: walk each source's documents in
    deterministic scrambled order and keep documents while the
    source's running token count stays within ``TOKEN_BUDGET`` (the
    "cap source X at N tokens" rule in every published data recipe —
    token budgets, not doc counts, are what mixture specs are written
    in).

    Scale shape — same objection as :func:`source_doc_cap`: a
    per-source ordered window serializes the source. This computes the
    running count with the two-phase prefix sum IN SCRAMBLE SPACE:
    hash-range buckets (top bits of the 56-bit scramble key) are
    contiguous in the walk order, so (1) per-(source, bucket) token
    totals partial-aggregate map-side, (2) running offsets need a
    window over the tiny (source, bucket) relation only, (3)
    within-bucket cumulative sums run under a partitioned window whose
    partitions are 1/2048th of a source. No window anywhere whose
    partition grows with the full source. (Pattern proven by
    ``weighted_systematic_sample``; here it composes with a scrambled
    — not natural-key — walk order.)
    """
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "source",
        F.expr(ta.n_tokens("text", "spark")).alias("n_tokens"),
        F.expr(_scramble("spark", "budget")).alias("_hkey"),
    ).withColumn("_hbucket", F.expr(f"_hkey div {_HBUCKET_DIV}"))
    totals = sized.groupBy("source", "_hbucket").agg(
        F.sum("n_tokens").alias("_total")
    )
    off_w = (
        Window.partitionBy("source")
        .orderBy("_hbucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "source",
        "_hbucket",
        F.coalesce(F.sum("_total").over(off_w), F.lit(0)).alias("_offset"),
    )
    in_bucket = (
        Window.partitionBy("source", "_hbucket")
        .orderBy("_hkey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = sized.join(F.broadcast(offsets), ["source", "_hbucket"]).withColumn(
        "cum_tokens", F.col("_offset") + F.sum("n_tokens").over(in_bucket)
    )
    return cum.filter(F.col("cum_tokens") <= TOKEN_BUDGET).select(
        "doc_id", "source", "n_tokens", "cum_tokens"
    )


def scrambled_cum_tokens(
    sized: DataFrame, tag: str, by: tuple[str, ...] = ()
) -> DataFrame:
    """Running token count over ``sized`` (needs ``doc_id``,
    ``n_tokens`` [+ ``by`` cols]) in deterministic scrambled order,
    optionally per ``by`` group — the two-phase prefix sum IN SCRAMBLE
    SPACE that :func:`source_token_budget_cap` and
    :func:`export_token_shards` pioneered, factored for reuse: hash-range
    buckets (top 11 bits of the 56-bit scramble) are contiguous in the
    walk order, so per-bucket totals partial-aggregate map-side, running
    offsets need a window over only the tiny (by, bucket) relation
    (≤2^11 rows per group, broadcast back), and the row-scale cumulative
    sum runs under a bucket-partitioned window. No window anywhere whose
    partition grows with the corpus.

    Returns the input plus ``_hkey`` (the scramble key, for callers that
    need the walk order) and ``cum_tokens`` (inclusive running total).
    """
    keyed = sized.withColumn(
        "_hkey", F.expr(_scramble("spark", tag))
    ).withColumn("_hbucket", F.expr(f"_hkey div {_HBUCKET_DIV}"))
    totals = keyed.groupBy(*by, "_hbucket").agg(
        F.sum("n_tokens").alias("_total")
    )
    off_w = (
        Window.partitionBy(*by)
        .orderBy("_hbucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        *by,
        "_hbucket",
        F.coalesce(F.sum("_total").over(off_w), F.lit(0)).alias("_offset"),
    )
    in_bucket = (
        Window.partitionBy(*by, "_hbucket")
        .orderBy("_hkey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        keyed.join(F.broadcast(offsets), [*by, "_hbucket"])
        .withColumn(
            "cum_tokens", F.col("_offset") + F.sum("n_tokens").over(in_bucket)
        )
        .drop("_hbucket", "_offset")
    )


def assign_token_shards(
    sized: DataFrame, tag: str, budget: int, start: int = 0
) -> DataFrame:
    """Shard assignment: a document belongs to the shard its starting
    token offset falls in, walking ``sized`` in deterministic scrambled
    order from global offset ``start`` (0 for a fresh export; the
    prior batches' token total for an incremental append). Adds
    ``cum_tokens`` and ``shard_id``."""
    cum = scrambled_cum_tokens(sized, tag)
    return cum.withColumn(
        "shard_id",
        F.expr(f"({start} + cum_tokens - n_tokens) div {budget}"),
    )


@register(
    "export_token_shards",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id,
               {ta.n_tokens("text", "duckdb")} AS n_tokens,
               {_scramble("duckdb", "shard")} AS hkey
        FROM documents
    ),
    cum AS (
        SELECT doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   ORDER BY hkey, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM sized
    )
    SELECT (cum_tokens - n_tokens) // {SHARD_BUDGET} AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           MIN(doc_id) AS first_doc_id,
           MAX(doc_id) AS last_doc_id
    FROM cum
    GROUP BY 1
    """,
    survey_ref="LLM curation: token-bounded shard export (north star)",
)
def export_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's LAST step: materialize the corpus as token-bounded
    output shards (every training-data build ends by writing "shard
    files of ~N tokens each" for the loader to stream). A document
    belongs to the shard its starting offset falls in, in a
    deterministic GLOBAL scrambled order — reruns produce byte-identical
    shards, and the returned stats are computed from the WRITTEN files
    (the read-back proves the materialization, not just the plan).

    Scale shape — the naive form is a single global ordered window: one
    task sorts the whole corpus, the worst window in this module. This
    runs the two-phase prefix sum in scramble space GLOBALLY: the only
    unpartitioned window is over the ≤2^11-row bucket-totals relation
    (constant-bounded, broadcast back); the row-scale cumulative sum is
    partitioned by hash-range bucket. The write hash-clusters by
    ``shard_id`` BEFORE ``partitionBy`` so each task writes only its
    own shards' files (the repartition(n, cols)-then-partitionBy rule —
    without it every task holds every shard and the layout explodes to
    tasks×shards files).
    """
    import os

    from .load import scratch_dir

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "text",
        F.expr(ta.n_tokens("text", "spark")).alias("n_tokens"),
        F.expr(_scramble("spark", "shard")).alias("_hkey"),
    ).withColumn("_hbucket", F.expr(f"_hkey div {_HBUCKET_DIV}"))
    totals = sized.groupBy("_hbucket").agg(F.sum("n_tokens").alias("_total"))
    # bounded unpartitioned window: orders only the ~N/1000 bucket
    # totals (two-phase prefix sum), never the corpus
    off_w = Window.orderBy("_hbucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "_hbucket",
        F.coalesce(F.sum("_total").over(off_w), F.lit(0)).alias("_offset"),
    )
    in_bucket = (
        Window.partitionBy("_hbucket")
        .orderBy("_hkey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    assigned = (
        sized.join(F.broadcast(offsets), "_hbucket")
        .withColumn(
            "cum_tokens", F.col("_offset") + F.sum("n_tokens").over(in_bucket)
        )
        .withColumn(
            "shard_id", F.expr(f"(cum_tokens - n_tokens) div {SHARD_BUDGET}")
        )
    )
    out = os.path.join(scratch_dir("token_shards"), "shards")
    (
        assigned.select("doc_id", "text", "n_tokens", "shard_id")
        .repartition("shard_id")
        # deterministic file CONTENTS, not just membership: shuffle
        # fetch order varies run to run, so without the in-task sort
        # two reruns write the same rows in different orders and the
        # byte-identity contract (checksum-based shard caching) breaks
        .sortWithinPartitions("shard_id", "doc_id")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(out)
    )
    exported = spark.read.parquet(out)
    return (
        exported.groupBy(F.col("shard_id").cast("bigint").alias("shard_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
    )


def shard_store_paths(root: str) -> tuple[str, str]:
    """(shards_dir, ledger_dir) under an incremental shard-store root.
    The ledger sits BESIDE the shard tree, not inside it, so a plain
    ``spark.read.parquet(shards_dir)`` never sees ledger files."""
    import os

    return os.path.join(root, "shards"), os.path.join(root, "ledger")


def append_token_shard_batch(
    spark: SparkSession,
    docs: DataFrame,
    root: str,
    batch_seq: int,
    budget: int = SHARD_BUDGET,
) -> None:
    """Incremental shard export: append a document batch (``doc_id``,
    ``text``) to an existing token-bounded shard set WITHOUT rewriting
    closed shards — the terminal-step capability a growing corpus
    needs (a crawl refresh must not re-materialize 100 TB of already
    exported shards).

    Walk order is (batch_seq, scramble, doc_id): each batch's docs are
    walked in deterministic scrambled order starting at the global
    token offset where the previous batch ended (from the ledger), so
    the first new docs FILL the last partial shard and the rest open
    new shards. A from-scratch export over the concatenated batches in
    that same order produces the identical shard assignment — the
    equivalence the registered query's oracle checks.

    Durability is :func:`..io.maintenance.commit_batch`'s ledger
    protocol (replay no-op, self-heal of this batch's own leaves, empty
    batches, ledger row ``(batch_seq, n_docs, n_tokens)`` written last,
    single writer per store). Files land under
    ``shards/shard_id=K/batch_seq=B/``; files of earlier batches are
    never touched (byte-stable closed shards, asserted by checksum in
    tests). What this store adds is ORDER: ``batch_seq`` must not be
    below any committed one, because the offset arithmetic chains
    batches — an out-of-order batch raises ``ValueError`` before
    anything on disk changes.

    Scale shape: shard assignment is :func:`assign_token_shards` (no
    corpus-sized window); the write hash-clusters by ``shard_id``
    before ``partitionBy`` (tasks own their shards). The ledger counts
    are read back from the written files driver-side when they are
    local and batch-sized (:func:`..io.maintenance.footer_column_sum`),
    with a distributed read-back of the same files otherwise.
    """
    from ..io.maintenance import commit_batch, footer_column_sum

    shards_path, ledger_path = shard_store_paths(root)

    def write(committed):
        top = max((r.batch_seq for r in committed), default=0)
        if batch_seq < top:
            raise ValueError(
                f"shard appends are ordered: batch_seq {batch_seq} <= "
                f"committed max {top}"
            )
        sized = docs.select(
            "doc_id",
            "text",
            F.expr(ta.n_tokens("text", "spark")).alias("n_tokens"),
        )
        start = sum(r.n_tokens for r in committed)
        return (
            assign_token_shards(sized, "shard", budget, start=start)
            .select("doc_id", "text", "n_tokens", "shard_id")
            .withColumn("batch_seq", F.lit(batch_seq))
            .repartition("shard_id")
            .sortWithinPartitions("shard_id", "doc_id")
            .write.mode("append")
            .partitionBy("shard_id", "batch_seq")
        )

    def stats(fs, files):
        got = footer_column_sum(spark, fs, files, "n_tokens")
        if got is None:
            r = (
                spark.read.option("basePath", shards_path)
                .parquet(*[s.getPath().toString() for s in files])
                .agg(
                    F.count("*").alias("n_docs"),
                    F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("n_tokens"),
                )
                .first()
            )
            got = (r.n_docs, r.n_tokens)
        return {"n_docs": got[0], "n_tokens": got[1]}

    commit_batch(
        spark, shards_path, ledger_path, batch_seq, "shard_id=*/", write, stats
    )


# the two-batch (doc_id % 3) incremental export and its streaming twin
# hash-match this SAME from-scratch oracle: docs walked in
# (batch_seq, scramble, doc_id) order with one global running total
_TWO_BATCH_SHARD_ORACLE = f"""
    WITH sized AS (
        SELECT doc_id,
               {ta.n_tokens("text", "duckdb")} AS n_tokens,
               {_scramble("duckdb", "shard")} AS hkey,
               CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS batch_seq
        FROM documents
    ),
    cum AS (
        SELECT doc_id, n_tokens, batch_seq,
               CAST(SUM(n_tokens) OVER (
                   ORDER BY batch_seq, hkey, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM sized
    )
    SELECT (cum_tokens - n_tokens) // {SHARD_BUDGET} AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           COUNT(DISTINCT batch_seq) AS n_batches,
           MIN(doc_id) AS first_doc_id,
           MAX(doc_id) AS last_doc_id
    FROM cum
    GROUP BY 1
    """


def _two_batch_shard_stats(exported: DataFrame) -> DataFrame:
    """Per-shard stats over an exported shard tree — the shared output
    shape of the incremental export and its streaming twin."""
    return exported.groupBy(
        F.col("shard_id").cast("bigint").alias("shard_id")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
        F.countDistinct("batch_seq").alias("n_batches"),
        F.min("doc_id").alias("first_doc_id"),
        F.max("doc_id").alias("last_doc_id"),
    )


@register(
    "incremental_shard_export",
    oracle=_TWO_BATCH_SHARD_ORACLE,
    survey_ref="LLM curation: incremental token-shard append (north star)",
)
def incremental_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-batch incremental export: batch 0 (doc_id % 3 != 0) builds
    the shard set, batch 1 (the rest) is APPENDED — its first docs fill
    batch 0's last partial shard (shards with ``n_batches = 2`` in the
    output prove cross-batch filling), closed shards are not rewritten
    (byte-stability is checksum-asserted in ``tests/test_mixing.py``).
    The oracle computes the equivalent from-scratch export in the
    (batch_seq, scramble, doc_id) walk order, so a hash match proves
    the incremental path lands every doc in the same shard a full
    re-export would."""
    import os

    from .load import scratch_dir

    docs = load_table(spark, sf_dir, "documents")
    root = scratch_dir("incremental_shards")
    append_token_shard_batch(
        spark, docs.filter(F.col("doc_id") % 3 != 0), root, 0
    )
    append_token_shard_batch(
        spark, docs.filter(F.col("doc_id") % 3 == 0), root, 1
    )
    shards_path, ledger_path = shard_store_paths(root)
    # committed-read isolation: only ledger-committed generations are
    # visible (a pure PartitionFilters prune on batch_seq), so a reader
    # racing a crashed appender never sees its orphan leaves
    from ..io.maintenance import read_committed

    return _two_batch_shard_stats(
        read_committed(spark, shards_path, ledger_path)
    )


@register(
    "shard_store_ledger_checkpoint",
    oracle=_TWO_BATCH_SHARD_ORACLE,
    survey_ref="LLM curation: ledger checkpointing (Delta log-checkpoint, protocol-transparent)",
)
def shard_store_ledger_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ledger CHECKPOINTING is protocol-transparent: after the standard
    two-batch append, :func:`..io.maintenance.checkpoint_ledger` folds
    the per-commit files into one parquet (Delta's log-checkpoint move
    — at 10k epochs the replay guard/committed read/vacuum go from 10k
    file opens to one; measured 34x at 500 epochs, SCALE.md), then the
    protocol is exercised ACROSS the fold: a replayed batch still
    no-ops at the guard (its row now lives in the checkpoint), the
    ordered-commit validation still passes (per-row commit mtimes are
    preserved at fold time), and the committed read hash-matches the
    same from-scratch oracle as the uncheckpointed
    ``incremental_shard_export`` — byte-identical behavior, one
    metadata file."""
    from .load import scratch_dir
    from ..io.maintenance import (
        assert_ordered_commits,
        checkpoint_ledger,
        read_committed,
    )

    docs = load_table(spark, sf_dir, "documents")
    root = scratch_dir("shard_store_ledger_checkpoint")
    append_token_shard_batch(
        spark, docs.filter(F.col("doc_id") % 3 != 0), root, 0
    )
    append_token_shard_batch(
        spark, docs.filter(F.col("doc_id") % 3 == 0), root, 1
    )
    shards_path, ledger_path = shard_store_paths(root)
    checkpoint_ledger(spark, ledger_path)
    # the guard and the temporal validation must survive the fold
    append_token_shard_batch(
        spark, docs.filter(F.col("doc_id") % 3 == 0), root, 1
    )  # replay: no-op against the checkpointed row
    assert_ordered_commits(spark, ledger_path)
    return _two_batch_shard_stats(
        read_committed(spark, shards_path, ledger_path)
    )


@register(
    "stream_shard_export",
    oracle=_TWO_BATCH_SHARD_ORACLE,
    survey_ref="streaming: continuous token-shard export (foreachBatch, full oracle)",
)
def stream_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME two-batch shard export, driven by Structured Streaming
    instead of direct calls: the batches land as files, the file source
    drains them one micro-batch each (``maxFilesPerTrigger=1``), and
    ``foreachBatch`` runs :func:`append_token_shard_batch` with the
    epoch id as the batch sequence
    (:func:`..streaming.shards.stream_shard_export`) — the continuous
    exporter a production corpus runs as documents arrive. It
    hash-matches the identical DuckDB oracle as
    :func:`incremental_shard_export`, proving the streaming drain is
    shard-for-shard equivalent to both the batch append AND a
    from-scratch export (epoch 1's docs fill the shard epoch 0 left
    partial only if epoch 0's ledger commit landed first).

    File order is pinned via mtimes (the file source processes oldest
    first) — the streaming analogue of the append protocol's ordered
    batch_seq requirement."""
    import os

    from .load import scratch_dir
    from ..streaming.shards import stream_shard_export as drain_shards

    docs = load_table(spark, sf_dir, "documents")
    root = scratch_dir("stream_shard_export")
    src = os.path.join(root, "incoming")
    b0 = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    b0.coalesce(1).write.parquet(os.path.join(src, "batch1"))
    b1.coalesce(1).write.parquet(os.path.join(src, "batch2"))
    t0 = os.stat(os.path.join(src, "batch1")).st_mtime
    for sub, off in (("batch1", 0), ("batch2", 60)):
        for walk_root, _, files in os.walk(os.path.join(src, sub)):
            for f in files:
                p = os.path.join(walk_root, f)
                os.utime(p, (t0 + off, t0 + off))
    exported = drain_shards(
        spark,
        os.path.join(src, "*"),
        os.path.join(root, "store"),
        os.path.join(root, "ckpt"),
    )
    return _two_batch_shard_stats(exported)


def _content_fp(dialect: str) -> str:
    """56-bit order-insensitive content fingerprint term: the shared
    md5-hash56 recipe over ``doc_id:text``, aggregated with ``bit_xor``
    (XOR is commutative/associative, so the per-shard fingerprint is
    independent of row order — comparable across engines, reruns, and
    the incremental/streaming export layouts). Parity is exact: Spark
    ``conv(substr(md5(x),1,14),16,10)`` equals DuckDB
    ``CAST(concat('0x', substr(md5(x),1,14)) AS BIGINT)``."""
    if dialect == "spark":
        return (
            "cast(conv(substr(md5(concat(cast(doc_id as string), ':', "
            "text)), 1, 14), 16, 10) as bigint)"
        )
    return (
        "CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), "
        "':', text)), 1, 14)) AS BIGINT)"
    )


@register(
    "shard_manifest",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, text,
               {ta.n_tokens("text", "duckdb")} AS n_tokens,
               {_scramble("duckdb", "shard")} AS hkey
        FROM documents
    ),
    cum AS (
        SELECT doc_id, text, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   ORDER BY hkey, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM sized
    )
    SELECT (cum_tokens - n_tokens) // {SHARD_BUDGET} AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           bit_xor({_content_fp("duckdb")}) AS content_fp
    FROM cum
    GROUP BY 1
    """,
    survey_ref="LLM curation: shard manifest with content fingerprints (north star)",
)
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest a training dataloader consumes: one row per
    exported shard with doc/token counts and a 56-bit order-insensitive
    CONTENT fingerprint (bit_xor of per-doc ``md5(doc_id:text)``
    hashes), computed from the WRITTEN shard files. The oracle
    recomputes the fingerprint from the source table through the
    assignment arithmetic alone — a hash match therefore proves the
    materialized files carry exactly the right documents with exactly
    the right bytes of text, not merely the right row counts: the
    end-to-end integrity check a 100 TB export ships alongside its
    shards (a loader re-hashing a downloaded shard detects corruption
    or a stale manifest before training on it).

    Plan: the export is :func:`export_token_shards`' machinery
    (scramble-order prefix sum, shard-clustered write); the manifest is
    one groupBy over the read-back with codegen'd hash + XOR — no new
    shuffle beyond the per-shard aggregate."""
    import os

    from .load import scratch_dir

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "text",
        F.expr(ta.n_tokens("text", "spark")).alias("n_tokens"),
    )
    assigned = assign_token_shards(sized, "shard", SHARD_BUDGET)
    out = os.path.join(scratch_dir("shard_manifest"), "shards")
    (
        assigned.select("doc_id", "text", "n_tokens", "shard_id")
        .repartition("shard_id")
        .sortWithinPartitions("shard_id", "doc_id")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(out)
    )
    exported = spark.read.parquet(out)
    return exported.groupBy(
        F.col("shard_id").cast("bigint").alias("shard_id")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
        F.expr(f"bit_xor({_content_fp('spark')})").alias("content_fp"),
    )


def verify_shard_manifest(
    exported: DataFrame, manifest: DataFrame
) -> DataFrame:
    """Consumer-side integrity check: recompute each shard's doc count,
    token total, and 56-bit XOR content fingerprint from the shard
    FILES (``exported``: rows with doc_id/text/n_tokens/shard_id) and
    compare against a ``manifest`` (shard_id/n_docs/shard_tokens/
    content_fp — :func:`shard_manifest`'s output shape). Returns one
    row per shard with an ``ok`` verdict — a loader runs this over a
    downloaded shard set before training on it; any corruption, a
    missing/duplicated file, or a stale manifest flips ``ok`` false
    (text tampering flips the XOR fingerprint, dropped or doubled rows
    flip the counts, and a shard present on only one side shows up
    with nulls on the other via the full outer join).

    Plan: one per-shard aggregate over the files plus a tiny
    full-outer join against the manifest relation (#shards rows) —
    nothing corpus-scale beyond the one scan."""
    recomputed = exported.groupBy(
        F.col("shard_id").cast("bigint").alias("shard_id")
    ).agg(
        F.count("*").alias("got_docs"),
        F.sum("n_tokens").alias("got_tokens"),
        F.expr(f"bit_xor({_content_fp('spark')})").alias("got_fp"),
    )
    m = manifest.select(
        F.col("shard_id").cast("bigint").alias("shard_id"),
        F.col("n_docs").alias("want_docs"),
        F.col("shard_tokens").alias("want_tokens"),
        F.col("content_fp").alias("want_fp"),
    )
    joined = recomputed.join(m, "shard_id", "full_outer")
    ok = (
        F.col("got_docs").eqNullSafe(F.col("want_docs"))
        & F.col("got_tokens").eqNullSafe(F.col("want_tokens"))
        & F.col("got_fp").eqNullSafe(F.col("want_fp"))
    )
    return joined.select(
        "shard_id",
        "got_docs",
        "want_docs",
        "got_tokens",
        "want_tokens",
        "got_fp",
        "want_fp",
        ok.alias("ok"),
    )


@register(
    "shard_store_compaction",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, text,
               {ta.n_tokens("text", "duckdb")} AS n_tokens,
               {_scramble("duckdb", "shard")} AS hkey,
               CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS bseq
        FROM documents
    ),
    cum AS (
        SELECT doc_id, text, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   ORDER BY bseq, hkey, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM sized
    )
    SELECT (cum_tokens - n_tokens) // {SHARD_BUDGET} AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           bit_xor({_content_fp("duckdb")}) AS content_fp
    FROM cum
    GROUP BY 1
    """,
    survey_ref="LLM curation: shard-store compaction (OPTIMIZE counterpart, content-preserving)",
)
def shard_store_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction of the incremental shard store, content-checked: the
    two-batch append (as :func:`incremental_shard_export`) leaves every
    shard split across per-batch files; :func:`..io.maintenance.
    compact_store_tree` rewrites the tree to ONE file per shard in the
    reserved ``batch_seq = -1`` generation, and the output manifests the
    COMPACTED files — per-shard doc/token counts plus the 56-bit
    order-insensitive content fingerprint. The oracle recomputes all
    three from the source table through the two-batch assignment
    arithmetic alone, so a hash match proves compaction preserved every
    document byte-for-byte while collapsing the small files the ledger
    protocol accumulates (one per shard per epoch → one per shard; at
    10k epochs that is the difference between an object-store listing
    problem and a clean scan). The ledger is untouched: committed
    batch_seqs still no-op on replay and the token-offset chain still
    sums ledger rows, so appends continue correctly after compaction —
    pinned by ``tests/test_mixing.py``."""
    import os

    from .load import scratch_dir
    from ..io.maintenance import compact_store_tree

    docs = load_table(spark, sf_dir, "documents")
    root = scratch_dir("shard_store_compaction")
    append_token_shard_batch(
        spark, docs.filter(F.col("doc_id") % 3 != 0), root, 0
    )
    append_token_shard_batch(
        spark, docs.filter(F.col("doc_id") % 3 == 0), root, 1
    )
    shards_path, ledger_path = shard_store_paths(root)
    compact_store_tree(
        spark, shards_path, "shard_id", "doc_id", ledger_path=ledger_path
    )
    return (
        spark.read.parquet(shards_path)
        .groupBy(F.col("shard_id").cast("bigint").alias("shard_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
            F.expr(f"bit_xor({_content_fp('spark')})").alias("content_fp"),
        )
    )


@register(
    "shard_store_asof",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id,
               {ta.n_tokens("text", "duckdb")} AS n_tokens,
               {_scramble("duckdb", "shard")} AS hkey
        FROM documents WHERE doc_id % 3 <> 0
    ),
    cum AS (
        SELECT doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   ORDER BY hkey, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM sized
    )
    SELECT (cum_tokens - n_tokens) // {SHARD_BUDGET} AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           CAST(1 AS BIGINT) AS n_batches,
           MIN(doc_id) AS first_doc_id,
           MAX(doc_id) AS last_doc_id
    FROM cum
    GROUP BY 1
    """,
    survey_ref="LLM curation: shard-store time travel (as-of generation read, partition-pruned)",
)
def shard_store_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel over the incremental shard store: after the SAME
    two-batch append as :func:`incremental_shard_export`, read the
    store AS OF batch 0 — the exact shard set the store held before
    batch 1 committed. Because every batch owns its ``batch_seq=B``
    partition leaves and closed batches are never rewritten, the as-of
    read is a pure partition filter (the scan prunes to the
    generations' directories — ``PartitionFilters`` on ``batch_seq``,
    pinned by ``tests/test_plans.py``) at zero extra storage: Delta's
    VERSION AS OF, priced into the append protocol itself. The oracle
    recomputes batch 0's export from scratch (batch-0 docs only, walked
    in (scramble, doc_id) order), so a hash match proves the historical
    generation is byte-recoverable, not merely that a filter ran. The
    trade is stated, not silent: compaction collapses history, and
    :func:`..io.maintenance.read_store_asof` raises on a compacted
    store."""
    from .load import scratch_dir
    from ..io.maintenance import read_store_asof

    docs = load_table(spark, sf_dir, "documents")
    root = scratch_dir("shard_store_asof")
    append_token_shard_batch(
        spark, docs.filter(F.col("doc_id") % 3 != 0), root, 0
    )
    append_token_shard_batch(
        spark, docs.filter(F.col("doc_id") % 3 == 0), root, 1
    )
    shards_path, ledger_path = shard_store_paths(root)
    # ledger_path engages the ordered-commit validation: the temporal
    # reading of "as of batch 0" is only sound because this store's
    # appends commit in batch_seq order (the token-shard chain enforces
    # it); an unordered store would be refused here
    return _two_batch_shard_stats(
        read_store_asof(spark, shards_path, 0, ledger_path=ledger_path)
    )


@register(
    "shard_store_asof_compacted",
    # identical contract to shard_store_asof: the as-of read of batch 0
    # must still hash-match batch 0's from-scratch export — but HERE
    # generation 0 has been folded into the compacted -1 generation
    # first, so the n_batches column is the literal 1 (every surviving
    # row lives in the single compacted generation)
    oracle=f"""
    WITH sized AS (
        SELECT doc_id,
               {ta.n_tokens("text", "duckdb")} AS n_tokens,
               {_scramble("duckdb", "shard")} AS hkey
        FROM documents WHERE doc_id % 3 <> 0
    ),
    cum AS (
        SELECT doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   ORDER BY hkey, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM sized
    )
    SELECT (cum_tokens - n_tokens) // {SHARD_BUDGET} AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           CAST(1 AS BIGINT) AS n_batches,
           MIN(doc_id) AS first_doc_id,
           MAX(doc_id) AS last_doc_id
    FROM cum
    GROUP BY 1
    """,
    survey_ref="LLM curation: time travel SURVIVES retention compaction (watermarked OPTIMIZE)",
)
def shard_store_asof_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel AFTER compaction — the middle mode Delta calls
    OPTIMIZE-within-retention: after the same two-batch append as
    :func:`shard_store_asof`, generation 0 is compacted
    (``upto_seq=0`` — its per-epoch small files fold into one file per
    shard in the reserved ``-1`` generation, with the fold point
    recorded as the compaction watermark), and the as-of read of batch
    0 still answers: the compacted generation IS generations
    ``0..watermark``, so ``read_store_asof(0)`` serves it directly and
    hash-matches batch 0's from-scratch export. History below the
    watermark would raise (stated retention trade); history above it —
    generation 1 — is preserved byte-identically. At 10k epochs this is
    the difference between keeping time travel and keeping a clean
    file count: the store no longer has to choose."""
    from .load import scratch_dir
    from ..io.maintenance import compact_store_tree, read_store_asof

    docs = load_table(spark, sf_dir, "documents")
    root = scratch_dir("shard_store_asof_compacted")
    append_token_shard_batch(
        spark, docs.filter(F.col("doc_id") % 3 != 0), root, 0
    )
    append_token_shard_batch(
        spark, docs.filter(F.col("doc_id") % 3 == 0), root, 1
    )
    shards_path, ledger_path = shard_store_paths(root)
    compact_store_tree(
        spark, shards_path, "shard_id", "doc_id", upto_seq=0,
        ledger_path=ledger_path,
    )
    return _two_batch_shard_stats(
        read_store_asof(spark, shards_path, 0, ledger_path=ledger_path)
    )


@register(
    "shard_store_delete",
    # both phases must land on the SAME surviving-corpus stats: shard
    # assignment is frozen at append time (a takedown removes rows, it
    # does not re-shard the corpus), so the oracle walks the FULL
    # two-batch export and drops the tombstoned docs afterwards
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, text,
               {ta.n_tokens("text", "duckdb")} AS n_tokens,
               {_scramble("duckdb", "shard")} AS hkey,
               CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS bseq
        FROM documents
    ),
    cum AS (
        SELECT doc_id, text, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   ORDER BY bseq, hkey, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM sized
    ),
    survivors AS (
        SELECT * FROM cum WHERE doc_id % 7 <> 3
    ),
    stats AS (
        SELECT (cum_tokens - n_tokens) // {SHARD_BUDGET} AS shard_id,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
               bit_xor({_content_fp("duckdb")}) AS content_fp
        FROM survivors
        GROUP BY 1
    )
    SELECT p.phase, s.* FROM stats s
    CROSS JOIN (VALUES ('logical'), ('physical')) AS p(phase)
    """,
    survey_ref="LLM curation: takedown / right-to-erasure on the maintained shard store (tombstones)",
)
def shard_store_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion from the maintained shard store — the takedown /
    right-to-erasure operation a real LLM corpus must support after the
    fact. Two-batch append as usual, then doc_id % 7 = 3 is tombstoned
    (:func:`..io.maintenance.append_tombstones` — same ledger protocol:
    commit marker last, REPLAYED tombstone batch is a no-op, exercised
    here by appending the batch twice). Two phases, both checked
    against ONE surviving-corpus oracle:

    - ``logical``: :func:`..io.maintenance.read_committed` applies the
      mask as a broadcast anti-join — the corpus is never reshuffled
      for a deletion; closed shards stay byte-identical on disk.
    - ``physical``: a full-collapse compaction applies the mask in the
      rewrite (bytes dropped, tombstone files deleted, tombstone ledger
      kept) and a PLAIN read of the store — no mask in the plan —
      produces the same stats, proving erasure completed.

    Shard identity is preserved through deletion (rows leave, shards
    keep their token-offset identity — a takedown must not re-shard
    100 TB of exported data), which is exactly what the oracle states:
    the full two-batch walk, minus the tombstoned docs. The 56-bit
    order-insensitive content fingerprint pins the surviving bytes,
    not just the counts."""
    from .load import scratch_dir
    from ..io.maintenance import (
        append_tombstones,
        compact_store_tree,
        read_committed,
        tombstone_paths,
    )

    docs = load_table(spark, sf_dir, "documents")
    root = scratch_dir("shard_store_delete")
    append_token_shard_batch(
        spark, docs.filter(F.col("doc_id") % 3 != 0), root, 0
    )
    append_token_shard_batch(
        spark, docs.filter(F.col("doc_id") % 3 == 0), root, 1
    )
    shards_path, ledger_path = shard_store_paths(root)
    t_data, t_ledger = tombstone_paths(root)
    dead = docs.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    append_tombstones(spark, t_data, t_ledger, dead, 0, "doc_id")
    append_tombstones(spark, t_data, t_ledger, dead, 0, "doc_id")  # replay

    def stats(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.col("shard_id").cast("bigint").alias("shard_id")
        ).agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
            F.expr(f"bit_xor({_content_fp('spark')})").alias("content_fp"),
        )

    # pin the logical phase DRIVER-SIDE before the compaction swap: its
    # plan reads the pre-compaction files (including the tombstone
    # store the physical apply deletes), and a mere persist is not
    # enough — compact_store_tree's refreshByPath invalidates cache
    # entries over those paths, which would force a recompute against
    # the post-swap tree. The result is per-shard stats (bounded by
    # shard count, never corpus-sized), so a collect-and-recreate is
    # the honest pin.
    logical_df = stats(
        read_committed(
            spark,
            shards_path,
            ledger_path,
            tombstones_path=t_data,
            tombstone_ledger_path=t_ledger,
            id_col="doc_id",
        )
    ).withColumn("phase", F.lit("logical"))
    logical = spark.createDataFrame(
        logical_df.collect(), logical_df.schema
    )
    compact_store_tree(
        spark,
        shards_path,
        "shard_id",
        "doc_id",
        tombstones_path=t_data,
        tombstone_ledger_path=t_ledger,
        id_col="doc_id",
        ledger_path=ledger_path,
    )
    physical = stats(spark.read.parquet(shards_path)).withColumn(
        "phase", F.lit("physical")
    )
    return logical.unionByName(physical).select(
        "phase", "shard_id", "n_docs", "shard_tokens", "content_fp"
    )


@register(
    "shard_store_asof_erasure",
    # three phases against one corpus: the BATCH-0 walk (as-of reads
    # answer for generation 0) with and without the deletion mask, and
    # the FULL two-batch walk minus the deleted docs (the post-compact
    # as-of of the head generation). Shard identity is frozen at append
    # time throughout — erasure removes rows, never re-shards.
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, text,
               {ta.n_tokens("text", "duckdb")} AS n_tokens,
               {_scramble("duckdb", "shard")} AS hkey,
               CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS bseq
        FROM documents
    ),
    full_walk AS (
        SELECT doc_id, text, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   ORDER BY bseq, hkey, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM sized
    ),
    batch0_walk AS (
        SELECT doc_id, text, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   ORDER BY hkey, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM sized WHERE bseq = 0
    ),
    phases AS (
        SELECT 'asof_masked' AS phase, * FROM batch0_walk
        WHERE doc_id % 7 <> 3
        UNION ALL
        SELECT 'asof_audit' AS phase, * FROM batch0_walk
        UNION ALL
        SELECT 'asof_after_compact' AS phase, * FROM full_walk
        WHERE doc_id % 7 <> 3
    )
    SELECT phase,
           (cum_tokens - n_tokens) // {SHARD_BUDGET} AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           bit_xor({_content_fp("duckdb")}) AS content_fp
    FROM phases
    GROUP BY 1, 2
    """,
    survey_ref="LLM curation: erasure wins over time travel (as-of x tombstone contract)",
)
def shard_store_asof_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The as-of × tombstone CONTRACT, pinned end to end: erasure wins
    over time travel. After the two-batch append, doc_id % 7 = 3 is
    tombstoned; three phases check the three readings:

    - ``asof_masked``: :func:`..io.maintenance.read_store_asof` of
      generation 0 WITH the tombstone paths — the DEFAULT applies the
      committed mask, so a doc deleted under right-to-erasure is not
      servable via any pre-delete ``batch_seq`` (without this, every
      historical generation would remain a legal way to read "erased"
      content until physical compaction — a compliance hole).
    - ``asof_audit``: the same read with ``include_erased=True`` — the
      explicit audit escape (reconstructing what a past training run
      actually saw) serves the full pre-delete generation, stated
      rather than accidental.
    - ``asof_after_compact``: a full-collapse compaction applies the
      mask physically, and the as-of read of the head generation —
      audit escape or not, the bytes are gone — returns the surviving
      corpus; as-of below the new watermark raises (pinned in
      ``tests/test_maintenance.py``), so NO as-of path can resurrect a
      tombstoned doc once delete + compact completes: the stated
      erasure-completion contract.
    """
    from .load import scratch_dir
    from ..io.maintenance import (
        append_tombstones,
        compact_store_tree,
        read_store_asof,
        tombstone_paths,
    )

    docs = load_table(spark, sf_dir, "documents")
    root = scratch_dir("shard_store_asof_erasure")
    append_token_shard_batch(
        spark, docs.filter(F.col("doc_id") % 3 != 0), root, 0
    )
    append_token_shard_batch(
        spark, docs.filter(F.col("doc_id") % 3 == 0), root, 1
    )
    shards_path, ledger_path = shard_store_paths(root)
    t_data, t_ledger = tombstone_paths(root)
    dead = docs.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    append_tombstones(spark, t_data, t_ledger, dead, 0, "doc_id")

    def stats(df: DataFrame, phase: str) -> DataFrame:
        out = df.groupBy(
            F.col("shard_id").cast("bigint").alias("shard_id")
        ).agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
            F.expr(f"bit_xor({_content_fp('spark')})").alias("content_fp"),
        ).withColumn("phase", F.lit(phase))
        # pin driver-side before the compaction swap invalidates the
        # pre-compaction file listing (per-shard stats, never
        # corpus-sized — same honest pin as shard_store_delete)
        return spark.createDataFrame(out.collect(), out.schema)

    # the masked and audit phases read the SAME pre-compaction store and
    # are mutually independent — run their collects as concurrent driver
    # jobs (guide §2.6) so each small job's task tail backfills the
    # other's idle cores instead of serializing two fixed job costs
    from ..operators.concurrency import run_concurrently

    phase_stats: dict[str, DataFrame] = {}

    def _masked() -> None:
        phase_stats["masked"] = stats(
            read_store_asof(
                spark,
                shards_path,
                0,
                ledger_path=ledger_path,
                tombstones_path=t_data,
                tombstone_ledger_path=t_ledger,
                id_col="doc_id",
            ),
            "asof_masked",
        )

    def _audit() -> None:
        phase_stats["audit"] = stats(
            read_store_asof(
                spark,
                shards_path,
                0,
                ledger_path=ledger_path,
                tombstones_path=t_data,
                tombstone_ledger_path=t_ledger,
                id_col="doc_id",
                include_erased=True,
            ),
            "asof_audit",
        )

    run_concurrently(_masked, _audit)
    masked, audit = phase_stats["masked"], phase_stats["audit"]
    compact_store_tree(
        spark,
        shards_path,
        "shard_id",
        "doc_id",
        tombstones_path=t_data,
        tombstone_ledger_path=t_ledger,
        id_col="doc_id",
        ledger_path=ledger_path,
    )
    after = stats(
        read_store_asof(
            spark,
            shards_path,
            1,
            ledger_path=ledger_path,
            tombstones_path=t_data,
            tombstone_ledger_path=t_ledger,
            id_col="doc_id",
            include_erased=True,  # even the audit escape: bytes are gone
        ),
        "asof_after_compact",
    )
    return masked.unionByName(audit).unionByName(after).select(
        "phase", "shard_id", "n_docs", "shard_tokens", "content_fp"
    )


@register(
    "shard_store_changes",
    # the change feed after batch 0 is exactly batch 1's export —
    # shard assignment frozen by the full two-batch walk — minus the
    # tombstoned docs (erasure wins on catch-up reads too)
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, text,
               {ta.n_tokens("text", "duckdb")} AS n_tokens,
               {_scramble("duckdb", "shard")} AS hkey,
               CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS bseq
        FROM documents
    ),
    cum AS (
        SELECT doc_id, text, n_tokens, bseq,
               CAST(SUM(n_tokens) OVER (
                   ORDER BY bseq, hkey, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM sized
    )
    SELECT (cum_tokens - n_tokens) // {SHARD_BUDGET} AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           bit_xor({_content_fp("duckdb")}) AS content_fp
    FROM cum
    WHERE bseq = 1 AND doc_id % 7 <> 3
    GROUP BY 1
    """,
    survey_ref="LLM curation: change-data-feed read (incremental consumer catch-up, partition-pruned)",
)
def shard_store_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The store's CHANGE DATA FEED — how an incremental downstream
    consumer (embedding pipeline, index builder, mixer) catches up
    without rescanning the corpus: after the two-batch append and a
    takedown wave (doc_id % 7 = 3), :func:`..io.maintenance.
    read_store_changes` pulls the rows appended since checkpoint
    ``after_seq=0`` — generation 1, a pure ``batch_seq`` partition
    prune, with the committed tombstone mask applied so an erased doc
    cannot re-enter downstream systems through an old checkpoint's
    catch-up. The oracle recomputes batch 1's export from scratch and
    drops the tombstoned docs; the content fingerprint pins the bytes.
    Compaction bounds the feed exactly like time travel (a request
    under the watermark raises — pinned in tests), and committed-only
    visibility means the consumer's ``max committed seq`` checkpoint
    resumes exactly."""
    from .load import scratch_dir
    from ..io.maintenance import (
        append_tombstones,
        read_store_changes,
        tombstone_paths,
    )

    docs = load_table(spark, sf_dir, "documents")
    root = scratch_dir("shard_store_changes")
    append_token_shard_batch(
        spark, docs.filter(F.col("doc_id") % 3 != 0), root, 0
    )
    append_token_shard_batch(
        spark, docs.filter(F.col("doc_id") % 3 == 0), root, 1
    )
    shards_path, ledger_path = shard_store_paths(root)
    t_data, t_ledger = tombstone_paths(root)
    dead = docs.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    append_tombstones(spark, t_data, t_ledger, dead, 0, "doc_id")
    feed = read_store_changes(
        spark,
        shards_path,
        ledger_path,
        after_seq=0,
        tombstones_path=t_data,
        tombstone_ledger_path=t_ledger,
        id_col="doc_id",
    )
    return feed.groupBy(
        F.col("shard_id").cast("bigint").alias("shard_id")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
        F.expr(f"bit_xor({_content_fp('spark')})").alias("content_fp"),
    )


@register(
    "stream_shard_store_delete",
    # single-phase form of shard_store_delete's oracle: the surviving-
    # corpus stats after the takedown mask, however the tombstones
    # arrived — the streaming drain must land the identical deletion
    # set as the direct appends
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, text,
               {ta.n_tokens("text", "duckdb")} AS n_tokens,
               {_scramble("duckdb", "shard")} AS hkey,
               CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS bseq
        FROM documents
    ),
    cum AS (
        SELECT doc_id, text, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   ORDER BY bseq, hkey, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM sized
    ),
    survivors AS (
        SELECT * FROM cum WHERE doc_id % 7 <> 3
    )
    SELECT (cum_tokens - n_tokens) // {SHARD_BUDGET} AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           bit_xor({_content_fp("duckdb")}) AS content_fp
    FROM survivors
    GROUP BY 1
    """,
    survey_ref="streaming: continuous takedown ingestion (foreachBatch tombstone drain)",
)
def stream_shard_store_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME takedown as :func:`shard_store_delete`, but the
    deletion requests arrive as a STREAM: the doc_id % 7 = 3 ids land
    as two files (split by parity — a takedown feed's arrival order is
    arbitrary, and tombstone batches are unordered by design), the file
    source drains them one micro-batch each, and ``foreachBatch``
    appends each epoch's ids to the tombstone store with the epoch id
    as the batch sequence (:func:`..streaming.tombstones.
    stream_tombstone_ingest`) — the continuous deletion loop a
    production corpus runs against DMCA/erasure feeds. The masked read
    then hash-matches the surviving-corpus oracle: the streamed
    takedowns land the identical deletion set the direct appends do,
    epoch by epoch, exactly once."""
    import os

    from .load import scratch_dir
    from ..io.maintenance import read_committed, tombstone_paths
    from ..streaming.tombstones import stream_tombstone_ingest

    docs = load_table(spark, sf_dir, "documents")
    root = scratch_dir("stream_shard_store_delete")
    append_token_shard_batch(
        spark, docs.filter(F.col("doc_id") % 3 != 0), root, 0
    )
    append_token_shard_batch(
        spark, docs.filter(F.col("doc_id") % 3 == 0), root, 1
    )
    shards_path, ledger_path = shard_store_paths(root)
    t_data, t_ledger = tombstone_paths(root)

    src = os.path.join(root, "takedowns")
    dead = docs.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    dead.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        os.path.join(src, "feed1")
    )
    dead.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        os.path.join(src, "feed2")
    )
    t0 = os.stat(os.path.join(src, "feed1")).st_mtime
    for sub, off in (("feed1", 0), ("feed2", 60)):
        for walk_root, _, files in os.walk(os.path.join(src, sub)):
            for f in files:
                p = os.path.join(walk_root, f)
                os.utime(p, (t0 + off, t0 + off))
    stream_tombstone_ingest(
        spark,
        os.path.join(src, "*"),
        t_data,
        t_ledger,
        os.path.join(root, "ckpt"),
        "doc_id",
        "doc_id long",
    )
    masked = read_committed(
        spark,
        shards_path,
        ledger_path,
        tombstones_path=t_data,
        tombstone_ledger_path=t_ledger,
        id_col="doc_id",
    )
    return masked.groupBy(
        F.col("shard_id").cast("bigint").alias("shard_id")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
        F.expr(f"bit_xor({_content_fp('spark')})").alias("content_fp"),
    )


@register(
    "cdf_incremental_consumer",
    # the one-shot recompute over the full three-batch walk: the
    # incrementally-maintained downstream state must equal it exactly,
    # including the shards whose totals accumulated ACROSS consumer
    # steps (a shard boundary falling inside a batch leaves a partial
    # shard the next batch's delta tops up)
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, text,
               {ta.n_tokens("text", "duckdb")} AS n_tokens,
               {_scramble("duckdb", "shard")} AS hkey,
               doc_id % 3 AS bseq
        FROM documents
    ),
    cum AS (
        SELECT doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   ORDER BY bseq, hkey, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM sized
    )
    SELECT (cum_tokens - n_tokens) // {SHARD_BUDGET} AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
    FROM cum
    GROUP BY 1
    """,
    survey_ref="LLM curation: incremental CDF consumer (transactional offset, downstream rollup maintained without corpus rescans)",
)
def cdf_incremental_consumer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONSUMER half of the change data feed: a downstream
    per-shard rollup (doc counts + token totals) maintained by
    :func:`..io.maintenance.consume_changes` — each step folds only the
    generations committed since the state's own consumed-through
    sequence (a pure ``batch_seq`` partition prune; the corpus is
    never rescanned), and state + offset publish together in one
    atomic rename, so replayed steps no-op and a crash can never
    double-apply or drop a delta.

    The replay ladder this query walks: append batches 0-1 → consume
    (state-1) → append batch 2 → consume (folds ONLY generation 2 into
    state-2) → consume again (caught up: no-op) → REPLAY batch 0's
    append (committed: no-op at the store) → consume (still no-op).
    The final state hash-matches the one-shot recompute over the whole
    walk — a double-applied or dropped delta would break the totals of
    every shard, and the cross-batch partial shards prove the additive
    merge is real, not a coincidence of disjoint keys."""
    import os

    from .load import scratch_dir
    from ..io.maintenance import (
        consume_changes,
        read_consumer_state,
    )

    docs = load_table(spark, sf_dir, "documents")
    root = scratch_dir("cdf_incremental_consumer")
    shards_path, ledger_path = shard_store_paths(root)
    state_root = os.path.join(root, "consumer")

    def fold(delta: DataFrame, prev: DataFrame | None) -> DataFrame:
        dagg = delta.groupBy("shard_id").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
        )
        if prev is None:
            return dagg
        return (
            prev.unionByName(dagg)
            .groupBy("shard_id")
            .agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("shard_tokens").alias("shard_tokens"),
            )
        )

    def consume() -> int:
        return consume_changes(
            spark, shards_path, ledger_path, state_root, fold
        )

    append_token_shard_batch(spark, docs.filter("doc_id % 3 = 0"), root, 0)
    append_token_shard_batch(spark, docs.filter("doc_id % 3 = 1"), root, 1)
    assert consume() == 1
    append_token_shard_batch(spark, docs.filter("doc_id % 3 = 2"), root, 2)
    assert consume() == 2
    assert consume() == 2  # caught up: replayed step is a no-op
    append_token_shard_batch(  # replayed committed append: store no-op
        spark, docs.filter("doc_id % 3 = 0"), root, 0
    )
    assert consume() == 2

    state = read_consumer_state(spark, state_root)
    return state.select(
        F.col("shard_id").cast("bigint").alias("shard_id"),
        "n_docs",
        "shard_tokens",
    )


@register(
    "cdf_consumer_erasure_propagation",
    # one-shot recompute over the SURVIVORS: shard assignment is frozen
    # by the full walk (dead docs' tokens still advanced the cursor —
    # they were exported before deletion), the aggregate covers only
    # surviving docs, and fully-erased shards vanish from the result
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, text,
               {ta.n_tokens("text", "duckdb")} AS n_tokens,
               {_scramble("duckdb", "shard")} AS hkey,
               doc_id % 3 AS bseq
        FROM documents
    ),
    cum AS (
        SELECT doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   ORDER BY bseq, hkey, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM sized
    )
    SELECT (cum_tokens - n_tokens) // {SHARD_BUDGET} AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
    FROM cum
    WHERE doc_id % 7 <> 3 AND doc_id % 11 <> 5
    GROUP BY 1
    """,
    survey_ref="LLM curation: erasure propagation to downstream materializations (retraction-aware CDF consumer)",
)
def cdf_consumer_erasure_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure must reach DERIVED tables, not just the store:
    a takedown arriving AFTER a doc was consumed into a downstream
    rollup has to UNDO its contribution, or the erasure stops at the
    store and lives on in every materialization. This query walks the
    full ladder through :func:`..io.maintenance.
    consume_changes_with_retractions` (pair offset (D, T), state and
    both offsets in one atomic publish):

    - append batches 0-1, consume → state (1, -1);
    - takedown wave 1 (doc_id % 7 = 3) lands AFTER consumption →
      consume RETRACTS those docs' contributions from the rollup
      (broadcast join of the new dead ids against only the consumed
      generations) → state (1, 0);
    - append batch 2, takedown wave 2 (doc_id % 11 = 5, overlapping
      wave 1 — re-tombstoned ids must not subtract twice) → ONE
      consume advances both offsets: batch 2 folds in with the full
      mask (its dead docs never enter), wave 2's genuinely-new dead
      ids retract from generations <= 1 → state (2, 1);
    - replayed consume: caught up, no-op.

    The final rollup hash-matches the one-shot recompute over the
    survivors; shards whose every doc died vanish from the view (their
    counts reach exactly zero — a signed-arithmetic proof the
    retraction is exact, not clamped)."""
    import os

    from .load import scratch_dir
    from ..io.maintenance import (
        append_tombstones,
        consume_changes_with_retractions,
        read_consumer_state,
        tombstone_paths,
    )

    docs = load_table(spark, sf_dir, "documents")
    root = scratch_dir("cdf_consumer_erasure")
    shards_path, ledger_path = shard_store_paths(root)
    t_data, t_ledger = tombstone_paths(root)
    state_root = os.path.join(root, "consumer")

    def fold(delta: DataFrame, prev: DataFrame | None) -> DataFrame:
        dagg = delta.groupBy("shard_id").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
        )
        if prev is None:
            return dagg
        return (
            prev.unionByName(dagg)
            .groupBy("shard_id")
            .agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("shard_tokens").alias("shard_tokens"),
            )
        )

    def unfold(retr: DataFrame, prev: DataFrame) -> DataFrame:
        ragg = retr.groupBy("shard_id").agg(
            (-F.count("*")).alias("n_docs"),
            (-F.sum("n_tokens")).alias("shard_tokens"),
        )
        return (
            prev.unionByName(ragg)
            .groupBy("shard_id")
            .agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("shard_tokens").alias("shard_tokens"),
            )
        )

    def consume() -> tuple[int, int]:
        return consume_changes_with_retractions(
            spark, shards_path, ledger_path, t_data, t_ledger,
            "doc_id", state_root, fold, unfold,
        )

    append_token_shard_batch(spark, docs.filter("doc_id % 3 = 0"), root, 0)
    append_token_shard_batch(spark, docs.filter("doc_id % 3 = 1"), root, 1)
    assert consume() == (1, -1)

    # wave 1 arrives AFTER the docs were consumed: pure retraction
    dead1 = docs.filter("doc_id % 7 = 3").select("doc_id")
    append_tombstones(spark, t_data, t_ledger, dead1, 0, "doc_id")
    assert consume() == (1, 0)

    # batch 2 + wave 2 (overlaps wave 1) advance BOTH offsets at once
    append_token_shard_batch(spark, docs.filter("doc_id % 3 = 2"), root, 2)
    dead2 = docs.filter("doc_id % 11 = 5").select("doc_id")
    append_tombstones(spark, t_data, t_ledger, dead2, 1, "doc_id")
    assert consume() == (2, 1)
    assert consume() == (2, 1)  # caught up: replayed step is a no-op

    state = read_consumer_state(spark, state_root)
    return state.filter(F.col("n_docs") > 0).select(
        F.col("shard_id").cast("bigint").alias("shard_id"),
        "n_docs",
        "shard_tokens",
    )
