"""Document deduplication: exact content-hash and MinHash+LSH near-dup.

Exact dedup is a hash-groupBy — one scan, one shuffle on the 256-bit
content hash; duplicate groups keep the smallest id (deterministic).

Near-dup follows the classic MinHash/LSH construction (Broder '97;
Leskovec-Rajaraman-Ullman ch.3), built ENTIRELY from native Spark
higher-order functions — no Python UDFs, no all-pairs:

1. shingle: 3-word shingles per document (``transform`` over a word
   sequence — a narrow map);
2. minhash: K=32 signature values. Each shingle gets a 56-bit base hash
   from md5 (cross-engine reproducible), then K universal hashes
   ``(a_i·h + b_i) mod P`` with P = 2³¹−1; the signature entry is the
   min over shingles;
3. banding: the signature splits into b=8 bands × r=4 rows; each band
   hashes to a key. Two docs collide in a band iff their 4 signature
   rows all match ⇒ P(candidate) = 1−(1−j⁴)⁸ — steep around j≈0.5;
4. candidate pairs: self-equi-join on band key — the shuffle is on
   band keys, so cost scales with Σ|bucket|², NEVER n². This is the
   property that keeps 100 TB feasible: near-identical docs share
   buckets, everything else never meets;
5. verification: exact shingle-set Jaccard on the (few) candidates.

Every step is deterministic integer arithmetic, so the DuckDB oracle
(analytics/dedup.py) reproduces results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Universal-hash family parameters — fixed constants so runs (and the
# DuckDB oracle) are reproducible everywhere.
P = 2147483647  # 2^31 - 1 (Mersenne prime)
K = 32  # signature length
BANDS = 8
ROWS_PER_BAND = 4
assert BANDS * ROWS_PER_BAND == K


def _coefficients() -> tuple[list[int], list[int]]:
    """K (a, b) pairs from a fixed LCG — stable across engines/runs."""
    a, b = [], []
    state = 1234567
    for _ in range(K):
        state = (state * 1103515245 + 12345) % (1 << 31)
        a.append(state % (P - 1) + 1)
        state = (state * 1103515245 + 12345) % (1 << 31)
        b.append(state % P)
    return a, b


A_COEF, B_COEF = _coefficients()

# 56-bit base hash of a string from the md5 hex prefix — identical in
# DuckDB via CAST(concat('0x', substr(md5(s),1,14)) AS BIGINT).
_BASE_HASH = f"cast(conv(substr(md5({{s}}), 1, 14), 16, 10) as bigint) % {P}"


def content_hash(col: str = "text") -> F.Column:
    """SHA-256 content key for exact dedup (Q4 generalized to corpora)."""
    return F.sha2(F.col(col), 256)


def exact_dedup_summary(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: one row per distinct content with the kept (min) id
    and the duplicate count. One scan + one shuffle on the hash."""
    return (
        df.withColumn("content_hash", content_hash(text_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("kept_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _parse_bytes_conf(raw: str | None, default: int) -> int:
    """Spark byte-conf parser for the handful of suffixes the scan
    confs use (plain number = bytes; k/m/g with optional b)."""
    if raw is None:
        return default
    s = str(raw).strip().lower()
    mult = 1
    for suf, m in (("kb", 1 << 10), ("k", 1 << 10), ("mb", 1 << 20),
                   ("m", 1 << 20), ("gb", 1 << 30), ("g", 1 << 30),
                   ("b", 1)):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    try:
        return int(float(s) * mult)
    except ValueError:
        return default


def _estimated_scan_partitions(spark, files: list[str]) -> int | None:
    """Estimate how many scan partitions Spark will plan for these leaf
    files WITHOUT running the physical planner — the planner's own
    formula (``FilePartition.maxSplitBytes`` + greedy file packing with
    ``openCostInBytes`` charged per file) over driver-side stat'd
    sizes. ``None`` when any file is non-local (keep the caller's
    file-count heuristic rather than pay remote stats).

    Why the raw file count is not enough: Spark PACKS small files into
    splits, so a many-tiny-file input (an uncompacted store after many
    small appends) with ≥cores files can still plan to far fewer
    partitions than cores — the exact serialization this helper exists
    to prevent (r17, from the r16 advisory)."""
    import os as _os
    from urllib.parse import urlparse

    sizes = []
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("", "file"):
            return None
        try:
            sizes.append(_os.path.getsize(u.path))
        except OSError:
            return None
    conf = spark.conf
    max_pb = _parse_bytes_conf(
        conf.get("spark.sql.files.maxPartitionBytes", None), 128 << 20
    )
    open_cost = _parse_bytes_conf(
        conf.get("spark.sql.files.openCostInBytes", None), 4 << 20
    )
    try:
        min_pn = int(
            conf.get("spark.sql.files.minPartitionNum", None)
            or spark.sparkContext.defaultParallelism
        )
    except ValueError:
        min_pn = spark.sparkContext.defaultParallelism
    total = sum(s + open_cost for s in sizes)
    bytes_per_core = total / max(1, min_pn)
    max_split = int(min(max_pb, max(open_cost, bytes_per_core)))
    # splittable files are pre-split into <= max_split chunks, then
    # chunks are greedily packed largest-first, each charged open_cost
    chunks: list[int] = []
    for s in sizes:
        while s > max_split:
            chunks.append(max_split)
            s -= max_split
        if s > 0:
            chunks.append(s)
    parts, cur = 0, 0
    for c in sorted(chunks, reverse=True):
        if cur + c > max_split and cur > 0:
            parts += 1
            cur = 0
        cur += c + open_cost
    if cur > 0:
        parts += 1
    return parts


def spread_for_compute(df: DataFrame) -> DataFrame:
    """Repartition a CPU-bound narrow map's input up to the session's
    parallelism. Small fixture tables arrive as ONE parquet split, so an
    expensive per-row expression would run on one core (measured: the
    whole shingling stage serialized at sf0.1). At 100 TB inputs already
    have ≥cores splits and this becomes a no-op.

    The smallness probe is the ANALYZED plan's leaf files
    (``inputFiles``) — driver-cheap — not ``df.rdd.getNumPartitions()``,
    which forces a full physical-planning pass per call just to read a
    number (measured ~1.5 s of pure driver time on a fresh replay-batch
    plan; the ingest loop builds two such plans per epoch). Fewer files
    than cores always repartitions; at or above that, the decision uses
    :func:`_estimated_scan_partitions` (the planner's own packing
    formula over stat'd local sizes), because Spark packs tiny files
    ~``maxSplitBytes/openCost`` per split and a many-small-file store
    can otherwise plan below the core count and serialize the map.
    Non-file sources (literal test relations) keep the exact partition
    probe; non-local files keep the bare file-count heuristic (remote
    stats are not worth a probe)."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files:
        if len(files) < target:
            return df.repartition(target)
        est = _estimated_scan_partitions(spark, files)
        if est is not None and est < target:
            return df.repartition(target)
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def shingle(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, shingles) with distinct n-word shingles; docs shorter than
    n words are dropped (no shingle support)."""
    idx = ", ".join(f"w[i+{k}]" for k in range(n))
    expr = (
        f"array_distinct(transform(sequence(0, size(w) - {n}), "
        f"i -> concat_ws(' ', {idx})))"
    )
    return (
        spread_for_compute(df)
        .select(F.col(id_col), F.split(F.col(text_col), " ").alias("w"))
        .filter(F.size("w") >= n)
        .select(id_col, F.expr(expr).alias("shingles"))
    )


def shingle_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """DISTINCT (id, s) n-word shingle rows — fully whole-stage-codegen'd.

    The array form (:func:`shingle`) builds shingles with
    ``transform(sequence(...))``; Spark evaluates HOF lambdas
    interpreted, and that lambda dominated the near-dup queries' runtime
    (measured: 6.8 s of dedup_ngram_jaccard's 8.8 s at sf0.1 was the
    shingling projection alone). This form is ``explode(sequence)`` +
    array-index projection + ``distinct`` — every expression codegen'd;
    the distinct's (id, s) exchange replaces ``array_distinct`` and is
    the same shuffle key downstream consumers aggregate on anyway.
    """
    words = ", ".join(f"w[i+{k}]" for k in range(n))
    return (
        spread_for_compute(df)
        .select(F.col(id_col), F.split(F.col(text_col), " ").alias("w"))
        .filter(F.size("w") >= n)
        .select(
            F.col(id_col),
            F.col("w"),
            F.explode(F.expr(f"sequence(0, size(w) - {n})")).alias("i"),
        )
        .select(F.col(id_col), F.expr(f"concat_ws(' ', {words})").alias("s"))
        .distinct()
    )


def minhash_signatures(shingled: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, sigs) from the ARRAY shingle form — explodes, then delegates
    to :func:`minhash_signatures_rows` (kept for array-form callers)."""
    exploded = shingled.select(F.col(id_col), F.explode("shingles").alias("s"))
    return minhash_signatures_rows(exploded, id_col=id_col)


def minhash_signatures_rows(
    rows: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(id, sigs): K-element MinHash signature per document from
    (id, s) shingle rows.

    Computed as K codegen'd ``min`` aggregates, NOT as nested
    higher-order-function lambdas: Spark evaluates ``transform``/
    ``array_min`` lambdas interpreted (no whole-stage codegen), which
    measured ~10× slower at sf0.1. The aggregate form is also the
    100 TB shape — per-partition partial mins mean the shuffle carries
    one K-vector per (partition, doc), and the min is order-independent
    so results are identical (the DuckDB oracle still computes the
    list-comprehension form and hash-matches).
    """
    base = _BASE_HASH.format(s="s")
    hashed = rows.withColumn("h", F.expr(base))
    mins = [
        F.min(F.expr(f"({a} * h + {b}) % {P}")).alias(f"_sig{i}")
        for i, (a, b) in enumerate(zip(A_COEF, B_COEF))
    ]
    packed = F.array(*[F.col(f"_sig{i}") for i in range(K)]).alias("sigs")
    return hashed.groupBy(id_col).agg(*mins).select(id_col, packed)


def lsh_band_keys(with_sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band_key) — one row per band; key embeds the band index so a
    single equi-join column suffices."""
    parts = ", ".join(
        f"sigs[{ROWS_PER_BAND}*j+{k}]" for k in range(ROWS_PER_BAND)
    )
    return with_sigs.select(
        id_col,
        F.explode(
            F.expr(
                f"transform(sequence(0, {BANDS - 1}), "
                f"j -> concat_ws(':', j, {parts}))"
            )
        ).alias("band_key"),
    )


def candidate_pairs(bands: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing ≥1 band bucket. The join is
    on band_key — Σ|bucket|² work, never the n² cross product."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_id_a"),
            F.col(f"b.{id_col}").alias("doc_id_b"),
        )
        .distinct()
    )


def jaccard_terms(a: str, b: str) -> list[Column]:
    """``n_shared`` and ``n_union`` of two shingle-set array columns —
    the exact Jaccard terms every verification path compares
    (``2·n_shared ≥ n_union`` is Jaccard ≥ 0.5). Set-ops, so duplicate
    array entries never change the result."""
    return [
        F.size(F.array_intersect(a, b)).cast("long").alias("n_shared"),
        F.size(F.array_union(a, b)).cast("long").alias("n_union"),
    ]


def pair_jaccard_stats(
    rows: DataFrame,
    pairs: DataFrame,
    left_col: str,
    right_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """(left, right, n_shared, n_union) for candidate pairs, from
    DISTINCT (id, s) shingle rows.

    Shingle ARRAYS are materialized only for documents that appear in a
    candidate pair — a broadcast semi-join (candidate ids are tiny next
    to the corpus at any scale) followed by ``collect_list`` over just
    those documents' rows. Verification is then one join of the pairs
    to their two arrays plus per-pair set-ops. The alternative — an
    equi-join of pairs against the full (id, s) relation — re-shuffles
    the corpus-sized rows table per verification and measured 2× slower
    at sf0.1; this form touches O(|candidate docs| · shingles) rows
    total, keeping the corpus relation unshuffled (the property that
    matters at 100 TB). Set-op results on DISTINCT rows are exact:
    arrays are sets, so |∩|/|∪| are the true Jaccard terms.
    """
    from ..operators.caching import tracked_persist

    # `pairs` feeds three plan branches (both arms of the ids union and
    # the final join); without a persist the upstream candidate
    # generation (band self-join + distinct) re-executes per branch —
    # measured as a 2× regression on the full minhash query at sf0.1.
    pairs = tracked_persist(pairs)
    ids = (
        pairs.select(F.col(left_col).alias(id_col))
        .union(pairs.select(F.col(right_col).alias(id_col)))
        .distinct()
    )
    # persisted: arrs feeds BOTH pair sides (sa and sb) — without it the
    # semi-join + collect_list over the corpus rows executes twice
    arrs = tracked_persist(
        rows.join(F.broadcast(ids), id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.collect_list("s").alias("sh"))
    )
    sa = arrs.select(F.col(id_col).alias(left_col), F.col("sh").alias("sh_a"))
    sb = arrs.select(F.col(id_col).alias(right_col), F.col("sh").alias("sh_b"))
    return (
        pairs.join(sa, left_col)
        .join(sb, right_col)
        .select(left_col, right_col, *jaccard_terms("sh_a", "sh_b"))
    )


def verified_near_duplicates_rows(
    rows: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact shingle-Jaccard on candidate pairs from (id, s) rows —
    the codegen'd twin of :func:`verified_near_duplicates`."""
    stats = pair_jaccard_stats(
        rows, pairs, "doc_id_a", "doc_id_b", id_col=id_col
    )
    return (
        stats.withColumn(
            "jaccard",
            F.col("n_shared").cast("double") / F.col("n_union").cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "n_shared", "jaccard")
    )


def verified_near_duplicates(
    shingled: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact shingle-Jaccard on candidate pairs; keep ≥ threshold.

    (doc_id_a, doc_id_b, n_shared, jaccard). Verification joins the
    (small) candidate set back to the shingle relation — broadcast-able
    against the candidates at any corpus size.
    """
    sa = shingled.select(
        F.col(id_col).alias("doc_id_a"), F.col("shingles").alias("sh_a")
    )
    sb = shingled.select(
        F.col(id_col).alias("doc_id_b"), F.col("shingles").alias("sh_b")
    )
    return (
        pairs.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("n_shared"),
            F.size(F.array_union("sh_a", "sh_b")).cast("long").alias("n_union"),
        )
        .withColumn(
            "jaccard",
            F.col("n_shared").cast("double") / F.col("n_union").cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "n_shared", "jaccard")
    )
