"""Write path + keyed idempotent upsert (SURVEY.md §2.2 L1/L4).

The reference's load step is ``INSERT OR REPLACE INTO dev.<tbl> BY NAME``
over a PK (``/root/reference/scripts/extract_load.py:233-240``): columns
align by name, rows whose key already exists are replaced — so re-running
an ETL batch is a no-op. On plain parquet Spark has no MERGE, so the
upsert is the classic rewrite:

    source deduped on keys
    → target rows NOT matching a source key survive (left-anti join)
    → unionByName(allowMissingColumns=True)  (the BY NAME alignment)
    → atomic directory swap

Scale design (100 TB):

- the anti-join is a key join — AQE picks broadcast when the source
  batch is small (the common incremental case: daily batch ≪ target);
- with ``partition_by`` set, only the partitions the source batch
  touches are rebuilt and swapped (dynamic-partition-overwrite
  semantics): a daily batch touching 3 of 3 000 date partitions
  rewrites 0.1% of the table, not all of it — at 100 TB that is the
  difference between minutes and hours (on a lakehouse table format
  this whole function becomes ``MERGE INTO``);
- each swap is rename-aside (old → ``.old``, tmp → live, delete
  ``.old``): a crash at any point leaves either the old or the new
  directory recoverable on disk — never a window where the data is
  only in a tmp dir nobody knows about;
- nothing collects to the driver.
"""

from __future__ import annotations

import functools
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def path_exists(path: str) -> bool:
    """L3 twin for path-backed tables (see schemas.table_exists for
    catalog tables)."""
    return os.path.isdir(path) and bool(os.listdir(path))


def align_to_schema(df: DataFrame, target: T.StructType) -> DataFrame:
    """By-name schema reconciliation (the ``BY NAME`` half of L1).

    Columns are matched by name against the declared target schema:
    present columns are cast to the declared type, absent ones become
    typed NULLs (DuckDB's ``INSERT BY NAME`` default-fill), extra
    columns are dropped. Output column order is the target order.
    """
    have = {c.lower() for c in df.columns}
    cols = []
    for f_ in target.fields:
        if f_.name.lower() in have:
            if isinstance(f_.dataType, T.NullType):
                # the target column has no observed type — e.g. a
                # partition column whose every live value is NULL infers
                # as VOID — so adopt the source's type instead of
                # attempting an illegal CAST(x AS VOID)
                cols.append(F.col(f_.name).alias(f_.name))
            else:
                cols.append(F.col(f_.name).cast(f_.dataType).alias(f_.name))
        else:
            cols.append(F.lit(None).cast(f_.dataType).alias(f_.name))
    return df.select(*cols)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """L4 — materialization sink."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def _swap_dir(tmp: str, path: str) -> None:
    """Crash-safe directory swap: rename the live dir aside, rename the
    tmp dir into place, then delete the old one.  A crash between any
    two steps leaves either the old data (at ``path`` or the aside dir)
    or the new data (at ``path``) intact on disk — the rmtree-then-rename
    ordering, by contrast, has a window where the table is simply gone.

    The aside name is dot-prefixed (``.old-<hex>-<basename>``): Spark's
    file index skips entries starting with ``.`` or ``_``, so if a crash
    strands the aside dir INSIDE a table root (the partition-level swap
    case, where ``path`` is ``<table>/year=X``), subsequent reads neither
    double-count the old partition's rows nor mis-infer the partition
    column — recovery is a cleanup chore, not a correctness hole.
    """
    if os.path.isdir(path):
        parent, base = os.path.split(path)
        old = os.path.join(parent, f".old-{uuid.uuid4().hex[:8]}-{base}")
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
    else:
        os.rename(tmp, path)


def _strip_uri(p: str) -> str:
    """file:///x/y → /x/y (input_file_name returns URIs)."""
    return p[7:] if p.startswith("file://") else p


def _partition_dirs(root: str) -> list[str]:
    """Relative paths of the leaf partition directories under ``root``
    (dirs that directly contain parquet files), e.g. ``o_year=1995`` or
    ``a=1/b=2`` for nested partitioning."""
    out = []
    for dp, _, fs in os.walk(root):
        if any(f.endswith(".parquet") for f in fs) and dp != root:
            out.append(os.path.relpath(dp, root))
    return sorted(out)


def upsert_parquet(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: list[str],
    target_schema: T.StructType | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """L1 — schema-reconciling keyed upsert into a parquet directory.

    Semantics of ``INSERT OR REPLACE ... BY NAME`` (ref
    extract_load.py:233-240): after the call, for every key in
    ``source`` the target holds exactly the source row; all other
    target rows are untouched. Re-running with the same source is a
    no-op (idempotent). Within one source batch, duplicate keys keep
    one arbitrary-but-single row (PK semantics, Q4).

    With ``partition_by`` set and an existing target, the merge runs in
    dynamic-partition-overwrite mode: only partitions the batch touches
    (its own partition values, plus any partition currently holding a
    batch key, if keys can move) are read, merged, and swapped;
    untouched partitions keep their files byte-for-byte.
    """
    src = source.dropDuplicates(keys)
    if target_schema is not None:
        src = align_to_schema(src, target_schema)

    exists = path_exists(path)
    dynamic = bool(partition_by) and exists
    if exists:
        target = spark.read.parquet(path)
        if target_schema is None:
            # align source to the existing table by name; keep target cols
            src = align_to_schema(src, target.schema)
        if dynamic:
            # Dynamic partition overwrite: only target rows in partitions
            # the batch touches participate in the merge; every other
            # partition's files are never read or rewritten.
            touched = src.select(*partition_by).distinct()
            if not {c.lower() for c in partition_by} <= {k.lower() for k in keys}:
                # Keys CAN move across partitions (partition cols aren't
                # part of the PK): a partition currently holding a batch
                # key is also touched, or its stale row would survive as
                # a duplicate.  This is a column-pruned scan of just the
                # key + partition columns (partition values come from
                # directory names, so only key bytes are read).
                # dict.fromkeys: keys may share columns with partition_by
                # (e.g. keys=[k, year], partition_by=[year, region]) — a
                # duplicate projection would make the join ambiguous
                moved = (
                    target.select(*dict.fromkeys([*partition_by, *keys]))
                    .join(src.select(*keys), on=keys, how="left_semi")
                    .select(*partition_by)
                    .distinct()
                )
                touched = touched.union(moved).distinct()
            # null-safe equality: a NULL partition value in the batch
            # swaps the __HIVE_DEFAULT_PARTITION__ directory, so target
            # rows there must participate in the merge too — a plain
            # equi-join would never match them and they'd be lost.
            def _narrow(tgt_df: DataFrame) -> DataFrame:
                t, b = tgt_df.alias("_tgt"), touched.alias("_touched")
                cond = functools.reduce(
                    lambda a, c: a & c,
                    [
                        F.col(f"_tgt.{c}").eqNullSafe(F.col(f"_touched.{c}"))
                        for c in partition_by
                    ],
                )
                return t.join(F.broadcast(b), cond, "left_semi")

            target = _narrow(target)
            # Exact on-disk names of the touched live partition dirs,
            # taken from the files themselves (no re-implementing Hive
            # path escaping).  input_file_name() must attach directly to
            # the bare scan — it doesn't resolve across a multi-source
            # join — so this is a second, partition-pruned scan that
            # reads only directory metadata.
            touched_files = _narrow(
                spark.read.parquet(path)
                .select(*partition_by)
                .withColumn("_f", F.input_file_name())
            ).select("_f").distinct()
    else:
        # An absent table merges as an empty one (CREATE TABLE IF NOT
        # EXISTS, then INSERT OR REPLACE): a scan of an empty directory
        # under the batch's schema. A table's first upsert then runs the
        # same plan as every later one, so the merge's code generation
        # is paid on the first run of a scheduled pipeline, not the
        # second, and no first-write branch differs from the rest.
        os.makedirs(path, exist_ok=True)
        target = spark.read.schema(
            T.StructType([T.StructField(f.name, f.dataType) for f in src.schema])
        ).parquet(path)
    keep = target.join(src.select(*keys), on=keys, how="left_anti")
    merged = keep.unionByName(src, allowMissingColumns=True)

    # Write-then-swap: the merged plan reads `path`, so the new data
    # lands in a sibling tmp dir first; the swap is rename-only.
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    write_parquet(merged, tmp, partition_by=partition_by)
    if dynamic:
        # Collect BEFORE the swap — it reads the live tree.  Needed
        # because a touched partition can come out EMPTY (all its rows
        # deleted or moved elsewhere): it then has no dir under tmp but
        # its stale live dir must still go away.
        live_touched = {
            os.path.relpath(os.path.dirname(_strip_uri(r._f)), path)
            for r in touched_files.collect()
        }
        written = set(_partition_dirs(tmp))
        # swap ONLY the rebuilt partition directories into the live tree;
        # untouched partitions keep their existing files byte-for-byte
        for rel in written:
            dst = os.path.join(path, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            _swap_dir(os.path.join(tmp, rel), dst)
        for rel in live_touched - written:
            stale = os.path.join(path, rel)
            if os.path.isdir(stale):
                shutil.rmtree(stale)
        shutil.rmtree(tmp)
    else:
        _swap_dir(tmp, path)
    # drop cached file listings/footers for the swapped directory so
    # later reads (and any still-live DataFrames) re-list it
    spark.catalog.refreshByPath(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    target_rows_per_file: int | None = None,
    partition_by: list[str] | None = None,
) -> int:
    """Small-file compaction — the lakehouse maintenance op.

    Streaming upserts and per-code ingests leave many small files; scans
    then pay per-file open cost and tiny row groups defeat the
    vectorized reader. Rewrite the directory into
    ``ceil(total_bytes / target_file_bytes)`` files — or
    ``ceil(rows / target_rows_per_file)`` when the row form is given
    (row counts come from parquet footers, no data scan). The rewrite
    is an atomic swap: readers see old files or new files, never a mix.
    Returns the new file count.

    With ``partition_by``, rows are hash-clustered on the partition
    columns first, so each partition value lands wholly in one task and
    writes ONE file — a round-robin repartition would instead spread
    every value across every task and `partitionBy` would emit
    tasks×values tiny files, re-creating the problem being fixed."""
    import math

    df = spark.read.parquet(path)
    if target_rows_per_file is not None:
        import pyarrow.parquet as papq

        rows = sum(
            papq.read_metadata(os.path.join(dp, f)).num_rows
            for dp, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        )
        n_files = max(1, math.ceil(rows / target_rows_per_file))
    else:
        total = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        )
        n_files = max(1, math.ceil(total / target_file_bytes))
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    if partition_by:
        writer = df.repartition(n_files, *partition_by).write.partitionBy(
            *partition_by
        )
    else:
        writer = df.repartition(n_files).write
    writer.parquet(tmp)
    _swap_dir(tmp, path)
    spark.catalog.refreshByPath(path)
    return sum(
        1 for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed catalog table — the co-located-join storage layout.

    Two tables bucketed by the same key and count join WITHOUT a
    shuffle exchange (Spark reads bucket i of both sides into the same
    task). At 100 TB this converts the fact⋈fact join from a full
    2-sided shuffle into a local merge — the single biggest join win
    available from layout alone. Sorting within buckets additionally
    drops the per-task sort of a sort-merge join.

    With ``path`` the table is external and its files live there: a
    dropped table leaves them, and an overwrite replaces whatever the
    directory holds. Without it the table is managed, under the
    session's warehouse directory."""
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if path is not None:
        writer = writer.option("path", path)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table)


def write_jsonl(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    compression: str | None = "gzip",
) -> None:
    """Training-export sink: newline-delimited JSON, the interchange
    format most LLM training loaders consume. One file per partition
    (parallel write — never a driver-side collect); gzip by default
    because JSONL is ~10× parquet on disk otherwise. Column order is
    preserved in each JSON object; binary columns must be dropped or
    base64-encoded by the caller first (Spark's JSON writer rejects
    BinaryType ambiguity by design)."""
    writer = df.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.json(path)


def write_range_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int,
    mode: str = "overwrite",
) -> None:
    """Range-clustered write: globally range-partition on
    ``cluster_cols`` and sort within each partition before writing, so
    each output file covers a NARROW, non-overlapping range of the
    cluster key.

    This is what makes parquet min/max row-group statistics actually
    prune: a filter on the cluster key skips every file whose range
    doesn't intersect (the poor-man's Z-order — exact for 1-D keys,
    which covers the dominant time-series case). ``repartitionByRange``
    samples the key distribution, so skewed keys still yield balanced
    files. The sort is within-partition only — no global sort barrier.
    """
    (
        df.repartitionByRange(n_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode(mode)
        .parquet(path)
    )


def morton_code(x, y, bits: int = 16):
    """Z-order (Morton) interleave of two non-negative integer columns
    into one BIGINT — bit i of ``x`` lands at position 2i, of ``y`` at
    2i+1, so sorting by the code walks the (x, y) plane in the
    Z-curve. Pure shift/mask expression tree (the classic magic-number
    bit spreading), fully whole-stage-codegen'd — no UDF.

    Inputs must already be rank/bucket-normalized to [0, 2^bits); the
    caller owns that mapping (ntile, epoch-day, id ranges...) because
    only the caller knows the column's distribution.

    ``bits`` caps at 31: at 32, the y column's top bit would land in
    the BIGINT sign bit and negative codes would sort before positive
    ones, silently breaking the curve's monotonicity."""
    from pyspark.sql import functions as F

    if bits > 31:
        raise ValueError("morton_code supports at most 31 bits per axis")

    def spread(col):
        # 0x0000ffff -> interleave-ready: abcdefgh -> a0b0c0d0e0f0g0h0
        # (Column `|`/`&` are LOGICAL in PySpark — use the bitwise methods)
        c = col.cast("long")
        for shift, mask in (
            (16, 0x0000FFFF0000FFFF),
            (8, 0x00FF00FF00FF00FF),
            (4, 0x0F0F0F0F0F0F0F0F),
            (2, 0x3333333333333333),
            (1, 0x5555555555555555),
        ):
            c = c.bitwiseOR(F.shiftleft(c, shift)).bitwiseAND(F.lit(mask))
        return c

    return spread(x).bitwiseOR(F.shiftleft(spread(y), 1))


def write_zorder_clustered(
    df: DataFrame,
    path: str,
    col_x: str,
    col_y: str,
    n_files: int,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered write: range-cluster by the Morton interleave
    of TWO columns so every output file covers a narrow range of BOTH —
    the multi-dimensional file-skipping layout (Delta/Iceberg's
    OPTIMIZE ZORDER expressed as a plain parquet write).

    1-D range clustering (:func:`write_range_clustered`) makes the
    second predicate column full-width in every file, so only filters
    on the first column skip; the Z-curve bounds both, so a 2-D
    predicate prunes multiplicatively at 100 TB.

    Normalization is linear min-max scaling to ``bits`` bits per axis,
    with the two (min, max) pairs computed in ONE aggregate and
    broadcast — the repo's decorrelated-scalar pattern. No global
    window / global sort anywhere: value-space bounds are exactly what
    parquet min/max stats prune on, and ``repartitionByRange`` samples
    the CODE distribution, so files stay balanced even when skew
    compresses part of the code space. The code column is dropped
    before the write; layout is the only effect.

    Reserved names: ``_zcode`` and ``_xmin/_xmax/_ymin/_ymax`` are used
    internally; raises ``ValueError`` if ``df`` already has any (a
    colliding ``_zcode`` would otherwise be silently dropped from the
    written table)."""
    reserved = {"_zcode", "_xmin", "_xmax", "_ymin", "_ymax"}
    clash = reserved.intersection(df.columns)
    if clash:
        raise ValueError(
            f"input columns collide with reserved names: {sorted(clash)}"
        )
    from pyspark.sql import functions as F

    scale = (1 << bits) - 1
    x, y = F.col(col_x).cast("double"), F.col(col_y).cast("double")
    bounds = df.agg(
        F.min(x).alias("_xmin"),
        F.max(x).alias("_xmax"),
        F.min(y).alias("_ymin"),
        F.max(y).alias("_ymax"),
    )

    def norm(c, lo, hi):
        # constant column degrades to code 0 on that axis, not a 0/0
        span = F.when(hi != lo, hi - lo).otherwise(F.lit(1.0))
        return F.round((c - lo) / span * scale).cast("long")

    coded = df.crossJoin(F.broadcast(bounds)).withColumn(
        "_zcode",
        morton_code(
            norm(x, F.col("_xmin"), F.col("_xmax")),
            norm(y, F.col("_ymin"), F.col("_ymax")),
            bits,
        ),
    )
    (
        coded.repartitionByRange(n_files, "_zcode")
        .sortWithinPartitions("_zcode")
        .drop("_zcode", "_xmin", "_xmax", "_ymin", "_ymax")
        .write.mode(mode)
        .parquet(path)
    )
