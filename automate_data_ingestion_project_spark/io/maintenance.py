"""Maintained-store maintenance: small-file compaction, committed-read
isolation, time travel, vacuum, and tombstone deletion for the
ledger-appended stores (token shards, IVF inverted lists).

Every incremental append lands one-or-more files under the batch's own
``batch_seq=B`` partition leaves. That is the durability protocol's
strength — closed batches are never rewritten — and its long-run cost:
after 10k epochs a shard/cell directory holds 10k small files, and at
100 TB the NameNode/object-store listing and per-file open overhead
dominate the scan. Compaction is the OPTIMIZE counterpart (Delta's
``OPTIMIZE``, Iceberg's ``rewrite_data_files``): rewrite the tree with
one file per leading partition value, byte-identical content, without
breaking the ledger's replay guard.

Design decisions, in terms of the append protocol:

- Compacted rows keep the store's partition SCHEMA but move to the
  reserved generation ``batch_seq = -1``: live appends only ever write
  ``batch_seq >= 0`` leaves (enforced — the append entry points reject
  negative sequences), and their self-heal globs target
  ``batch_seq=<their own seq>``, so compacted files are never cleanup
  candidates. Mixing partition depths (dropping ``batch_seq``) would
  break parquet partition discovery instead.
- Compaction records a WATERMARK (``_compaction_watermark``, an
  underscore-named file inside the tree, invisible to parquet reads
  and swapped atomically with the data): the highest real batch_seq
  collapsed into the ``-1`` generation. Time travel stays available
  ABOVE the watermark — Delta's retention-window trade, priced
  explicitly: ``read_store_asof(N)`` answers for ``N >= watermark``
  (the compacted generation IS generations ``0..watermark``) and
  raises below it.
- The LEDGER is untouched. Replay idempotency consults only the ledger
  (a committed ``batch_seq`` no-ops regardless of which generation now
  holds its rows), and the token-shard offset chain sums ledger rows,
  not files — so appends continue correctly after any number of
  compactions.
- The rewrite is a crash-safe whole-tree swap: build the compacted
  tree beside the live one, then ``live -> live.old``,
  ``tmp -> live``, drop ``live.old``. Hadoop's ``rename`` signals
  failure by RETURNING FALSE (it does not throw), so every swap leg is
  checked and a failed second leg restores the original tree before
  raising — the old copy is only deleted once the new tree is verified
  in place. Every call first runs recovery (restore a half-swapped
  tree, drop stale tmp), so a crashed compaction is repaired by the
  next one. Compaction is a single-writer maintenance operation — run
  it when no appender is active, exactly like OPTIMIZE.
- All listing/rename/delete goes through the Hadoop FileSystem API, so
  the protocol carries to HDFS as written. On S3A a rename is a copy;
  an object-store deployment would swap a manifest pointer instead —
  the one documented seam.

Read isolation: a reader racing a crashed (or in-flight) appender sees
that batch's orphan leaves if it scans the directory raw — the files
land before the ledger commit marker. :func:`read_committed` closes
that window as a PURE partition filter (``batch_seq IN (committed ∪
{-1})`` prunes at scan planning, zero per-row cost), giving the store
snapshot-isolation semantics: only ledger-committed generations are
visible, whatever half-written state the tree is in.

Deletion (takedown / right-to-erasure): :func:`append_tombstones`
records doc/vector ids to delete under the same ledger protocol
(replay-idempotent, commit marker last). Readers apply tombstones as a
broadcast anti-join (the takedown set is small by nature);
:func:`compact_store_tree` applies them PHYSICALLY during a full
collapse — the erasure completes when the rewrite drops the bytes,
exactly Delta's DELETE-then-VACUUM story.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

COMPACTED_BATCH_SEQ = -1
_WATERMARK_NAME = "_compaction_watermark"

# Broadcast ceiling for the tombstone anti-join mask, in ids. Takedown
# sets are small by nature, but "small by nature" is not a bound: a
# decade of erasure requests on a 100 TB corpus can outgrow the
# driver/broadcast limits and fail every masked read. The committed id
# count is already driver-side metadata (the tombstone ledger rows
# carry per-batch n_ids), so the gate costs nothing; above it the mask
# falls back to a shuffle anti-join. 4M longs ≈ 32 MB broadcast —
# comfortably inside default executor/driver budgets, orders of
# magnitude above any plausible single-store takedown set.
TOMBSTONE_BROADCAST_MAX_IDS = 4_000_000


# -- session-conf scoping under concurrent driver threads ------------------
#
# Session conf is SHARED across the driver threads run_concurrently
# spawns, and a naive get-prior/set/restore pair races: two concurrent
# masked compactions (NearDupIndex.compact runs its rows and bands
# rewrites on two threads) can interleave so that thread B reads thread
# A's TEMPORARY value as "prior" and restores it after A unsets — the
# temporary value leaks into the session permanently and silently
# changes AQE sizing for every later query. The scope below serializes
# the mutation under a module lock and REFCOUNTS nesting per (session,
# key): the first scope in records the true prior, the last one out
# restores it. Overlapping scopes must request the SAME value (both
# compactions pass the same target_bytes): a scope opened on a key
# already scoped to a DIFFERENT value raises ValueError instead of
# letting the last set silently win for the overlap.
_CONF_SCOPE_LOCK = threading.Lock()
_CONF_SCOPE_STATE: dict[tuple[int, str], list] = {}


@contextmanager
def session_conf_scope(spark: SparkSession, key: str, value):
    sk = (id(spark), key)
    value = str(value)
    with _CONF_SCOPE_LOCK:
        st = _CONF_SCOPE_STATE.get(sk)
        if st is None:
            # [true prior (None = was unset), refcount, scoped value]
            st = [spark.conf.get(key, None), 0, value]
            _CONF_SCOPE_STATE[sk] = st
            spark.conf.set(key, value)
        elif st[2] != value:
            raise ValueError(
                f"session_conf_scope: {key} is already scoped to {st[2]!r}"
                f" by an open scope; refusing to override it with {value!r}"
            )
        st[1] += 1
    try:
        yield
    finally:
        with _CONF_SCOPE_LOCK:
            st[1] -= 1
            if st[1] == 0:
                del _CONF_SCOPE_STATE[sk]
                if st[0] is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, st[0])


def _fs(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    p = jpath(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def store_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence probe for a store directory — the portable
    form of ``os.path.isdir`` (which is always false on HDFS/S3A)."""
    fs, jpath = _fs(spark, path)
    return bool(fs.exists(jpath(path)))


def _read_small_text(spark: SparkSession, path: str) -> str | None:
    """A few-byte marker file's stripped text, or None if it is absent.
    Hadoop's FSDataInputStream is awkward byte-at-a-time from py4j; the
    commons-io whole-stream utility (bundled with Hadoop) reads it in
    one call."""
    fs, jpath = _fs(spark, path)
    p = jpath(path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        ).strip()
    finally:
        stream.close()


def _write_small_text(spark: SparkSession, path: str, text: str) -> None:
    """Create (or overwrite) a marker file holding ``text``."""
    fs, jpath = _fs(spark, path)
    out = fs.create(jpath(path), True)
    try:
        out.write(text.encode("utf-8"))
    finally:
        out.close()


def invalidate_swapped_path(spark: SparkSession, path: str) -> None:
    """Invalidate Spark state over a path whose files were just swapped
    or deleted OUTSIDE Spark's write path (the compaction renames, the
    erasure deletes). ``catalog.refreshByPath`` recaches CACHED plans
    under the path but does NOT touch the session's shared file-status
    listing cache; sequential flows were covered incidentally (the
    next Spark write command's own index refresh drops the listing
    cache before any reader plans against the swapped tree), but with
    compactions running as CONCURRENT driver threads that ordering is
    no longer guaranteed. Dropping the listing cache here makes the
    listing half of post-swap invalidation deterministic; the cost is
    a fresh listing on next read, which a maintenance op pays anyway.

    NOTE this does not protect a PERSISTED plan whose fragment spans
    the swapped tree: refreshByPath rebuilds such a cache entry
    against the displaced listing, and any later matching plan is
    substituted with it (reads deleted files). Protocol steps must
    therefore collect every plan that reads a store before the
    store's first mutation (``NearDupIndex._run_batch`` collects its
    candidates, roster hits and decisions to the driver before it
    appends), so no persisted plan over the store outlives a swap."""
    spark.catalog.refreshByPath(path)
    try:
        spark._jvm.org.apache.spark.sql.execution.datasources.FileStatusCache.resetForTesting()
    except Exception:
        # listing cache not reachable on this runtime — refreshByPath
        # plus the write path's own invalidation is the best available
        pass


def _footer_row_counts(spark: SparkSession, fs, statuses) -> int:
    """Sum of ``num_rows`` over the given parquet FileStatus list, read
    DRIVER-SIDE from the files' footers — two seeks + a footer-sized
    read per file through Hadoop streams, never the data pages, so the
    cost is O(#files) metadata IO on any Hadoop filesystem. This is
    what lets the append protocols record their exact written-row
    counts without a read-back Spark job per commit (the job was pure
    fixed cost locally and an O(batch) rescan at scale; the footer is
    the same source of truth the scan's count would use).

    The footer bytes are parsed by stitching a minimal standalone
    parquet file (magic + footer + length + magic) for pyarrow —
    ``FileMetaData.num_rows`` lives entirely in the footer, so the
    absent data pages are never dereferenced.

    Local (``file:``) paths skip the Hadoop-stream hop and read the
    footer with pyarrow directly — a py4j round-trip pair per file is
    ~10 ms and a store can hold hundreds of leaf files (measured: the
    per-cell IVF appends regressed 1.7× when every footer went through
    the gateway). Non-local schemes read through Hadoop streams on a
    small thread pool — the seeks are independent, and on an object
    store the latency (not bandwidth) dominates."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    local, remote = [], []
    for status in statuses:
        if status.getLen() < 12:  # not parquet (magic+footer impossible)
            continue
        uri = status.getPath().toUri()
        if uri.getScheme() in (None, "file"):
            local.append(uri.getPath())
        else:
            remote.append(status)
    total = 0
    for path in local:
        total += papq.read_metadata(path).num_rows

    def _remote_rows(status) -> int:
        util = spark._jvm.org.apache.commons.io.IOUtils
        length = status.getLen()
        stream = fs.open(status.getPath())
        try:
            stream.seek(length - 8)
            tail = bytes(util.toByteArray(stream, 8))
            flen = int.from_bytes(tail[:4], "little")
            stream.seek(length - 8 - flen)
            footer = bytes(util.toByteArray(stream, flen))
        finally:
            stream.close()
        buf = b"PAR1" + footer + tail
        return papq.read_metadata(pa.BufferReader(buf)).num_rows

    if remote:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(8, len(remote))) as pool:
            total += sum(pool.map(_remote_rows, remote))
    return total


def footer_column_sum(
    spark: SparkSession,
    fs,
    statuses,
    column: str,
    max_bytes: int = 256 << 20,
) -> tuple[int, int] | None:
    """(total_rows, sum(column)) over the given parquet files, read
    DRIVER-SIDE — or ``None`` when the driver should not do it (any
    non-local file, or total file bytes above ``max_bytes``), in which
    case the caller runs its normal distributed read-back.

    Row counts come from the footers alone; the column sum reads
    exactly ONE column's pages via pyarrow (for the token-shard ledger
    that is the int64 ``n_tokens`` column — a sliver of file bytes next
    to the text payload). This removes the per-append read-back Spark
    job (~fixed job cost per commit) for the overwhelmingly common
    small-batch append, while a genuinely large batch — where a
    driver-side read would be the bottleneck, not the job overhead —
    keeps the distributed read-back. The written FILES remain the
    source of truth either way (the read-back proves the
    materialization, not the plan)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as papq

    paths = []
    total_len = 0
    for status in statuses:
        uri = status.getPath().toUri()
        if uri.getScheme() not in (None, "file"):
            return None
        total_len += status.getLen()
        paths.append(uri.getPath())
    if total_len > max_bytes:
        return None
    n_rows, col_sum = 0, 0
    for path in paths:
        pf = papq.ParquetFile(path)
        n_rows += pf.metadata.num_rows
        if pf.metadata.num_rows == 0:
            continue
        tbl = pf.read(columns=[column])
        s = pc.sum(tbl.column(0)).as_py()
        col_sum += int(s or 0)
    return n_rows, col_sum


_LEDGER_CHECKPOINT_PREFIX = "_ledger_checkpoint-"


def _ledger_rows(spark: SparkSession, ledger_path: str):
    """Committed ledger rows, or None if the ledger is absent/empty.
    O(#batches) rows — the ledger is metadata, never data-sized, so it
    is read DRIVER-SIDE (pyarrow over Hadoop input streams) instead of
    scheduling a Spark job per protocol step: the exact trade Delta
    makes with its transaction log, and on this store family the
    difference between a ~1.3 s fixed job cost and a millisecond read
    at every append's replay guard / committed-read / vacuum.

    Sources, in Delta-log fashion: every ``_ledger_checkpoint-*``
    file (:func:`checkpoint_ledger` folds closed commits into one
    parquet) plus the live per-commit tail files, deduplicated by
    ``batch_seq`` — one batch has exactly one committed row, so a
    crash between a checkpoint landing and its folded files' cleanup
    only produces harmless duplicates. Every row carries
    ``commit_mtime_ms`` (the commit file's own mtime for tail rows;
    the value preserved at fold time for checkpointed rows), which is
    what keeps :func:`assert_ordered_commits` fully driver-side."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    fs, jpath = _fs(spark, ledger_path)
    p = jpath(ledger_path)
    if not fs.exists(p):
        return None
    commit_files, ckpt_files = [], []
    for s in fs.listStatus(p):
        n = s.getPath().getName()
        # skip zero-length files: Hadoop's local FS does not fsync
        # before rename, so a crash can still leave a zero-length
        # commit file; an empty husk carries no committed row and must
        # not poison every later replay guard / read / vacuum
        if not n.endswith(".parquet") or s.getLen() == 0:
            continue
        if n.startswith(_LEDGER_CHECKPOINT_PREFIX):
            ckpt_files.append(s)
        elif not n.startswith("."):
            commit_files.append(s)
    if not commit_files and not ckpt_files:
        return None
    util = spark._jvm.org.apache.commons.io.IOUtils
    rows = []
    seen: set[int] = set()
    from types import SimpleNamespace

    def _read(status):
        stream = fs.open(status.getPath())
        try:
            data = bytes(util.toByteArray(stream))
        finally:
            stream.close()
        return papq.read_table(pa.BufferReader(data)).to_pylist()

    # tail commits first, then checkpoints: content per batch_seq is
    # identical wherever it lives, so precedence only matters for not
    # double-counting
    for s in commit_files:
        mt = int(s.getModificationTime())
        for rec in _read(s):
            if rec["batch_seq"] in seen:
                continue
            seen.add(rec["batch_seq"])
            rec.setdefault("commit_mtime_ms", mt)
            rows.append(SimpleNamespace(**rec))
    for s in ckpt_files:
        for rec in _read(s):
            if rec["batch_seq"] in seen:
                continue
            seen.add(rec["batch_seq"])
            rows.append(SimpleNamespace(**rec))
    return rows or None


def checkpoint_ledger(spark: SparkSession, ledger_path: str) -> int:
    """Fold every committed ledger row into ONE
    ``_ledger_checkpoint-<maxseq>-<uuid>.parquet`` file and delete the
    folded per-commit files — Delta's log-checkpoint move, applied to
    the store ledgers. Why it exists: the ledger is consulted at every
    append's replay guard, every committed read, every vacuum, and at
    10k epochs that is 10k file opens per protocol step; after a
    checkpoint it is ONE open plus however many commits landed since.

    Crash-safe without a swap: the new checkpoint is written
    temp-then-rename FIRST, and only then are the files it folded
    (older checkpoints + commit files, listed before the write)
    deleted. A crash at any point leaves duplicate rows across
    checkpoint generations and tail files, which the reader dedupes by
    ``batch_seq`` — content per committed batch is immutable, so any
    copy is the right copy. Per-row ``commit_mtime_ms`` is preserved at
    fold time, keeping the ordered-commit validation exact across any
    number of checkpoints. Single-writer maintenance, like compaction.

    Returns the number of files folded (0 = nothing to do).
    """
    import io as _io
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as papq

    fs, jpath = _fs(spark, ledger_path)
    p = jpath(ledger_path)
    if not fs.exists(p):
        return 0
    to_fold = [
        s.getPath()
        for s in fs.listStatus(p)
        if s.getPath().getName().endswith(".parquet")
        and not s.getPath().getName().startswith(".")
    ]
    rows = _ledger_rows(spark, ledger_path)
    if not rows or len(to_fold) <= 1:
        return 0  # empty, or already a single file — nothing to fold
    recs = [vars(r) for r in rows]
    table = pa.Table.from_pylist(recs)
    buf = _io.BytesIO()
    papq.write_table(table, buf)
    max_seq = max(r.batch_seq for r in rows)
    token = f"{max_seq}-{uuid.uuid4().hex}"
    tmp = jpath(f"{ledger_path}/.{_LEDGER_CHECKPOINT_PREFIX}{token}.inprogress")
    final = jpath(
        f"{ledger_path}/{_LEDGER_CHECKPOINT_PREFIX}{token}.parquet"
    )
    out = fs.create(tmp, True)
    try:
        out.write(buf.getvalue())
    finally:
        out.close()
    if not fs.rename(tmp, final):
        fs.delete(tmp, True)
        raise IOError(
            f"ledger checkpoint failed: could not rename {tmp} into place"
        )
    for f in to_fold:
        fs.delete(f, False)
    return len(to_fold)


def append_ledger_row(
    spark: SparkSession,
    ledger_path: str,
    batch_seq: int,
    counts: dict[str, int],
) -> None:
    """Append one commit-marker row to a ledger as a SELF-CONTAINED
    parquet file, written driver-side through a Hadoop output stream
    (pyarrow serializes the row in memory; no Spark job). The ledger is
    metadata — one row per batch — so scheduling a cluster write job
    for it was pure fixed overhead; Delta's transaction log makes the
    same driver-side choice. Schema: batch_seq int32, counts int64.
    The unique filename keeps concurrent writers from clobbering each
    other; the one-row-per-file invariant is what dates
    each live commit for :func:`assert_ordered_commits` (a
    :func:`checkpoint_ledger` fold preserves each row's mtime, so the
    dating survives checkpointing)."""
    import io as _io
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as papq

    names = ["batch_seq"] + list(counts)
    arrays = [pa.array([batch_seq], type=pa.int32())] + [
        pa.array([int(v)], type=pa.int64()) for v in counts.values()
    ]
    buf = _io.BytesIO()
    papq.write_table(pa.Table.from_arrays(arrays, names=names), buf)
    fs, jpath = _fs(spark, ledger_path)
    # Temp-then-rename: the final commit-*.parquet name must only ever
    # appear COMPLETE, or a crash mid-write would leave a truncated
    # parquet that poisons every later replay guard / committed read /
    # vacuum (the old Spark write path got this atomicity from the
    # output committer). The dot-prefixed temp is invisible to both
    # readers (_ledger_rows filters on the .parquet suffix, Spark skips
    # hidden files); rename is atomic on HDFS and the local fs.
    token = f"{batch_seq}-{uuid.uuid4().hex}"
    tmp = jpath(f"{ledger_path}/.commit-{token}.parquet.inprogress")
    final = jpath(f"{ledger_path}/commit-{token}.parquet")
    out = fs.create(tmp, True)
    try:
        out.write(buf.getvalue())
    finally:
        out.close()
    if not fs.rename(tmp, final):
        fs.delete(tmp, True)
        raise IOError(
            f"ledger commit failed: could not rename {tmp} into place"
        )


def committed_batch_seqs(spark: SparkSession, ledger_path: str) -> set[int]:
    """The set of ledger-committed batch sequences (empty if no ledger)."""
    rows = _ledger_rows(spark, ledger_path)
    return {r.batch_seq for r in rows} if rows else set()


def read_committed(
    spark: SparkSession,
    data_path: str,
    ledger_path: str,
    tombstones_path: str | None = None,
    tombstone_ledger_path: str | None = None,
    id_col: str | None = None,
) -> DataFrame:
    """Snapshot-isolated read of a ledger-appended store: only rows in
    ledger-COMMITTED generations (plus the compacted ``-1`` generation)
    are visible. A crashed appender's orphan leaves — files written
    before the ledger commit marker — are filtered out at scan PLANNING
    time: ``batch_seq`` is a partition column, so the ``isin`` filter
    is a pure ``PartitionFilters`` prune and the orphan files are never
    opened. Zero cost relative to a raw read; this is the reader-side
    half of the append protocol's crash-safety (the writer-side half is
    retry self-heal / :func:`vacuum_store`).

    With ``tombstones_path`` set, committed tombstones are applied as a
    LEFT ANTI join on ``id_col`` — broadcast while the committed id
    count (ledger metadata) stays under
    :data:`TOMBSTONE_BROADCAST_MAX_IDS` (the common case: the corpus is
    never reshuffled for a deletion mask), shuffle anti-join above it.
    """
    committed = sorted(
        committed_batch_seqs(spark, ledger_path) | {COMPACTED_BATCH_SEQ}
    )
    df = spark.read.parquet(data_path).filter(
        F.col("batch_seq").isin(committed)
    )
    return _apply_tombstone_mask(
        spark, df, tombstones_path, tombstone_ledger_path, id_col
    )


def _committed_tombstone_ids(
    spark: SparkSession,
    tombstones_path: str,
    tombstone_ledger_path: str,
    id_col: str,
) -> DataFrame:
    """The committed deletion mask, with a SIZE-GATED broadcast hint:
    the per-batch id counts in the tombstone ledger (driver-side
    metadata, already read for the committed-generation prune) bound
    the mask's size, and only a mask under
    :data:`TOMBSTONE_BROADCAST_MAX_IDS` gets the hint — above it the
    anti-join falls back to a shuffle rather than blowing the
    broadcast/driver limits. The ledger sum double-counts ids deleted
    in several batches, which only errs toward the safe (shuffle)
    side."""
    dead = (
        read_committed(spark, tombstones_path, tombstone_ledger_path)
        .select(id_col)
        .distinct()
    )
    rows = _ledger_rows(spark, tombstone_ledger_path)
    n_ids = sum(int(getattr(r, "n_ids", 0)) for r in rows or [])
    if n_ids <= TOMBSTONE_BROADCAST_MAX_IDS:
        dead = F.broadcast(dead)
    return dead


def _apply_tombstone_mask(
    spark: SparkSession,
    df: DataFrame,
    tombstones_path: str | None,
    tombstone_ledger_path: str | None,
    id_col: str | None,
) -> DataFrame:
    """Anti-join ``df`` against the committed tombstone set (no-op if
    no tombstone store exists); broadcast vs shuffle is decided by
    :func:`_committed_tombstone_ids`."""
    if tombstones_path is None or not store_exists(spark, tombstones_path):
        return df
    if tombstone_ledger_path is None or id_col is None:
        raise ValueError(
            "tombstones_path requires tombstone_ledger_path and id_col"
        )
    dead = _committed_tombstone_ids(
        spark, tombstones_path, tombstone_ledger_path, id_col
    )
    return df.join(dead, id_col, "left_anti")


def _read_watermark(spark: SparkSession, live_path: str) -> int | None:
    """The compaction watermark recorded inside the tree, or None if
    the store was never compacted. :func:`compact_store_tree` is the
    only writer of the compacted generation and swaps the watermark in
    with it, so a tree holding ``batch_seq=-1`` always holds a
    watermark."""
    txt = _read_small_text(spark, f"{live_path}/{_WATERMARK_NAME}")
    return None if txt is None else int(txt)


def _checked_swap(fs, live, old, tmp, reconcile=None) -> None:
    """The crash-safe whole-tree swap with every rename leg CHECKED:
    Hadoop ``rename`` reports failure by returning false, so an
    unchecked swap that lost its second leg would go on to delete the
    only intact copy of the store. The old tree is deleted only after
    the new tree is verified in place. ``reconcile``, if given, runs
    between the verification and the destructive leg — the window where
    BOTH trees exist, used to rescue generations committed by an
    appender racing the rewrite (they live only in ``old``)."""
    if not fs.rename(live, old):
        raise IOError(
            f"compaction swap failed: could not move {live} aside to {old}"
        )
    if not fs.rename(tmp, live):
        restored = fs.rename(old, live)
        raise IOError(
            f"compaction swap failed: could not move {tmp} into place at "
            f"{live}"
            + (
                ""
                if restored
                else f"; RESTORE ALSO FAILED — intact store left at {old}"
            )
        )
    if not fs.exists(live):  # paranoia before the destructive leg
        raise IOError(
            f"compaction swap failed: {live} absent after rename; intact "
            f"store left at {old}"
        )
    if reconcile is not None:
        reconcile()
    fs.delete(old, True)


def _swap_recovery(fs, live, old, tmp) -> None:
    """Entry-time repair of a crashed prior swap, in swap order."""
    if not fs.exists(live) and fs.exists(old):
        fs.rename(old, live)  # crashed between the two renames
    if fs.exists(tmp):
        fs.delete(tmp, True)  # stale build, never swapped in
    if fs.exists(old):
        fs.delete(old, True)  # crashed after the swap, before cleanup


def _rescue_missed_leaves(
    fs, jpath, live_path: str, missed: set[int], step: str
) -> bool:
    """Move the ``batch_seq`` leaves of the ``missed`` committed
    generations from the displaced ``{live_path}.old`` tree into the
    live tree — per-leaf renames, same-filesystem metadata ops. Hadoop
    ``rename`` reports failure by returning false, so a failed move
    raises (naming ``step``) before the old copy can be deleted.
    Returns whether any leaf moved."""
    if not missed:
        return False
    moved = False
    for s in fs.globStatus(jpath(f"{live_path}.old/*/batch_seq=*")) or []:
        seq = int(s.getPath().getName().split("=", 1)[1])
        if seq not in missed:
            continue
        leaf = s.getPath()
        key_name = leaf.getParent().getName()
        fs.mkdirs(jpath(f"{live_path}/{key_name}"))
        dest = jpath(f"{live_path}/{key_name}/{leaf.getName()}")
        if not fs.rename(leaf, dest):
            raise IOError(
                f"{step} failed: committed generation {seq} leaf {leaf} "
                f"could not be moved into {dest}"
            )
        moved = True
    return moved


def compact_store_tree(
    spark: SparkSession,
    live_path: str,
    key_col: str,
    sort_col: str,
    upto_seq: int | None = None,
    tombstones_path: str | None = None,
    tombstone_ledger_path: str | None = None,
    id_col: str | None = None,
    ledger_path: str | None = None,
) -> int:
    """Compact a ``(key_col, batch_seq)``-partitioned store tree
    (hash-clustering by ``key_col`` puts each key's rows in exactly one
    task, so the dynamic-partition write emits exactly one file per
    compacted leaf — the token-shard exporter's layout trick).

    Two modes, both recording the watermark that keeps
    :func:`read_store_asof` honest:

    - ``upto_seq=None`` (full collapse): every generation folds into
      ``batch_seq = -1`` — one file per key. Watermark = the highest
      real batch_seq observed, so as-of stays answerable only AT or
      above the head (i.e. the present). This is also the only mode
      that may apply tombstones physically (see below) — erasure must
      drop every copy, and partial collapse would leave masked rows in
      the untouched upper generations.
    - ``upto_seq=K`` (retention compaction): generations ``0..K`` (and
      any prior ``-1``) fold into ``batch_seq = -1``; generations above
      K are preserved byte-identically. Small files collapse
      epochs-fold below the watermark while time travel survives above
      it — Delta's OPTIMIZE-within-retention.

    With ``tombstones_path`` set (full collapse only), committed
    tombstones are applied PHYSICALLY: masked rows are dropped from the
    rewrite and the tombstone data files are deleted afterwards (their
    ledger survives, so a replayed tombstone batch still no-ops).

    Returns the number of rows rewritten (0 = store empty or absent,
    nothing done). Content is preserved exactly (minus applied
    tombstones); tests fingerprint it.

    APPENDER-RACE GUARD (``ledger_path``): compaction is documented
    single-writer, but the read→rewrite→swap window is minutes long at
    scale and a scheduler that double-fires maintenance against a live
    appender must degrade safely, not silently drop data. The scan is
    PINNED to the generations physically present when compaction
    starts (a partition-filter ``isin`` over the globbed leaves), so
    which batches fold is deterministic; with ``ledger_path`` given,
    a post-swap reconciliation compares the data ledger against the
    folded/preserved set and RESCUES any generation that committed
    inside the window — its leaves are moved from the displaced old
    tree into the compacted tree before the old copy is deleted, so
    the batch survives with both its rows and its ledger row. Only the
    swap itself (two renames) remains an unguarded instant, which is
    the same exposure Delta's OPTIMIZE commit has.
    """
    if upto_seq is not None and upto_seq < 0:
        raise ValueError(f"upto_seq must be >= 0, got {upto_seq}")
    if tombstones_path is not None and upto_seq is not None:
        raise ValueError(
            "physical tombstone apply requires a full collapse "
            "(upto_seq=None): a partial compaction would leave masked "
            "rows in the preserved upper generations"
        )
    fs, jpath = _fs(spark, live_path)
    live = jpath(live_path)
    old = jpath(live_path + ".old")
    tmp = jpath(live_path + ".compact")
    if ledger_path is not None and fs.exists(live) and fs.exists(old):
        # a prior compaction crashed AFTER its swap but possibly BEFORE
        # its missed-generation reconcile finished — recovery is about
        # to delete the old tree, so run the rescue first. Which
        # generations the crashed run folded is no longer knowable
        # directly, but its watermark is: any committed seq ABOVE the
        # live tree's watermark that is physically absent from live can
        # only be a window batch the crashed swap displaced (folded
        # generations all sit at or below the watermark). Below-or-at
        # watermark seqs are never rescued here — they are the folded
        # history, and re-moving them would duplicate rows. A live tree
        # with NO watermark was never compacted, so nothing was folded:
        # every committed seq must be physically present, and any
        # committed seq found only in .old is a displaced window batch.
        wm = _read_watermark(spark, live_path)
        live_seqs = {
            int(s.getPath().getName().split("=", 1)[1])
            for s in fs.globStatus(jpath(f"{live_path}/*/batch_seq=*"))
            or []
        }
        missed = {
            s
            for s in committed_batch_seqs(spark, ledger_path) - live_seqs
            if wm is None or s > wm
        }
        if _rescue_missed_leaves(
            fs, jpath, live_path, missed, "crash-recovery rescue"
        ):
            # the rescue renamed outside Spark's write path
            invalidate_swapped_path(spark, live_path)
    _swap_recovery(fs, live, old, tmp)

    if not fs.exists(live):
        return 0
    # pin the scan to the generations physically present NOW: which
    # batches this compaction folds is then deterministic even if an
    # appender lands new leaves mid-rewrite (those are rescued by the
    # post-swap reconciliation below, never half-read here)
    observed = {
        int(s.getPath().getName().split("=", 1)[1])
        for s in fs.globStatus(jpath(f"{live_path}/*/batch_seq=*")) or []
    }
    if not observed:
        return 0
    df = spark.read.parquet(live_path).filter(
        F.col("batch_seq").isin(sorted(observed))
    )
    prior_wm = _read_watermark(spark, live_path)
    # Store-shape stats DRIVER-SIDE (r16; was one agg job): the
    # generation set is exactly the observed partition leaves, so the
    # head of the REAL generations (the compacted -1 generation's
    # position in history is the watermark, not its partition value)
    # comes from the glob, and the live row count comes from the
    # parquet footers of the leaves' files — the same numbers the
    # scan's aggregate produced, no job.
    real = [s for s in observed if s >= 0]
    head = max(real) if real else None
    files = []
    for s in fs.globStatus(jpath(f"{live_path}/*/batch_seq=*/*")) or []:
        seq = int(s.getPath().getParent().getName().split("=", 1)[1])
        if s.getPath().getName().endswith(".parquet") and seq in observed:
            files.append(s)
    n_live = _footer_row_counts(spark, fs, files)
    if n_live == 0:
        return 0
    df = _apply_tombstone_mask(
        spark, df, tombstones_path, tombstone_ledger_path, id_col
    )
    if upto_seq is None:
        folded = df.withColumn("batch_seq", F.lit(COMPACTED_BATCH_SEQ))
        # a tree holding only the -1 generation carries the watermark
        # of the compaction that wrote it
        watermark = max(x for x in (head, prior_wm) if x is not None)
    else:
        fold_mask = F.col("batch_seq") <= F.lit(upto_seq)
        folded = df.withColumn(
            "batch_seq",
            F.when(fold_mask, F.lit(COMPACTED_BATCH_SEQ)).otherwise(
                F.col("batch_seq")
            ),
        )
        watermark = max(
            int(upto_seq), prior_wm if prior_wm is not None else -1
        )
    # the fold only relabels batch_seq, so without a tombstone mask the
    # folded row count IS the live count already known from the footers.
    # With a mask, the rewrite is written FIRST and the surviving row
    # count read back from the written files' parquet footers (r16) —
    # the rewrite job is the only pass over the data, where the old
    # flow paid a full masked count() before it; full erasure shows up
    # as zero rows written and the temp tree is discarded.
    masked = tombstones_path is not None and store_exists(
        spark, tombstones_path
    )
    if masked:
        (
            folded.repartition(key_col, "batch_seq")
            .sortWithinPartitions(key_col, sort_col)
            .write.mode("overwrite")
            .partitionBy(key_col, "batch_seq")
            .parquet(live_path + ".compact")
        )
        written = [
            s
            for s in (
                fs.globStatus(
                    jpath(f"{live_path}.compact/*/batch_seq=*/*")
                )
                or []
            )
            if s.getPath().getName().endswith(".parquet")
        ]
        n = _footer_row_counts(spark, fs, written)
    else:
        n = n_live
    if n == 0:
        fs.delete(tmp, True)  # the zero-row rewrite, if one was written
        if tombstones_path is not None and store_exists(
            spark, tombstones_path
        ):
            # the mask covered EVERY row: the correct physical state of
            # a fully-erased store is no data tree at all — deleting
            # the bytes here is the erasure the contract promises (an
            # empty dynamic-partition write would leave a schema-less
            # tree instead); the tombstone files go with it, the
            # ledgers survive for the replay guards. Only the OBSERVED
            # leaves are erased — a generation an appender landed after
            # the pin is not covered by this mask decision and must
            # survive; the tree itself goes only if nothing is left.
            for s in (
                fs.globStatus(jpath(f"{live_path}/*/batch_seq=*")) or []
            ):
                if int(s.getPath().getName().split("=", 1)[1]) in observed:
                    fs.delete(s.getPath(), True)
            leftover = fs.globStatus(jpath(f"{live_path}/*/batch_seq=*"))
            if leftover is None or len(leftover) == 0:
                fs.delete(live, True)
                # erasure physically complete for everything observed,
                # and nothing unmasked survives — drop the mask bytes
                fs.delete(jpath(tombstones_path), True)
                invalidate_swapped_path(spark, tombstones_path)
            # else: a post-pin generation survived and was never run
            # through this mask decision — the tombstone files must
            # stay so the logical mask keeps covering it until the
            # next full collapse applies it physically
            invalidate_swapped_path(spark, live_path)
        return 0
    if not masked:
        (
            folded.repartition(key_col, "batch_seq")
            .sortWithinPartitions(key_col, sort_col)
            .write.mode("overwrite")
            .partitionBy(key_col, "batch_seq")
            .parquet(live_path + ".compact")
        )
    _write_small_text(
        spark, f"{live_path}.compact/{_WATERMARK_NAME}", str(watermark)
    )

    rescued_any = [False]

    def _rescue_missed_generations():
        # a batch that COMMITTED inside the read->swap window is
        # accounted for in the ledger but absent from the rewrite (the
        # scan was pinned before it landed): its leaves exist only in
        # the displaced old tree. Move them into the compacted tree
        # before the old copy is destroyed.
        missed = committed_batch_seqs(spark, ledger_path) - observed
        rescued_any[0] = _rescue_missed_leaves(
            fs, jpath, live_path, missed, "compaction reconcile"
        )

    _checked_swap(
        fs,
        live,
        old,
        tmp,
        reconcile=(
            _rescue_missed_generations if ledger_path is not None else None
        ),
    )
    if tombstones_path is not None and store_exists(spark, tombstones_path):
        if rescued_any[0]:
            # a racing appender's generations were moved into the tree
            # VERBATIM — the rewrite's physical tombstone apply never
            # saw them, and they may re-carry already-tombstoned ids.
            # Deleting the tombstone data files now would make such
            # rows servable on every later read (erasure silently
            # violated). Keep the mask in force — logical deletion
            # still holds via read_committed — and let the NEXT full
            # collapse (no race) complete the erasure physically.
            invalidate_swapped_path(spark, live_path)
            return n
        # erasure completed: the rewrite dropped the bytes; the
        # tombstone LEDGER survives so replayed tombstone batches no-op
        fs.delete(jpath(tombstones_path), True)
        invalidate_swapped_path(spark, tombstones_path)
    # the swap bypassed Spark's write path for the live location
    invalidate_swapped_path(spark, live_path)
    return n


def data_file_count(spark: SparkSession, path: str) -> int:
    """Number of parquet data files under a store tree (metadata-only
    recursive listing through the Hadoop FileSystem API)."""
    fs, jpath = _fs(spark, path)
    p = jpath(path)
    if not fs.exists(p):
        return 0
    it = fs.listFiles(p, True)
    count = 0
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            count += 1
    return count


def assert_ordered_commits(spark: SparkSession, ledger_path: str) -> None:
    """Validate that the ledger's COMMIT order matches its batch_seq
    order — the precondition under which an as-of read is a temporal
    snapshot. Each commit is dated by ``commit_mtime_ms`` (the commit
    file's own mtime for live tail rows — one file per batch — and the
    value preserved at fold time for checkpointed rows); a strict
    inversion (a higher batch_seq committed strictly earlier than a
    lower one) proves the store is UNORDERED — IVF-style stores allow
    that by design, and ``batch_seq <= N`` is then a set filter, not a
    point in time. Ties in mtime are tolerated (same-instant commits
    carry no ordering evidence either way). Driver-side metadata read
    (O(#batches)) — no Spark job per as-of validation.
    """
    rows = _ledger_rows(spark, ledger_path) or []
    ordered = sorted(rows, key=lambda r: (r.commit_mtime_ms, r.batch_seq))
    for a, b in zip(ordered, ordered[1:]):
        if a.commit_mtime_ms < b.commit_mtime_ms and a.batch_seq > b.batch_seq:
            raise ValueError(
                "as-of read refused: ledger shows batch_seq "
                f"{b.batch_seq} committed AFTER batch_seq {a.batch_seq} "
                "— this store's batches are unordered, so a batch_seq "
                "range is not a temporal snapshot"
            )


def read_store_asof(
    spark: SparkSession,
    data_path: str,
    batch_seq: int,
    ledger_path: str | None = None,
    tombstones_path: str | None = None,
    tombstone_ledger_path: str | None = None,
    id_col: str | None = None,
    include_erased: bool = False,
) -> DataFrame:
    """Time-travel read of a ledger-appended store: the rows as they
    stood after batch ``batch_seq`` committed — i.e. the generations
    ``0..batch_seq``. Because every batch owns its ``batch_seq=B``
    partition leaves and closed batches are never rewritten, an as-of
    read is a pure partition filter: the scan prunes to the wanted
    generations' directories and never opens a newer file (the poor
    man's Delta time travel, priced at zero extra storage).

    TEMPORAL semantics require an ORDERED store (the token-shard
    chain, whose appends enforce increasing batch_seq). On an
    unordered store (IVF/IVF-PQ, where batches are independent and may
    commit in any order) the same filter is still a well-defined SET
    read — "the union of generations 0..N" — but not "the store at the
    time batch N committed". Pass ``ledger_path`` to VALIDATE ordering
    (:func:`assert_ordered_commits`) before trusting the temporal
    reading.

    Compaction narrows, but no longer destroys, this window: the
    watermark-aware :func:`compact_store_tree` records the highest
    batch_seq folded into the ``-1`` generation, so an as-of read AT or
    above the watermark serves the compacted generation (which IS
    generations ``0..watermark``) plus the preserved generations up to
    ``batch_seq``; below the watermark the history is gone and the read
    raises — Delta's retention window, stated rather than silently
    wrong.

    ERASURE WINS OVER TIME TRAVEL. With ``tombstones_path`` set (plus
    ``tombstone_ledger_path`` and ``id_col``), committed tombstones are
    applied to the as-of result by DEFAULT: a doc deleted under
    right-to-erasure must not be servable via any pre-delete
    ``batch_seq`` — time travel is a read optimization, not an
    exception to a legal deletion. ``include_erased=True`` is the
    explicit AUDIT escape (e.g. reconstructing what a past training run
    actually saw), documented as serving logically-erased rows only
    until a full-collapse compaction removes the bytes — after that the
    escape has nothing left to resurrect, which is exactly the
    ``delete + compact`` erasure-completion contract. Callers that pass
    no tombstone paths get the raw generations.
    """
    if ledger_path is not None:
        assert_ordered_commits(spark, ledger_path)

    def _mask(df: DataFrame) -> DataFrame:
        if include_erased:
            return df
        return _apply_tombstone_mask(
            spark, df, tombstones_path, tombstone_ledger_path, id_col
        )

    wm = _read_watermark(spark, data_path)
    if wm is not None:
        if batch_seq < wm:
            raise ValueError(
                f"as-of read unavailable: batch_seq {batch_seq} predates "
                f"the compaction watermark {wm} — history below the "
                "watermark is collapsed into the compacted generation"
            )
        return _mask(
            spark.read.parquet(data_path).filter(
                (F.col("batch_seq") == COMPACTED_BATCH_SEQ)
                | F.col("batch_seq").between(wm + 1, batch_seq)
            )
        )
    return _mask(
        spark.read.parquet(data_path).filter(
            F.col("batch_seq").between(0, batch_seq)
        )
    )


def read_store_changes(
    spark: SparkSession,
    data_path: str,
    ledger_path: str,
    after_seq: int,
    upto_seq: int | None = None,
    tombstones_path: str | None = None,
    tombstone_ledger_path: str | None = None,
    id_col: str | None = None,
) -> DataFrame:
    """Change-data-feed read: the rows APPENDED by generations
    ``(after_seq, upto_seq]`` (``upto_seq=None`` = everything committed
    since). This is how an incremental downstream consumer — an
    embedding pipeline, an index builder, a training-shard mixer —
    pulls "what's new since my last checkpoint" without rescanning the
    corpus: because every batch owns its ``batch_seq=B`` partition
    leaves, the feed is a pure partition prune (Delta's Change Data
    Feed, priced into the append protocol at zero extra storage).

    Committed generations only (a racing appender's half-written batch
    is invisible — same isolation as :func:`read_committed`), so a
    consumer can checkpoint ``max committed seq`` and resume exactly.
    Compaction bounds the feed exactly like time travel: generations at
    or below the watermark are folded and no longer separable, so a
    request reaching under the watermark raises rather than silently
    serving a wrong delta — a consumer that falls further behind than
    the store's retention must bootstrap from a full committed read.
    Tombstone params mask erased docs from the feed (erasure wins here
    too: a takedown must not re-enter downstream systems via an old
    checkpoint's catch-up read). Deletion deltas are the tombstone
    store's own feed: ``read_store_changes`` over
    ``tombstone_paths(root)`` with no mask args, since the tombstone
    store is itself ledger-appended and never compacted in place.
    """
    committed = committed_batch_seqs(spark, ledger_path)
    head = max(committed) if committed else -1
    hi = head if upto_seq is None else upto_seq
    wm = _read_watermark(spark, data_path)
    if wm is not None and after_seq < wm:
        raise ValueError(
            f"change feed unavailable: after_seq {after_seq} reaches "
            f"under the compaction watermark {wm} — those generations "
            "are folded and no longer separable; bootstrap from a full "
            "committed read instead"
        )
    wanted = sorted(s for s in committed if after_seq < s <= hi)
    df = spark.read.parquet(data_path).filter(
        F.col("batch_seq").isin(wanted)
        if wanted
        else F.lit(False)  # empty feed: stable schema, zero rows
    )
    return _apply_tombstone_mask(
        spark, df, tombstones_path, tombstone_ledger_path, id_col
    )


def consume_changes(
    spark: SparkSession,
    data_path: str,
    ledger_path: str,
    state_root: str,
    fold,
    tombstones_path: str | None = None,
    tombstone_ledger_path: str | None = None,
    id_col: str | None = None,
) -> int:
    """One step of an incremental CHANGE-FEED CONSUMER with a
    TRANSACTIONAL OFFSET — the downstream half of
    :func:`read_store_changes`. A consumer that stores its checkpoint
    separately from its state has a torn-commit window on either
    ordering (state-then-offset double-applies the delta on a crash
    between them; offset-then-state drops it). Here the state and the
    consumed-through sequence are ONE artifact: the folded state is
    published as ``state-<upto_seq>/`` by a single atomic rename, so a
    crash at any point leaves the previous state serving and a retried
    step recomputes the identical delta (the feed is committed-only and
    deterministic) — exactly-once by construction, the transactional
    consumer-offset pattern (Kafka's consumer-owned offsets, Delta's
    ``txn`` appId/version).

    ``fold(delta_df, prev_state_df_or_None) -> DataFrame`` merges the
    new generations into the downstream state (an additive aggregate
    merge for materialized rollups). The state is downstream-sized
    (aggregate rows), never corpus-sized; the delta read is the pure
    ``batch_seq`` partition prune the feed guarantees — a caught-up
    consumer costs two metadata reads and zero data IO.

    Returns the consumed-through sequence (the previous one when
    already caught up — a replayed step is a no-op). Superseded state
    dirs are retired only after the new state is in place; a crash
    between rename and retirement leaves both, and readers take the
    highest sequence.

    Determinism caveat (r15 advisory): with ``tombstones_path`` set the
    mask is evaluated at READ time, so a crash-retry that runs after
    NEW tombstones commit folds a smaller delta into the state
    published at the same offset — the single offset cannot pin the
    mask. The "retried step recomputes the identical delta" claim
    therefore holds unconditionally only WITHOUT tombstone masking;
    consumers that need erasure semantics with a deterministic replay
    contract use :func:`consume_changes_with_retractions`, whose pair
    offset ``(D, T)`` pins exactly which tombstone generations each
    published state reflects.
    """
    fs, jpath = _fs(spark, state_root)
    committed = committed_batch_seqs(spark, ledger_path)
    head = max(committed) if committed else -1
    prev = -1
    root_p = jpath(state_root)
    if fs.exists(root_p):
        for s in fs.listStatus(root_p):
            n = s.getPath().getName()
            if n.startswith("state-"):
                prev = max(prev, int(n.split("-", 1)[1]))
    if head <= prev:
        return prev  # caught up (or nothing committed yet): no-op
    prev_df = (
        spark.read.parquet(f"{state_root}/state-{prev}")
        if prev >= 0
        else None
    )
    delta = read_store_changes(
        spark,
        data_path,
        ledger_path,
        after_seq=prev,
        upto_seq=head,
        tombstones_path=tombstones_path,
        tombstone_ledger_path=tombstone_ledger_path,
        id_col=id_col,
    )
    tmp = f"{state_root}/.state-{head}.inprogress"
    # the write MATERIALIZES the fold while the previous state's files
    # still exist (the fold reads them lazily); retirement comes after
    fold(delta, prev_df).write.mode("overwrite").parquet(tmp)
    if not fs.rename(jpath(tmp), jpath(f"{state_root}/state-{head}")):
        fs.delete(jpath(tmp), True)
        raise IOError(
            f"consumer state publish failed: could not rename {tmp} "
            f"into place at {state_root}/state-{head}"
        )
    for s in fs.listStatus(root_p):
        n = s.getPath().getName()
        if n.startswith("state-") and int(n.split("-", 1)[1]) < head:
            fs.delete(s.getPath(), True)
        elif n.startswith(".state-") and n.endswith(".inprogress"):
            # orphaned temp from a crashed fold write: the retirement
            # pass previously only matched 'state-' names, so the
            # leaked dir lived forever unless a later step landed on
            # the identical head and overwrote it (r15 advisory). Any
            # temp at or below the just-published head is stale by
            # construction — the head's own temp was renamed away.
            seq = int(n[len(".state-") : -len(".inprogress")])
            if seq <= head:
                fs.delete(s.getPath(), True)
    return head


def read_consumer_state(spark: SparkSession, state_root: str) -> DataFrame:
    """The latest published consumer state — highest ``state-<seq>``
    (single-offset consumers) or highest ``state-<D>_<T>`` pair
    (retraction-aware consumers), compared componentwise."""
    fs, jpath = _fs(spark, state_root)
    names = [
        s.getPath().getName()
        for s in (fs.listStatus(jpath(state_root)) or [])
        if s.getPath().getName().startswith("state-")
    ]
    if not names:
        raise ValueError(f"no consumer state published under {state_root}")
    latest = max(
        names,
        key=lambda n: tuple(int(x) for x in n.split("-", 1)[1].split("_")),
    )
    return spark.read.parquet(f"{state_root}/{latest}")


def consume_changes_with_retractions(
    spark: SparkSession,
    data_path: str,
    ledger_path: str,
    tombstones_path: str,
    tombstone_ledger_path: str,
    id_col: str,
    state_root: str,
    fold,
    unfold,
) -> tuple[int, int]:
    """ERASURE PROPAGATION to a downstream materialization: the
    :func:`consume_changes` pattern extended with a PAIR offset
    ``(D, T)`` — the state published as ``state-<D>_<T>/`` is, by
    invariant, the fold of every row in data generations ``<= D``
    whose id is NOT dead in tombstone generations ``<= T``. One step
    advances both offsets to the current heads ``(D', T')``:

    - ``fold(add_delta, state)`` — the data feed ``(D, D']`` with the
      committed tombstone mask applied (a doc both appended and
      tombstoned inside the window never enters the state at all);
    - ``unfold(retr_rows, state)`` — the RETRACTION: ids whose
      tombstones committed in ``(T, T']``, joined against the
      generations the state has already folded (``<= D``, via
      :func:`read_store_asof`, so compaction semantics carry: history
      collapsed past the consumer's offset raises instead of silently
      retracting the wrong rows). This is the piece plain masking
      cannot give a downstream system — a takedown arriving AFTER a
      doc was consumed must UNDO its contribution, or the erasure
      stops at the store and lives on in every derived table.

    The two deltas touch disjoint generation ranges (adds are > D,
    retractions <= D), so fold/unfold compose in either order; the
    composed new state satisfies the invariant at ``(D', T')`` by the
    set identity (gens<=D \\ dead<=T) + (gens(D,D'] \\ dead<=T')
    - (dead(T,T'] ∩ gens<=D) = gens<=D' \\ dead<=T'. Atomic single-dir
    publish, exactly-once under replay, crash leaves the previous
    state serving — all inherited from the transactional-offset
    pattern. Returns the new ``(D, T)``.

    Scale shape: the add path is the feed's pure partition prune; the
    retraction path joins the NEW dead ids (broadcast — takedown waves
    are small) against only the already-consumed generations, one
    bounded pass per wave rather than a full downstream recompute.
    """
    fs, jpath = _fs(spark, state_root)
    d_head_committed = committed_batch_seqs(spark, ledger_path)
    d_head = max(d_head_committed) if d_head_committed else -1
    t_committed = committed_batch_seqs(spark, tombstone_ledger_path)
    t_head = max(t_committed) if t_committed else -1
    prev_d, prev_t = -1, -1
    root_p = jpath(state_root)
    if fs.exists(root_p):
        for s in fs.listStatus(root_p):
            n = s.getPath().getName()
            if n.startswith("state-"):
                d, t = (int(x) for x in n.split("-", 1)[1].split("_"))
                if (d, t) > (prev_d, prev_t):
                    prev_d, prev_t = d, t
    if (d_head, t_head) <= (prev_d, prev_t):
        return (prev_d, prev_t)  # caught up: replayed step is a no-op
    state = (
        spark.read.parquet(f"{state_root}/state-{prev_d}_{prev_t}")
        if prev_d >= 0 or prev_t >= 0
        else None
    )
    if d_head > prev_d:
        add = read_store_changes(
            spark,
            data_path,
            ledger_path,
            after_seq=prev_d,
            upto_seq=d_head,
            tombstones_path=tombstones_path,
            tombstone_ledger_path=tombstone_ledger_path,
            id_col=id_col,
        )
        state = fold(add, state)
    if t_head > prev_t and prev_d >= 0:
        # ids NEWLY dead in (T, T']: deduped within the window AND
        # against the generations already retracted (tombstone batches
        # are set unions — a re-tombstoned id must not subtract twice)
        new_dead = (
            read_store_changes(
                spark,
                tombstones_path,
                tombstone_ledger_path,
                after_seq=prev_t,
                upto_seq=t_head,
            )
            .select(id_col)
            .distinct()
        )
        if prev_t >= 0:
            old_dead = read_store_asof(
                spark, tombstones_path, prev_t
            ).select(id_col)
            new_dead = new_dead.join(old_dead, id_col, "left_anti")
        consumed = read_store_asof(spark, data_path, prev_d)
        retr = consumed.join(F.broadcast(new_dead), id_col)
        state = unfold(retr, state)
    if state is None:
        # tombstones committed before any data was ever consumed:
        # nothing to retract from, nothing to publish — the T offset
        # catches up naturally once the first data fold happens
        return (prev_d, prev_t)
    tmp = f"{state_root}/.state-{d_head}_{t_head}.inprogress"
    state.write.mode("overwrite").parquet(tmp)
    final = jpath(f"{state_root}/state-{d_head}_{t_head}")
    if not fs.rename(jpath(tmp), final):
        fs.delete(jpath(tmp), True)
        raise IOError(
            f"consumer state publish failed: could not rename {tmp} "
            f"into place at {final}"
        )
    for s in fs.listStatus(root_p):
        n = s.getPath().getName()
        if n.startswith(".state-") and n.endswith(".inprogress"):
            # orphaned temp from a crashed fold write (see
            # consume_changes's retirement pass)
            d, t = (
                int(x)
                for x in n[len(".state-") : -len(".inprogress")].split("_")
            )
            if (d, t) <= (d_head, t_head):
                fs.delete(s.getPath(), True)
            continue
        if not n.startswith("state-"):
            continue
        d, t = (int(x) for x in n.split("-", 1)[1].split("_"))
        if (d, t) < (d_head, t_head):
            fs.delete(s.getPath(), True)
    return (d_head, t_head)


def vacuum_store(
    spark: SparkSession, data_path: str, ledger_path: str
) -> int:
    """Remove orphan partition leaves whose ``batch_seq`` never
    committed — the global form of the append's per-batch self-heal
    (which only cleans the batch being retried). A crashed writer that
    is never retried leaves its files stranded forever otherwise; at
    100 TB that is paid storage and scan-planning noise. Committed
    generations and the compacted generation are never candidates.

    Returns the number of leaves deleted. Safe to run concurrently with
    READERS (their snapshot listed files before the delete) but, like
    compaction, it is a single-writer maintenance op: an appender
    mid-write looks exactly like a crashed one.
    """
    fs, jpath = _fs(spark, data_path)
    committed = {COMPACTED_BATCH_SEQ} | committed_batch_seqs(
        spark, ledger_path
    )
    # both store layouts: keyed two-level trees ({key}=K/batch_seq=B —
    # shards, IVF cells) and the flat tombstone layout (batch_seq=B at
    # the root); each store matches exactly one of the globs
    leaves = list(
        fs.globStatus(jpath(f"{data_path}/*/batch_seq=*")) or []
    ) + list(fs.globStatus(jpath(f"{data_path}/batch_seq=*")) or [])
    dropped = 0
    for s in leaves:
        seq = int(s.getPath().getName().split("=", 1)[1])
        if seq not in committed:
            fs.delete(s.getPath(), True)
            dropped += 1
    if dropped:
        spark.catalog.refreshByPath(data_path)
        # if the orphans were the ONLY parquet files (every committed
        # batch was empty), the tree is now schema-less — restore the
        # canonical ABSENT state instead of leaving a root that fails
        # every later raw read (same invariant as the appends' r17
        # zero-row cleanup; found by the interleaving property test)
        remaining = [
            st
            for pat in (
                f"{data_path}/*/batch_seq=*/*",
                f"{data_path}/batch_seq=*/*",
            )
            for st in (fs.globStatus(jpath(pat)) or [])
            if st.getPath().getName().endswith(".parquet")
        ]
        if not remaining:
            fs.delete(jpath(data_path), True)
            spark.catalog.refreshByPath(data_path)
    return dropped


def compact_flat_tree(
    spark: SparkSession,
    live_path: str,
    sort_cols: list[str],
    target_bytes: int = 128 << 20,
    tombstones_path: str | None = None,
    tombstone_ledger_path: str | None = None,
    id_col: str | None = None,
) -> int:
    """Compact an UNPARTITIONED parquet tree (the near-dup index's
    rows/bands/roster dirs, which grow one file set per ingest) down to
    ``ceil(total_bytes / target_bytes)`` sorted files, via the same
    crash-safe checked swap as :func:`compact_store_tree`. Returns the
    file count after compaction (0 = tree absent/empty, nothing done).
    With ``tombstones_path`` the committed deletion mask is applied
    PHYSICALLY in the rewrite (rows dropped before the write); unlike
    :func:`compact_store_tree` the tombstone store is left in place —
    the caller owns its removal, because one mask may cover several
    trees of the same index.

    ``target_bytes`` defaults to the classic 128 MiB split size;
    production passes its ``spark.sql.files.maxPartitionBytes`` so one
    compacted file feeds one scan task.

    Unlike :func:`compact_store_tree`, flat trees carry no
    ``batch_seq`` partition column, so the appender-race reconciliation
    is NOT available here: an ingest racing this rewrite can be
    silently dropped by the swap. Flat-tree compaction is strictly
    single-writer — the near-dup index's ``compact()`` documents the
    same maintenance-window requirement.
    """
    import math

    fs, jpath = _fs(spark, live_path)
    live = jpath(live_path)
    old = jpath(live_path + ".old")
    tmp = jpath(live_path + ".compact")
    _swap_recovery(fs, live, old, tmp)

    if not fs.exists(live):
        return 0
    total = 0
    files = []
    it = fs.listFiles(live, True)
    while it.hasNext():
        f = it.next()
        if f.getPath().getName().endswith(".parquet"):
            total += f.getLen()
            files.append(f)
    if total == 0:
        return 0
    df = spark.read.parquet(live_path)
    if tombstones_path is not None and store_exists(spark, tombstones_path):
        # physical tombstone apply during the rewrite; the CALLER owns
        # deleting the tombstone store afterwards — several trees of one
        # index may share a single mask (the near-dup index's three)
        if tombstone_ledger_path is None or id_col is None:
            raise ValueError(
                "tombstones_path requires tombstone_ledger_path and id_col"
            )
        df = _apply_tombstone_mask(
            spark, df, tombstones_path, tombstone_ledger_path, id_col
        )
        # ONE pass (r16): the rewrite itself is the only Spark job — no
        # pre-write count() to size the output or detect full erasure.
        # Sizing is the REBALANCE hint with the advisory partition size
        # pinned to target_bytes (AQE splits/coalesces to the SURVIVING
        # bytes at runtime — the scale-adaptive form of the old
        # row-proportional estimate, guide §6), and the surviving row
        # count is read back from the written files' parquet footers,
        # where full erasure shows up as zero rows written.
        # set/restore via the refcounted scope: two masked compactions
        # run CONCURRENTLY (NearDupIndex.compact), and a bare
        # get/set/restore pair races — thread B can capture A's
        # temporary value as "prior" and leak target_bytes into the
        # session conf forever (r17, from the r16 advisory)
        conf_key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        with session_conf_scope(spark, conf_key, target_bytes):
            (
                df.hint("rebalance")
                .sortWithinPartitions(*sort_cols)
                .write.mode("overwrite")
                .parquet(live_path + ".compact")
            )
        written = [
            s
            for s in (fs.globStatus(jpath(f"{live_path}.compact/*")) or [])
            if s.getPath().getName().endswith(".parquet")
        ]
        if _footer_row_counts(spark, fs, written) == 0:
            # fully erased: no data tree is the correct physical state
            fs.delete(live, True)
            fs.delete(tmp, True)
            invalidate_swapped_path(spark, live_path)
            return 0
        _checked_swap(fs, live, old, tmp)
        invalidate_swapped_path(spark, live_path)
        return len(written)
    n_files = max(1, math.ceil(total / target_bytes))
    (
        df.repartition(n_files)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(live_path + ".compact")
    )
    _checked_swap(fs, live, old, tmp)
    invalidate_swapped_path(spark, live_path)
    return n_files


def commit_batch(
    spark: SparkSession,
    data_path: str,
    ledger_path: str,
    batch_seq: int,
    leaf_prefix: str,
    write,
    stats,
) -> None:
    """The ledger-append protocol, defined once for every maintained
    store: the IVF/IVF-PQ stores (:func:`append_store_batch`), the
    tombstone masks (:func:`append_tombstones`) and the ordered
    token-shard store (``analytics.mixing.append_token_shard_batch``).
    A batch's rows land under its own ``{leaf_prefix}batch_seq=B``
    leaves of ``data_path`` (``leaf_prefix`` is ``"cell=*/"``,
    ``"shard_id=*/"`` or ``""``), and the ledger row is the commit
    marker, written LAST. The steps:

    1. ``batch_seq < 0`` is rejected: ``-1`` is the compacted
       generation, and an append into it would make its leaves
       self-heal candidates and corrupt vacuum/as-of classification.
    2. The ledger is read once, driver-side. A committed ``batch_seq``
       is a replay and a no-op.
    3. ``write(committed_rows)`` returns the batch's configured
       ``DataFrameWriter``. Building it is lazy (no job, no file), so a
       caller whose batches chain — the token-shard offsets — derives
       its start offset from ``committed_rows`` and rejects an
       out-of-order batch here, before anything on disk changes.
    4. Self-heal: this batch's own leaves, left by an attempt that
       crashed before its ledger commit, are deleted. Other batches'
       files are never candidates.
    5. The writer saves into ``data_path``, then the path is refreshed
       (the self-heal delete bypassed Spark's write path).
    6. ``stats(fs, files)`` turns this batch's written parquet files,
       listed by one glob, into the ledger counts. The counts come from
       the WRITTEN files, driver-side from their footers where
       possible (r16) — the same source of truth a read-back job would
       scan, without a Spark job per commit, and O(this batch's files),
       not O(store).
    7. Empty batches are handled after the write, from the tree itself:
       a zero-row dynamic-partition write into an ABSENT store leaves a
       schema-less tree (root + ``_SUCCESS``, no leaves) that poisons
       every later read, so when this batch wrote no parquet file and
       the whole tree holds none, the tree is removed and the store
       stays canonically absent. Deciding from the post-write tree, not
       a pre-write flag, lets a crash between the write and this
       cleanup heal on the retry. It replaces (r17) a pre-write
       ``isEmpty()`` probe, which computed the batch derivation once
       just for the write to recompute it.
    8. The ledger row is appended.

    Racing appenders on the SAME ``batch_seq`` (a retried job whose
    predecessor is still alive, two schedulers double-firing an epoch):
    FIRST LEDGER COMMIT WINS. A later attempt of a committed sequence
    no-ops at the guard; an attempt interleaving with an uncommitted one
    self-heals the other's partial leaves and lands its own rows, and
    whichever reaches the ledger first becomes the committed content —
    pinned by ``tests/test_properties.py``.

    SINGLE WRITER PER STORE: step 7 deletes the whole ``data_path``
    after a glob finds no parquet file in it, so a concurrent appender
    of ANOTHER sequence into the same still-empty store can lose its
    in-flight output to that delete. Run one appender per store at a
    time; appends to different stores are independent.

    ``append_ledger_row``, ``store_exists`` and ``_fs`` are looked up
    through this module's globals, so crash injection and tracing can
    patch them here. All filesystem work goes through the Hadoop
    FileSystem API, so the protocol carries to HDFS/S3A/GCS as written.
    """
    if batch_seq < 0:
        raise ValueError(
            f"batch_seq must be >= 0 (got {batch_seq}): negative "
            "sequences are reserved for the compacted generation"
        )
    committed = _ledger_rows(spark, ledger_path) or []
    if any(r.batch_seq == batch_seq for r in committed):
        return  # replay of a committed batch: no-op
    writer = write(committed)
    fs, jpath = _fs(spark, data_path)

    def parquet_files(pattern):
        found = fs.globStatus(jpath(f"{data_path}/{leaf_prefix}{pattern}"))
        return [
            s for s in found or [] if s.getPath().getName().endswith(".parquet")
        ]

    leftovers = fs.globStatus(
        jpath(f"{data_path}/{leaf_prefix}batch_seq={batch_seq}")
    )
    for s in leftovers or []:
        fs.delete(s.getPath(), True)
    writer.parquet(data_path)
    spark.catalog.refreshByPath(data_path)
    files = parquet_files(f"batch_seq={batch_seq}/*")
    counts = stats(fs, files)
    if (
        not files
        and not parquet_files("batch_seq=*/*")
        and store_exists(spark, data_path)
    ):
        fs.delete(jpath(data_path), True)
        spark.catalog.refreshByPath(data_path)
    append_ledger_row(spark, ledger_path, batch_seq, counts)


def append_store_batch(
    spark: SparkSession,
    data_path: str,
    ledger_path: str,
    rows: DataFrame,
    batch_seq: int,
    key_col: str,
    sort_col: str,
    count_col: str = "n_rows",
) -> None:
    """Append ``rows`` (already derived; no ``batch_seq`` column) under
    ``data_path``'s ``{key_col}=K/batch_seq={batch_seq}`` leaves, with
    ledger counts ``{count_col: rows written}``. For every maintained
    store whose batches are independent (IVF cells, IVF-PQ codes — any
    store whose row derivation is a pure function of a frozen
    artifact). The protocol — replay guard, self-heal, empty batches,
    first-ledger-commit-wins and the single-writer-per-store
    requirement — is :func:`commit_batch`'s.
    """
    commit_batch(
        spark,
        data_path,
        ledger_path,
        batch_seq,
        f"{key_col}=*/",
        lambda committed: (
            rows.withColumn("batch_seq", F.lit(batch_seq))
            .repartition(key_col)
            .sortWithinPartitions(key_col, sort_col)
            .write.mode("append")
            .partitionBy(key_col, "batch_seq")
        ),
        lambda fs, files: {count_col: _footer_row_counts(spark, fs, files)},
    )


def tombstone_paths(root: str) -> tuple[str, str]:
    """(tombstones_dir, tombstone_ledger_dir) under a store root — the
    deletion mask sits BESIDE the data tree and the append ledger, so
    plain reads of either never see it."""
    import os

    return (
        os.path.join(root, "tombstones"),
        os.path.join(root, "tombstone_ledger"),
    )


def append_tombstones(
    spark: SparkSession,
    tombstones_path: str,
    tombstone_ledger_path: str,
    ids: DataFrame,
    batch_seq: int,
    id_col: str,
) -> None:
    """Record a deletion batch (takedown / right-to-erasure) for a
    maintained store under :func:`commit_batch`'s ledger protocol (see
    there for replay, self-heal, empty batches and the
    single-writer-per-store requirement): the distinct ids land under
    the batch's own ``batch_seq=B`` leaf, with ledger counts
    ``{"n_ids": n}``. Tombstone batches are unordered and independent —
    deletion is a set union.

    Readers apply the mask logically (:func:`read_committed` with
    ``tombstones_path``: a broadcast anti-join, the corpus is never
    reshuffled); a full-collapse :func:`compact_store_tree` applies it
    physically and drops the tombstone files — Delta's
    DELETE-then-VACUUM lifecycle on the ledger protocol.
    """
    commit_batch(
        spark,
        tombstones_path,
        tombstone_ledger_path,
        batch_seq,
        "",
        lambda committed: (
            ids.select(id_col)
            .distinct()
            .withColumn("batch_seq", F.lit(batch_seq))
            .coalesce(1)  # takedown sets are small by nature
            .write.mode("append")
            .partitionBy("batch_seq")
        ),
        lambda fs, files: {"n_ids": _footer_row_counts(spark, fs, files)},
    )


def compact_bucketed_table(
    spark: SparkSession,
    table: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
    tombstones_path: str | None = None,
    tombstone_ledger_path: str | None = None,
    id_col: str | None = None,
) -> None:
    """Small-file compaction for a bucketed catalog table (the near-dup
    index's band table accumulates one file set per bucket per ingest):
    rewrite through a staging table with the SAME bucket spec, so the
    compacted table still joins exchange-free on ``bucket_col``.

    The staging hop exists because Spark refuses to overwrite a table
    it is reading from. The staging table is then swapped in by a
    catalog RENAME (r16; it was previously COPIED back with a second
    bucketed write — the data was written twice for one rewrite):
    ``ALTER TABLE .. RENAME`` moves the managed table's directory and
    keeps its bucket spec, so the compacted table still joins
    exchange-free, for half the write cost. The drop→rename pair is
    the one non-atomic instant (same exposure the swap-based tree
    compactions accept at their two renames); a crash between them
    leaves the full data intact under the staging name — the honest
    local stand-in for a production deployment's one-metadata-swap
    (Delta/Iceberg ``REPLACE TABLE`` / ``rewrite_data_files``, the
    documented seam for every catalog-table mutation in this repo).
    """
    from .sink import write_bucketed_table

    staging = f"{table}__compact"
    spark.sql(f"DROP TABLE IF EXISTS {staging}")
    src = spark.table(table)
    if tombstones_path is not None and store_exists(spark, tombstones_path):
        # physical tombstone apply inside the staging rewrite; the
        # caller owns deleting the tombstone store (shared mask)
        src = _apply_tombstone_mask(
            spark, src, tombstones_path, tombstone_ledger_path, id_col
        )
    write_bucketed_table(
        src, staging, bucket_col, n_buckets, sort_col=sort_col
    )
    spark.sql(f"DROP TABLE {table}")
    spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
