"""Streaming takedown ingestion — deletion requests drained into a
maintained store's tombstone ledger by Structured Streaming.

Production takedowns (DMCA, right-to-erasure, opt-out feeds) arrive
continuously, not as batch jobs: a feed of document/vector ids lands as
files, and each micro-batch's ids are appended to the store's tombstone
set (:func:`..io.maintenance.append_tombstones`) through the same
``foreachBatch`` seam as every other maintained-store drain here
(near-dup ingestion, shard export, IVF ingest). Readers see each
takedown as soon as its epoch's ledger row commits (the mask is re-read
per query); the next full-collapse compaction completes the erasure
physically.

SEQUENCE ALLOCATION — why it is per-epoch, at drain time. A tombstone
store is shared: besides the stream, direct
:func:`..io.maintenance.append_tombstones` callers land batches too
(the near-dup index's auto-sequenced ``delete_docs``, an operator's
one-off takedown), each taking ``max(committed) + 1``. Any FIXED
mapping from epoch id to sequence therefore has a silent-drop window:
a fixed base established at the first drain puts epoch ``k+1`` at
``base+k+1`` forever, and a direct auto-sequenced append interleaving
between drains takes exactly that slot — the stream's next epoch then
no-ops at the replay guard and its takedown ids are dropped on the
floor (an erasure request lost). So each epoch's sequence is allocated
WHEN THE EPOCH FIRST RUNS, as one past everything committed or
reserved at that moment, and persisted as a marker file beside the
ledger (``_stream_epoch_seqs/<stream>-epoch-<id>``, keyed by a hash of
the checkpoint location so two independent streams sharing one store
never alias each other's epoch 0). The marker is written BEFORE the
epoch's append, so a retried epoch — Structured Streaming replays the
failed epoch id — reads its recorded sequence back and the replay
guard sees the SAME batch: exactly-once is preserved, not traded away.
Allocation also reserves over the other markers (``committed ∪
reserved``), so an epoch that crashed before committing keeps its slot
against later epochs.

Residual exposure, stated honestly: a direct appender auto-sequencing
in the instant between an epoch's marker write and its ledger commit
can still take the same sequence (both computed ``max+1`` from the
same committed set) — the generic "first ledger commit wins" race that
:func:`..io.maintenance.commit_batch` documents for ALL
same-sequence writers. The window is the single synchronous append
inside one epoch, not the unbounded between-drains gap the fixed base
had; callers that run direct takedowns concurrently with an ACTIVE
drain own that serialization, exactly like every other single-writer
maintenance op here.

Stores written by the pre-marker scheme (a ``_stream_epoch_base`` file
mapping epoch ``k`` to ``base+k``) stay replay-safe across the
upgrade: an epoch with no marker whose legacy slot is already
committed AND whose id set matches that slot's committed content is
recognized as a replay of its old commit and reuses it. The content
check is what bounds legacy recognition (r16, from the r15 advisory):
slot occupancy alone misclassifies a genuinely NEW epoch — after
legacy epochs ``0..j``, a direct auto-sequenced append takes
``max(committed)+1 = base+j+1``, exactly epoch ``j+1``'s legacy slot,
and the un-verified scheme would no-op that epoch and drop its
takedown ids on the floor. Verifying the slot's actual ids (an
anti-join both ways over two takedown-sized sets, paid only on the
marker-less-epoch-on-upgraded-store path) makes the recognition
exact: a true replay matches by construction, and a collision with a
foreign batch that happens to carry the SAME ids is indistinguishable
from a replay in outcome — the ids are already committed either way.

Exactly-once shape inherited from the tombstone protocol: a replayed
committed epoch is a ledger no-op, a mid-write crash self-heals on the
epoch's retry, an empty epoch commits ``(seq, 0)``. Tombstone batches
are unordered (deletion is a set union), so the drain needs no
ordering guarantee — the IVF-style independence, not the token-shard
chain.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession

from ..io.maintenance import _fs, append_tombstones, committed_batch_seqs

_EPOCH_SEQ_DIR = "_stream_epoch_seqs"
_LEGACY_BASE_NAME = "_stream_epoch_base"


def _read_small_text(spark: SparkSession, fs, path) -> str | None:
    """Whole small-file read through the Hadoop FS API (None if absent)."""
    if not fs.exists(path):
        return None
    util = spark._jvm.org.apache.commons.io.IOUtils
    stream = fs.open(path)
    try:
        return util.toString(stream, "UTF-8")
    finally:
        stream.close()


def _stream_token(checkpoint_dir: str) -> str:
    """Stable identity for one stream = a hash of its checkpoint
    location. Epoch ids are per-checkpoint counters, so the marker
    namespace must be too — two independent streams draining into one
    shared tombstone store both start at epoch 0, and un-namespaced
    markers would alias them onto one sequence (the second stream's
    epoch would no-op and drop its ids)."""
    return hashlib.sha256(checkpoint_dir.encode("utf-8")).hexdigest()[:16]


def _marker_path(jpath, ledger_path: str, token: str, epoch_id: int):
    return jpath(
        f"{ledger_path}/{_EPOCH_SEQ_DIR}/{token}-epoch-{epoch_id}"
    )


def _reserved_seqs(spark: SparkSession, ledger_path: str) -> set[int]:
    """Every sequence any stream epoch has RESERVED (marker written),
    committed or not — a crashed epoch keeps its slot against later
    allocations, so its retry still maps to the same batch."""
    fs, jpath = _fs(spark, ledger_path)
    d = jpath(f"{ledger_path}/{_EPOCH_SEQ_DIR}")
    if not fs.exists(d):
        return set()
    out: set[int] = set()
    for s in fs.listStatus(d):
        txt = _read_small_text(spark, fs, s.getPath())
        if txt and txt.strip():
            out.add(int(txt.strip()))
    return out


def _legacy_slot_content_matches(
    spark: SparkSession,
    tombstones_path: str,
    tombstone_ledger_path: str,
    slot: int,
    batch_ids: DataFrame,
    id_col: str,
) -> bool:
    """True iff the committed batch at ``slot`` holds exactly this
    epoch's id set — the verification that bounds legacy-replay
    recognition (module docstring). Both sides are takedown-sized; the
    check is two anti-join emptiness probes on the rare marker-less
    upgrade path, not a hot-loop cost."""
    from ..io.maintenance import _ledger_rows

    fs, jpath = _fs(spark, tombstones_path)
    leaf = jpath(f"{tombstones_path}/batch_seq={slot}")
    ids = batch_ids.select(id_col).distinct()
    if not fs.exists(leaf):
        rows = _ledger_rows(spark, tombstone_ledger_path) or []
        n_ids = next(
            (int(r.n_ids) for r in rows if r.batch_seq == slot), 0
        )
        if n_ids > 0:
            # committed NON-EMPTY slot whose data leaf is physically
            # gone: a full-collapse compaction erased the tombstone
            # DATA tree (the ledger survives — that is the erasure
            # lifecycle). The content is unverifiable by construction,
            # but the ledger proves this epoch's legacy slot committed
            # with real ids; falling through to a new sequence here
            # would RE-commit the same takedown ids under a fresh slot
            # and consumers would see the delta twice (r17, from the
            # r16 advisory). Treat it as the replay it is.
            return True
        # empty legacy commit ((seq, 0) ledger row, no data leaf):
        # matches only an empty epoch
        return ids.isEmpty()
    committed_ids = spark.read.parquet(str(leaf)).select(id_col)
    return (
        committed_ids.join(ids, id_col, "left_anti").isEmpty()
        and ids.join(committed_ids, id_col, "left_anti").isEmpty()
    )


def _allocate_epoch_seq(
    spark: SparkSession,
    tombstones_path: str,
    tombstone_ledger_path: str,
    checkpoint_dir: str,
    epoch_id: int,
    batch_ids: DataFrame,
    id_col: str,
) -> int:
    """The batch sequence for one stream epoch: the persisted marker if
    this epoch ran before (retry → same sequence → replay guard sees
    the same batch), else one past everything committed or reserved,
    persisted BEFORE the caller appends (see module docstring)."""
    fs, jpath = _fs(spark, tombstone_ledger_path)
    token = _stream_token(checkpoint_dir)
    marker = _marker_path(jpath, tombstone_ledger_path, token, epoch_id)
    txt = _read_small_text(spark, fs, marker)
    if txt is not None and txt.strip():
        return int(txt.strip())
    committed = committed_batch_seqs(spark, tombstone_ledger_path)
    # pre-marker stores: epoch k committed at base+k; this epoch is a
    # REPLAY of its legacy commit only if that slot is committed AND
    # holds this epoch's exact id set (see module docstring — slot
    # occupancy alone silently drops a new epoch whose slot a direct
    # append claimed)
    legacy = _read_small_text(
        spark, fs, jpath(f"{tombstone_ledger_path}/{_LEGACY_BASE_NAME}")
    )
    if (
        legacy is not None
        and (int(legacy.strip()) + epoch_id) in committed
        and _legacy_slot_content_matches(
            spark,
            tombstones_path,
            tombstone_ledger_path,
            int(legacy.strip()) + epoch_id,
            batch_ids,
            id_col,
        )
    ):
        seq = int(legacy.strip()) + epoch_id
    else:
        taken = committed | _reserved_seqs(spark, tombstone_ledger_path)
        seq = (max(taken) + 1) if taken else 0
    out = fs.create(marker, True)
    try:
        out.write(str(seq).encode("utf-8"))
    finally:
        out.close()
    return seq


def stream_tombstone_ingest(
    spark: SparkSession,
    source_dir: str,
    tombstones_path: str,
    tombstone_ledger_path: str,
    checkpoint_dir: str,
    id_col: str,
    id_schema: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain all pending takedown-id files (Trigger.AvailableNow) into
    the tombstone store, one epoch per file set, each epoch's batch
    sequence allocated at drain time and persisted per-epoch (see
    module docstring for why a fixed base silently dropped erasures).
    ``id_schema`` is the stream schema (e.g. ``"doc_id long"``)."""
    stream = (
        spark.readStream.schema(id_schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        seq = _allocate_epoch_seq(
            spark,
            tombstones_path,
            tombstone_ledger_path,
            checkpoint_dir,
            int(epoch_id),
            batch_df.select(id_col),
            id_col,
        )
        append_tombstones(
            spark,
            tombstones_path,
            tombstone_ledger_path,
            batch_df.select(id_col),
            seq,
            id_col,
        )

    q = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
