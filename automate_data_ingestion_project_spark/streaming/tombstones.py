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

from ..io.maintenance import (
    _fs,
    _read_small_text,
    _write_small_text,
    append_tombstones,
    committed_batch_seqs,
)
from .events import drain_available_now, stream_events

_EPOCH_SEQ_DIR = "_stream_epoch_seqs"


def _stream_token(checkpoint_dir: str) -> str:
    """Stable identity for one stream = a hash of its checkpoint
    location. Epoch ids are per-checkpoint counters, so the marker
    namespace must be too — two independent streams draining into one
    shared tombstone store both start at epoch 0, and un-namespaced
    markers would alias them onto one sequence (the second stream's
    epoch would no-op and drop its ids)."""
    return hashlib.sha256(checkpoint_dir.encode("utf-8")).hexdigest()[:16]


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
        txt = _read_small_text(spark, str(s.getPath()))
        if txt:
            out.add(int(txt))
    return out


def _allocate_epoch_seq(
    spark: SparkSession,
    tombstone_ledger_path: str,
    checkpoint_dir: str,
    epoch_id: int,
) -> int:
    """The batch sequence for one stream epoch: the persisted marker if
    this epoch ran before (retry → same sequence → replay guard sees
    the same batch), else one past everything committed or reserved,
    persisted BEFORE the caller appends (see module docstring)."""
    marker = (
        f"{tombstone_ledger_path}/{_EPOCH_SEQ_DIR}/"
        f"{_stream_token(checkpoint_dir)}-epoch-{epoch_id}"
    )
    txt = _read_small_text(spark, marker)
    if txt:
        return int(txt)
    taken = committed_batch_seqs(spark, tombstone_ledger_path)
    taken |= _reserved_seqs(spark, tombstone_ledger_path)
    seq = (max(taken) + 1) if taken else 0
    _write_small_text(spark, marker, str(seq))
    return seq


def stream_tombstone_ingest(
    spark: SparkSession,
    source_dir: str,
    tombstones_path: str,
    tombstone_ledger_path: str,
    checkpoint_dir: str,
    id_col: str,
    id_schema: str,
) -> None:
    """Drain all pending takedown-id files (Trigger.AvailableNow) into
    the tombstone store, one epoch per file set, each epoch's batch
    sequence allocated at drain time and persisted per-epoch (see
    module docstring for why a fixed base silently dropped erasures).
    ``id_schema`` is the stream schema (e.g. ``"doc_id long"``)."""

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        seq = _allocate_epoch_seq(
            spark, tombstone_ledger_path, checkpoint_dir, int(epoch_id)
        )
        append_tombstones(
            spark,
            tombstones_path,
            tombstone_ledger_path,
            batch_df.select(id_col),
            seq,
            id_col,
        )

    drain_available_now(
        stream_events(
            spark, source_dir, schema=id_schema, max_files_per_trigger=1
        ),
        ingest,
        checkpoint_dir=checkpoint_dir,
    )
