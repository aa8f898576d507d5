"""Maintained near-duplicate corpus index — the production ingestion
loop's state.

A 100 TB ingestion never re-dedupes the corpus per batch: it maintains
an INDEX of the corpus's LSH band keys and shingle rows as tables
(plus a per-doc content-hash roster, :func:`content_hashes` — the
resolution-complete doc list the id/content collision guard uses), and
each incoming batch (a) probes the index for near-dup candidates,
(b) verifies candidates with exact Jaccard, and (c) APPENDS the
accepted (novel) documents' bands/shingles so the next batch sees them.
This module is that loop:

- :meth:`NearDupIndex.build` — bootstrap the index from a corpus (one
  shingling + signature pass). Default layout is parquet; with
  ``bucket_bands=n`` the band table is written BUCKETED by
  ``band_key`` (a catalog table via ``io.sink.write_bucketed_table``
  whose files live in the index's ``bands`` directory),
  so when a batch is too large to broadcast the probe join reads the
  corpus bands exchange-free — only the batch side shuffles, and the
  100 TB index is never repartitioned (pinned by ``tests/test_plans.py
  ::test_bucketed_neardup_probe_never_reshuffles_index``);
- :meth:`NearDupIndex.filter_batch` — batch-vs-corpus decision table.
  By default the batch's band keys broadcast and the corpus band table
  is probed in place; ``broadcast_batch=False`` is the big-batch path
  that relies on the bucketed layout above. Verification touches
  candidates only. ``2·|∩| ≥ |∪|`` is the integer-exact form of
  Jaccard ≥ 0.5;
- :meth:`NearDupIndex.ingest_batch` — filter, then append the accepted
  docs' bands/shingles (idempotently: ids already indexed are skipped,
  so a replayed batch cannot double-append).

A batch is read once and decided on the driver: its ids, candidate
pairs, roster hits and Jaccard terms are batch-bounded and collected,
and every plan that reads the index runs before the first append, so
no checkpoint or pinned listing is needed to keep a decision from
seeing its own append. Parquet ``append`` is the local-FS stand-in for
a transactional table commit; the idempotency guard is the roster
(``content_hashes``) semi-joined to the batch ids, collected and
subtracted on the driver — a real deployment replaces it with PK
enforcement / MERGE in the table format.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from ..io.sink import write_bucketed_table
from ..operators.caching import tracked_persist, untrack
from ..operators.concurrency import run_concurrently
from .dedup import (
    jaccard_terms,
    lsh_band_keys,
    minhash_signatures_rows,
    shingle_rows,
)

BANDS_SUBDIR = "bands"
ROWS_SUBDIR = "shingles"
HASHES_SUBDIR = "content_hashes"
TOMBSTONES_SUBDIR = "tombstones"
TOMBSTONE_LEDGER_SUBDIR = "tombstone_ledger"


def content_hashes(docs: DataFrame) -> DataFrame:
    """Per-doc exact content identity: ``(doc_id, content_md5)``.

    The shingle/band tables are RESOLUTION-LIMITED: a text shorter than
    the shingle width (3 words) produces zero shingle rows and zero
    bands, so it is invisible to any shingle-set comparison. The hash
    table is the index's resolution-complete doc roster — one tiny row
    per indexed document regardless of length — and is what the
    id/content collision guard compares (md5 differs ⟺ content
    differs, at any length)."""
    return docs.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("content_md5")
    )


def _local_relation(
    spark: SparkSession, schema: StructType, *columns: list
) -> DataFrame:
    """Driver-side columns as ONE Arrow-backed ``LocalRelation`` of
    ``schema`` (nullability included): the stages reading it scan JVM
    rows, never a Python worker."""
    return spark.createDataFrame(
        pa.Table.from_pydict(
            dict(zip(schema.names, columns)), schema=to_arrow_schema(schema)
        )
    )


def _decision_schema(id_schema: StructType) -> StructType:
    """The decision table's schema: ``batch_id`` typed as the batch's
    ``doc_id``, the counts and the verdict never NULL."""
    doc_id = id_schema["doc_id"]
    return StructType(
        [
            StructField("batch_id", doc_id.dataType, doc_id.nullable),
            StructField("n_candidates", LongType(), False),
            StructField("n_verified_dups", LongType(), False),
            StructField("is_near_dup", BooleanType(), False),
        ]
    )


def _assert_unique_ids(ids: list) -> None:
    """Raise if a ``doc_id`` occurs twice in one batch: it would get two
    decision rows and two roster rows, and its texts' shingles would
    merge under one id."""
    repeated = [i for i, n in Counter(ids).items() if n > 1]
    if repeated:
        raise ValueError(
            f"repeated doc_ids within one batch (first {len(repeated[:20])}): "
            f"{repeated[:20]}. A doc_id identifies one document — "
            "re-id or deduplicate the batch."
        )


def _assert_no_content_collisions(batch_md5: dict, hits: list) -> None:
    """Raise if a batch doc_id already indexed carries different
    content than its indexed copy — the silent-miss case documented on
    :meth:`NearDupIndex.filter_batch`.

    ``hits`` are the roster rows (:func:`content_hashes` — one per
    indexed doc, so shingle-free documents ARE covered) of the batch's
    ids, and content equality is one md5 compare. Null-safe: md5(NULL
    text) is NULL; two NULL texts are the same content and NULL-vs-value
    is a mismatch, as Spark's ``eqNullSafe`` has it (Python ``!=`` on
    ``None`` gives exactly that)."""
    bad = [r.doc_id for r in hits if r.content_md5 != batch_md5[r.doc_id]]
    if bad:
        raise ValueError(
            "id/content collision: batch doc_ids already indexed "
            f"with DIFFERENT content (first {len(bad[:20])}): {bad[:20]}. "
            "Replay safety would silently skip comparing these — "
            "re-id the batch or reconcile the contents."
        )


def _bands_table_name(root: str) -> str:
    """Catalog name for a root's bucketed band table — content-derived
    from the (already unique, usually PID-scoped) root path so two
    concurrent engine processes never collide on one catalog entry.
    The table is external, stored in the index's ``bands`` directory,
    so its files live and die with the index root."""
    return "neardup_bands_" + hashlib.md5(root.encode()).hexdigest()[:12]


class NearDupIndex:
    """Handle on a materialized (bands, shingles) index directory.

    ``bucket_bands``: bucket count of the band table when it was built
    with the bucketed layout (None = plain parquet under ``root``).
    """

    def __init__(
        self, spark: SparkSession, root: str, bucket_bands: int | None = None
    ):
        self.spark = spark
        self.root = root
        self.bucket_bands = bucket_bands
        self.bands_path = os.path.join(root, BANDS_SUBDIR)
        self.rows_path = os.path.join(root, ROWS_SUBDIR)
        self.hashes_path = os.path.join(root, HASHES_SUBDIR)
        self.tombstones_path = os.path.join(root, TOMBSTONES_SUBDIR)
        self.tombstone_ledger_path = os.path.join(
            root, TOMBSTONE_LEDGER_SUBDIR
        )
        self.bands_table = _bands_table_name(root) if bucket_bands else None

    # -- construction ------------------------------------------------------

    @staticmethod
    def write_corpus(docs: DataFrame, dest_root: str) -> None:
        """Write a corpus's index tree under ``dest_root`` (composable
        with :func:`..io.artifacts.build_once` for atomic publication)."""
        NearDupIndex._write_trees(
            docs,
            dest_root,
            lambda bands: bands.write.mode("overwrite").parquet(
                os.path.join(dest_root, BANDS_SUBDIR)
            ),
        )

    @staticmethod
    def _write_trees(docs: DataFrame, root: str, write_bands) -> None:
        """The one build body of both layouts: write the shingle and
        roster trees under ``root`` and hand the band table to
        ``write_bands``. The shingle persist feeds the shingle write
        and the bands; it has no consumer after the writes and is
        released whichever way they exit."""
        rows = tracked_persist(shingle_rows(docs))
        try:
            rows.write.mode("overwrite").parquet(
                os.path.join(root, ROWS_SUBDIR)
            )
            write_bands(lsh_band_keys(minhash_signatures_rows(rows)))
            content_hashes(docs).write.mode("overwrite").parquet(
                os.path.join(root, HASHES_SUBDIR)
            )
        finally:
            rows.unpersist()
            untrack(rows)

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        docs: DataFrame,
        root: str,
        bucket_bands: int | None = None,
    ) -> "NearDupIndex":
        """Bootstrap from a corpus. ``bucket_bands=n`` writes the band
        table bucketed by ``band_key`` (sorted within buckets), the
        layout that makes a non-broadcast probe join exchange-free on
        the index side — the corpus is hashed into buckets ONCE at
        build time and never reshuffled by any later probe."""
        if bucket_bands is None:
            cls.write_corpus(docs, root)
        else:
            cls._write_trees(
                docs,
                root,
                lambda bands: write_bucketed_table(
                    bands,
                    _bands_table_name(root),
                    "band_key",
                    bucket_bands,
                    sort_col="band_key",
                    path=os.path.join(root, BANDS_SUBDIR),
                ),
            )
        return cls(spark, root, bucket_bands=bucket_bands)

    # -- reads (re-read per call so appends are visible) -------------------

    def _mask(self, df: DataFrame) -> DataFrame:
        """Apply the committed tombstone set (takedown deletions) to an
        index relation as an anti-join on ``doc_id`` (broadcast under
        the size gate, shuffle above it — the index is never reshuffled
        for a typical mask); every read path (probe bands, verify
        shingles, collision roster) flows through here so a deleted
        document can neither suppress a new one nor satisfy the id
        guard."""
        from ..io.maintenance import _apply_tombstone_mask

        return _apply_tombstone_mask(
            self.spark,
            df,
            self.tombstones_path,
            self.tombstone_ledger_path,
            "doc_id",
        )

    def _read_or_empty(self, path: str, schema: str) -> DataFrame:
        """Read a tree, or an empty relation if the tree is absent —
        the legitimate state of a FULLY-ERASED index (a takedown that
        covered every document removes the trees outright; an empty
        index treats every future doc as novel, it does not crash)."""
        from ..io.maintenance import store_exists

        if not store_exists(self.spark, path):
            return self.spark.createDataFrame([], schema)
        # the declared schema spares Spark a schema-inference job per read
        return self.spark.read.schema(schema).parquet(path)

    def bands(self) -> DataFrame:
        if self.bands_table:
            return self._mask(self.spark.table(self.bands_table))
        return self._mask(
            self._read_or_empty(
                self.bands_path, "doc_id long, band_key string"
            )
        )

    def rows(self) -> DataFrame:
        return self._mask(
            self._read_or_empty(self.rows_path, "doc_id long, s string")
        )

    def hashes(self) -> DataFrame:
        return self._mask(
            self._read_or_empty(
                self.hashes_path, "doc_id long, content_md5 string"
            )
        )

    # -- deletion (takedown / right-to-erasure) ----------------------------

    def delete_docs(self, ids: DataFrame, batch_seq: int | None = None) -> None:
        """Tombstone indexed documents (``doc_id`` column) under the
        generic ledger protocol (:func:`..io.maintenance.
        append_tombstones`): replay-idempotent, commit marker last.
        Readers mask the deleted docs immediately (:meth:`_mask`);
        :meth:`compact` applies the mask PHYSICALLY to all three trees
        and then drops the tombstone files (their ledger survives for
        the replay guard) — the Delta DELETE-then-VACUUM lifecycle.

        ``batch_seq=None`` (the default) AUTO-SEQUENCES: the next free
        sequence after the highest committed one, so successive
        takedown waves never silently collide with the replay guard (a
        fixed default of 0 would make every wave after the first a
        permanent no-op, since the tombstone ledger outlives even
        compaction). Pass an explicit sequence only when the CALLER
        owns replay semantics (a retried job must reuse ITS sequence).

        Deletion is TERMINAL per doc_id: a tombstoned id must not be
        re-ingested (the mask would hide the new copy too, and the
        roster can no longer vouch for the id). Takedowns remove
        content permanently; mint a new id for genuinely new content.
        """
        from ..io.maintenance import append_tombstones, committed_batch_seqs

        if batch_seq is None:
            committed = committed_batch_seqs(
                self.spark, self.tombstone_ledger_path
            )
            batch_seq = (max(committed) + 1) if committed else 0
        append_tombstones(
            self.spark,
            self.tombstones_path,
            self.tombstone_ledger_path,
            ids,
            batch_seq,
            "doc_id",
        )

    # -- the ingestion loop ------------------------------------------------

    def filter_batch(
        self, batch: DataFrame, broadcast_batch: bool = True
    ) -> DataFrame:
        """Decision table (batch_id, n_candidates, n_verified_dups,
        is_near_dup) for a (doc_id, text) batch vs the current index.

        EAGER: the decisions are computed by this call and returned as
        an Arrow-backed ``LocalRelation`` in batch order (one row per
        batch doc), so collecting or re-reading the result never
        touches the index again. A ``doc_id`` repeated within the batch
        raises ``ValueError``.

        PRECONDITION — id/content agreement: a ``doc_id`` is the
        identity of one document's content. A batch id may already be
        in the index (that's the replay case the decision logic is
        built for, and the excluded snapshot reproduces the original
        decisions), but it must then carry the SAME text as the indexed
        copy. A batch doc REUSING an indexed id for DIFFERENT content is
        outside the contract: replay safety excludes the indexed copy
        from its own probe, so the genuine near-dup between the two
        contents is never compared. Callers minting ids (the registered
        replays use disjoint +100000 ranges) satisfy this by
        construction; untrusted id sources should run
        :meth:`ingest_batch` with ``check_id_collisions=True``.

        ``broadcast_batch=False`` is the big-batch path: no broadcast
        hint, so the probe becomes a shuffle join — against a
        ``bucket_bands`` index the corpus side reads its buckets in
        place (zero Exchange) and only the batch shuffles."""
        return self._run_batch(batch, broadcast_batch, append=False)

    def ingest_batch(
        self, batch: DataFrame, check_id_collisions: bool = False
    ) -> DataFrame:
        """Filter the batch, then append the ACCEPTED documents'
        bands/shingles to the index so the next batch sees them.

        Returns :meth:`filter_batch`'s eager decision table. The append
        keeps only ids the roster does not already hold
        (replay-idempotent) and is the one mutation the loop performs —
        the corpus index is otherwise read-only.

        Inherits :meth:`filter_batch`'s id/content-agreement
        precondition; ``check_id_collisions=True`` enforces it (a
        driver-side md5 compare against the roster probe the replay
        guard already runs) and raises ``ValueError`` on a violation
        instead of silently missing the near-dup.
        """
        return self._run_batch(
            batch, True, append=True, check_id_collisions=check_id_collisions
        )

    def _run_batch(
        self,
        batch: DataFrame,
        broadcast_batch: bool,
        append: bool,
        check_id_collisions: bool = False,
    ) -> DataFrame:
        """The one decision path of :meth:`filter_batch` and
        :meth:`ingest_batch`.

        The batch is read ONCE: its (doc_id, text) projection is
        persisted, and its ids, content md5s, shingle rows and band
        keys all derive from that persist. Every batch-bounded
        intermediate — the ids, the candidate pairs, the roster hits,
        the Jaccard terms, the decisions, the novel ids — is collected
        to the driver, and goes back to Spark (where a join needs it)
        as an Arrow-backed ``LocalRelation``.

        Snapshot: every plan that reads the index is collected before
        the first append, and nothing built afterwards has index
        lineage (the appended relations derive from the batch persist
        and driver-side ids; the decisions are driver rows). So no
        recompute can ever see this call's own append — no checkpoint,
        and no pinned file listing, is needed.
        """
        spark = self.spark
        docs = tracked_persist(batch.select("doc_id", "text"))
        # whichever way this exits — including the guards' ValueError,
        # whose documented remedy is "re-id and retry" — the persist has
        # no further consumer, and a continuous caller (the streaming
        # loop) must not accumulate one per epoch
        try:
            id_schema = StructType([docs.schema["doc_id"]])
            md5s = [tuple(r) for r in content_hashes(docs).collect()]
            ids = [i for i, _ in md5s]
            _assert_unique_ids(ids)
            id_rel = _local_relation(spark, id_schema, ids)
            rows = shingle_rows(docs)
            bands = lsh_band_keys(minhash_signatures_rows(rows))

            found: dict = {}

            def _probe() -> None:
                cand = self._candidates(id_rel, bands, broadcast_batch)
                found["pairs"] = (cand.schema, cand.collect())

            def _roster() -> None:
                # one roster probe feeds both ingest guards: batch ids
                # the index already holds, with their indexed md5s. The
                # roster holds one row per indexed doc INCLUDING
                # shingle-free docs, which have no bands — a
                # band-seeded guard would re-accept those on every
                # replay and duplicate their roster row
                found["hits"] = (
                    self.hashes()
                    .join(F.broadcast(id_rel), "doc_id", "left_semi")
                    .collect()
                )

            if append:
                run_concurrently(_probe, _roster)
            else:
                _probe()
            stats = self._verify(*found["pairs"], rows)
            n_cand = Counter(b for b, _, _ in stats)
            n_dup = Counter(b for b, shared, union in stats if 2 * shared >= union)
            decisions = _local_relation(
                spark,
                _decision_schema(id_schema),
                ids,
                [n_cand[i] for i in ids],
                [n_dup[i] for i in ids],
                [n_dup[i] > 0 for i in ids],
            )
            if not append:
                return decisions
            hits = found["hits"]
            if check_id_collisions:
                _assert_no_content_collisions(dict(md5s), hits)
            # replay guard: drop accepted ids the roster already holds
            indexed = {r.doc_id for r in hits}
            new = [i for i in ids if not n_dup[i] and i not in indexed]
            if new:
                new_ids = F.broadcast(_local_relation(spark, id_schema, new))
                # the roster covers every indexed doc: each ingest
                # extends it with exactly the docs it appends
                self._append(
                    rows.join(new_ids, "doc_id", "left_semi"),
                    bands.join(new_ids, "doc_id", "left_semi"),
                    content_hashes(docs).join(new_ids, "doc_id", "left_semi"),
                )
            return decisions
        finally:
            docs.unpersist()
            untrack(docs)

    def _candidates(
        self, batch_ids: DataFrame, batch_bands: DataFrame, broadcast_batch: bool
    ) -> DataFrame:
        """Distinct (batch_id, corpus_id) pairs sharing a band key.

        Replay safety: a replayed epoch probes an index that may
        already hold THIS batch's docs (the append committed, the
        caller's downstream commit didn't). Excluding the batch's own
        ids from the probed snapshot makes the decisions a pure
        function of (batch, PRIOR corpus) — re-running any batch
        reproduces its original decisions instead of flagging every
        doc as its own near-dup. Candidate corpus ids are therefore
        never batch ids, which keeps the verify's corpus side clean
        too. A broadcast anti-join on the batch-id relation; a fresh
        batch makes it a no-op."""
        probe = batch_bands.withColumnRenamed("doc_id", "batch_id")
        if broadcast_batch:
            probe = F.broadcast(probe)
        return (
            self.bands()
            .join(F.broadcast(batch_ids), "doc_id", "left_anti")
            .join(probe, "band_key")
            .select("batch_id", F.col("doc_id").alias("corpus_id"))
            .distinct()
        )

    def _verify(
        self, schema: StructType, pairs: list, batch_rows: DataFrame
    ) -> list[tuple]:
        """(batch_id, n_shared, n_union) per collected candidate pair.

        The pairs enter as a ``LocalRelation`` and meet two BROADCAST
        shingle-array inputs: the corpus docs' arrays (the rows tree
        semi-joined to the candidate corpus ids) and the batch docs'
        arrays (from the persisted batch). A pair whose corpus doc has
        no shingle rows drops out, as in :func:`..textops.dedup.
        pair_jaccard_stats`."""
        if not pairs:
            return []
        pair_rel = _local_relation(
            self.spark,
            schema,
            [p.batch_id for p in pairs],
            [p.corpus_id for p in pairs],
        )
        corpus_ids = _local_relation(
            self.spark,
            StructType([StructField("doc_id", schema["corpus_id"].dataType)]),
            sorted({p.corpus_id for p in pairs}),
        )
        corpus_arrs = (
            self.rows()
            .join(F.broadcast(corpus_ids), "doc_id", "left_semi")
            .groupBy(F.col("doc_id").alias("corpus_id"))
            .agg(F.collect_list("s").alias("sh_c"))
        )
        batch_arrs = batch_rows.groupBy(F.col("doc_id").alias("batch_id")).agg(
            F.collect_list("s").alias("sh_b")
        )
        return [
            tuple(r)
            for r in pair_rel.join(F.broadcast(batch_arrs), "batch_id")
            .join(F.broadcast(corpus_arrs), "corpus_id")
            .select("batch_id", *jaccard_terms("sh_b", "sh_c"))
            .collect()
        ]

    def _append(
        self, new_rows: DataFrame, new_bands: DataFrame, new_hashes: DataFrame
    ) -> None:
        # Append ORDER is the crash-safety contract: rows, then bands,
        # then the roster LAST. The replay guard seeds already-indexed
        # ids from the roster (ingest_batch), so a roster row must imply
        # the doc's rows+bands appends committed — the roster is the
        # commit marker. Writing it earlier would let a crash between
        # roster and bands appends strand a doc in the roster with no
        # bands: a retried ingest drops it as already indexed and it is
        # permanently invisible to band probing, the silent-miss class
        # this module guards against.
        # With roster-last, a crash mid-append means the retry
        # re-appends — duplicate rows/bands rows, which are benign:
        # candidate generation applies ``.distinct()`` and the Jaccard
        # verify uses ``array_intersect``/``array_union`` set-ops
        # (duplicate-insensitive).
        #
        # The rows and bands appends are mutually independent (only
        # the roster orders after BOTH), so they run as concurrent
        # jobs from two driver threads — each job's tail backfills the
        # other's idle cores, locally and on a cluster alike. If either
        # fails the roster is never written, which is exactly the
        # crash-mid-append state the contract already tolerates.
        def _write_rows() -> None:
            new_rows.write.mode("append").parquet(self.rows_path)

        def _write_bands() -> None:
            if self.bands_table:
                # append preserves the bucket spec (Spark validates it
                # against the existing table) — new rows hash into the
                # same band_key buckets, so probes stay exchange-free
                # after any number of ingests
                write_bucketed_table(
                    new_bands,
                    self.bands_table,
                    "band_key",
                    self.bucket_bands,
                    sort_col="band_key",
                    mode="append",
                )
            else:
                new_bands.write.mode("append").parquet(self.bands_path)

        run_concurrently(_write_rows, _write_bands)
        new_hashes.write.mode("append").parquet(self.hashes_path)

    # -- maintenance ---------------------------------------------------------

    def compact(self, target_bytes: int = 128 << 20) -> None:
        """Small-file compaction of the index's plain-parquet trees
        (rows, bands, roster) — each ingest appends a file set, so a
        long-running loop accumulates one small file per table per
        epoch; this rewrites each tree to size-targeted sorted files
        via the crash-safe swap in :func:`..io.maintenance.
        compact_flat_tree`. Decisions are unchanged by construction
        (candidate generation ``.distinct()``s and the verify uses
        set-ops), and the roster keeps covering every indexed doc, so
        the replay guard is unaffected — the registered
        ``neardup_compacted_ingest_replay`` query hash-proves both.

        Ordering note: all THREE tree rewrites run as concurrent
        driver jobs (r17; the roster used to compact first, serially).
        Unlike the APPEND path — where the roster is the commit marker
        and must be written last — compaction is a content-preserving
        rewrite per tree, so no cross-tree ordering is load-bearing: a
        crash that leaves any subset of trees rewritten leaves every
        tree content-equivalent to its pre-compaction self (masked
        rows are dropped physically only while the tombstone files —
        deleted strictly AFTER all three rewrites — still mask every
        read logically), and the next compact() simply resumes.

        The bucketed variant's band table compacts through
        :func:`..io.maintenance.compact_bucketed_table` (a staging
        rewrite preserving the bucket spec, swapped into the ``bands``
        directory, so probes stay exchange-free afterwards).

        Tombstoned documents (:meth:`delete_docs`) are applied
        PHYSICALLY here: every tree's rewrite drops the masked rows and
        the tombstone files are deleted afterwards (ledger kept), so
        compaction doubles as the erasure-completion step.
        """
        from ..io.maintenance import (
            compact_bucketed_table,
            compact_flat_tree,
            store_exists,
        )

        mask = dict(
            tombstones_path=self.tombstones_path,
            tombstone_ledger_path=self.tombstone_ledger_path,
            id_col="doc_id",
        )

        # the three rewrites touch disjoint trees and no cross-tree
        # ordering is load-bearing (see the ordering note above) — run
        # them as concurrent jobs so each rewrite's task tail backfills
        # the others' idle cores, and the three fixed per-rewrite
        # commit costs overlap instead of serializing
        def _compact_hashes() -> None:
            compact_flat_tree(
                self.spark, self.hashes_path, ["doc_id"], target_bytes, **mask
            )

        def _compact_rows() -> None:
            compact_flat_tree(
                self.spark, self.rows_path, ["doc_id"], target_bytes, **mask
            )

        def _compact_bands() -> None:
            if self.bands_table:
                compact_bucketed_table(
                    self.spark,
                    self.bands_table,
                    self.bands_path,
                    "band_key",
                    self.bucket_bands,
                    sort_col="band_key",
                    **mask,
                )
            else:
                compact_flat_tree(
                    self.spark,
                    self.bands_path,
                    ["band_key", "doc_id"],
                    target_bytes,
                    **mask,
                )

        run_concurrently(_compact_hashes, _compact_rows, _compact_bands)
        if store_exists(self.spark, self.tombstones_path):
            # erasure completed across all three trees — drop the mask
            # files; the tombstone LEDGER survives so a replayed
            # tombstone batch still no-ops (Delta DELETE-then-VACUUM)
            from ..io.maintenance import invalidate_swapped_path

            jpath = self.spark._jvm.org.apache.hadoop.fs.Path
            p = jpath(self.tombstones_path)
            p.getFileSystem(
                self.spark._jsc.hadoopConfiguration()
            ).delete(p, True)
            invalidate_swapped_path(self.spark, self.tombstones_path)
