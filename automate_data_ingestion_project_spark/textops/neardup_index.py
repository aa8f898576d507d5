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
  ``band_key`` (a managed table via ``io.sink.write_bucketed_table``),
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

Parquet ``append`` is the local-FS stand-in for a transactional table
commit; the idempotency guard is a column-pruned scan of the index's
id column semi-joined against the (broadcast) batch ids — a real
deployment replaces it with PK enforcement / MERGE in the table format.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.sink import write_bucketed_table
from ..operators.caching import tracked_persist
from ..operators.concurrency import run_concurrently
from .dedup import (
    lsh_band_keys,
    minhash_signatures_rows,
    pair_jaccard_stats,
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


def _bands_table_name(root: str) -> str:
    """Catalog name for a root's bucketed band table — content-derived
    from the (already unique, usually PID-scoped) root path so two
    concurrent engine processes never collide on one catalog entry."""
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
        rows = tracked_persist(shingle_rows(docs))
        bands = lsh_band_keys(minhash_signatures_rows(rows))
        rows.write.mode("overwrite").parquet(
            os.path.join(dest_root, ROWS_SUBDIR)
        )
        bands.write.mode("overwrite").parquet(
            os.path.join(dest_root, BANDS_SUBDIR)
        )
        content_hashes(docs).write.mode("overwrite").parquet(
            os.path.join(dest_root, HASHES_SUBDIR)
        )

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
            return cls(spark, root)
        rows = tracked_persist(shingle_rows(docs))
        try:
            bands = lsh_band_keys(minhash_signatures_rows(rows))
            rows.write.mode("overwrite").parquet(
                os.path.join(root, ROWS_SUBDIR)
            )
            content_hashes(docs).write.mode("overwrite").parquet(
                os.path.join(root, HASHES_SUBDIR)
            )
            write_bucketed_table(
                bands,
                _bands_table_name(root),
                "band_key",
                bucket_bands,
                sort_col="band_key",
            )
        finally:
            # both writes are done — the persist has no further consumer
            # (mirrors ingest_batch's cleanup; without it every bucketed
            # build leaks one live persist + registry entry)
            from ..operators.caching import untrack

            rows.unpersist()
            untrack(rows)
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
        return self.spark.read.parquet(path)

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

    def _batch_derivations(self, batch: DataFrame):
        rows = tracked_persist(shingle_rows(batch))
        bands = tracked_persist(lsh_band_keys(minhash_signatures_rows(rows)))
        return rows, bands

    def filter_batch(
        self, batch: DataFrame, broadcast_batch: bool = True
    ) -> DataFrame:
        """Decision table (batch_id, n_candidates, n_verified_dups,
        is_near_dup) for a (doc_id, text) batch vs the current index.

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
        rows, bands = self._batch_derivations(batch)
        return self._decisions(batch, rows, bands, broadcast_batch)

    def _assert_no_content_collisions(self, batch: DataFrame) -> None:
        """Raise if a batch doc_id already indexed carries different
        content than its indexed copy — the silent-miss case documented
        on :meth:`filter_batch`.

        Colliding ids come from the content-hash roster
        (:func:`content_hashes` — one row per indexed doc, so
        shingle-free documents ARE covered) and content equality is one
        md5 compare. Cost: a 2-column scan of the roster semi-joined to
        the broadcast batch ids — strictly cheaper than touching
        shingles, and bounded by the batch.
        """
        idx_h = (
            self.hashes()
            .join(F.broadcast(batch.select("doc_id")), "doc_id", "left_semi")
            .withColumnRenamed("content_md5", "indexed_md5")
        )
        # null-safe: md5(NULL text) is NULL, and a plain != would
        # evaluate to NULL and silently DROP a NULL-vs-real-content
        # collision — the exact silent-miss class the guard exists to
        # raise on. eqNullSafe treats two NULL texts as equal (same
        # content) and NULL-vs-value as a mismatch.
        mismatched = (
            idx_h.join(content_hashes(batch), "doc_id")
            .filter(~F.col("indexed_md5").eqNullSafe(F.col("content_md5")))
            .select("doc_id")
        )
        bad = [r.doc_id for r in mismatched.limit(20).collect()]
        if bad:
            raise ValueError(
                "id/content collision: batch doc_ids already indexed "
                f"with DIFFERENT content (first {len(bad)}): {bad}. "
                "Replay safety would silently skip comparing these — "
                "re-id the batch or reconcile the contents."
            )

    def _decisions(
        self,
        batch: DataFrame,
        batch_rows: DataFrame,
        batch_bands: DataFrame,
        broadcast_batch: bool = True,
    ) -> DataFrame:
        # Replay safety: a replayed epoch probes an index that may
        # already hold THIS batch's docs (the append committed, the
        # caller's downstream commit didn't). Excluding the batch's own
        # ids from the probed snapshot makes the decision table a pure
        # function of (batch, PRIOR corpus) — re-running any batch
        # reproduces its original decisions instead of flagging every
        # doc as its own near-dup (and double-counting its shingles in
        # the Jaccard verify). Broadcast anti-joins on the tiny batch-id
        # set; a fresh batch makes them no-ops.
        batch_ids = batch.select("doc_id")
        idx_bands = self.bands().join(
            F.broadcast(batch_ids), "doc_id", "left_anti"
        )
        idx_rows = self.rows().join(
            F.broadcast(batch_ids), "doc_id", "left_anti"
        )
        probe = batch_bands.withColumnRenamed("doc_id", "batch_id")
        if broadcast_batch:
            probe = F.broadcast(probe)
        cand = (
            idx_bands.join(probe, "band_key")
            .select("batch_id", F.col("doc_id").alias("corpus_id"))
            .distinct()
        )
        all_rows = idx_rows.unionByName(batch_rows)
        stats = pair_jaccard_stats(all_rows, cand, "batch_id", "corpus_id")
        agg = stats.groupBy("batch_id").agg(
            F.count("*").alias("n_candidates"),
            F.sum(
                F.when(2 * F.col("n_shared") >= F.col("n_union"), 1).otherwise(0)
            ).alias("n_verified_dups"),
        )
        ids = batch.select(F.col("doc_id").alias("batch_id"))
        return ids.join(agg, "batch_id", "left").select(
            "batch_id",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            F.coalesce("n_verified_dups", F.lit(0)).alias("n_verified_dups"),
            (F.coalesce("n_verified_dups", F.lit(0)) > 0).alias("is_near_dup"),
        )

    def ingest_batch(
        self, batch: DataFrame, check_id_collisions: bool = False
    ) -> DataFrame:
        """Filter the batch, then append the ACCEPTED documents'
        bands/shingles to the index so the next batch sees them.

        Returns the decision table. The append reuses the batch's
        persisted derivations (no recompute), keeps only ids not
        already present (replay-idempotent), and is the one mutation
        the loop performs — the corpus index is otherwise read-only.

        Inherits :meth:`filter_batch`'s id/content-agreement
        precondition; ``check_id_collisions=True`` enforces it eagerly
        (one extra bounded action per batch) and raises ``ValueError``
        on a violation instead of silently missing the near-dup.
        """
        rows, bands = self._batch_derivations(batch)
        # Everything from here on must release the two tracked persists
        # no matter how it exits — INCLUDING the collision guard's
        # ValueError, whose documented remedy is "re-id and retry": a
        # continuous caller catching it would otherwise leak two live
        # persists + registry entries per rejected batch, the exact
        # class the bucketed build's finally was added to prevent.
        try:
            if check_id_collisions:
                self._assert_no_content_collisions(batch)
            # Pin the decision table to the PRE-append index snapshot:
            # eager localCheckpoint materializes it NOW and truncates
            # the lineage, so no later recompute can re-list the index
            # parquet after the append below (a lazy persist is not
            # enough — a recomputed partition would see the batch's own
            # appended bands and flag every accepted doc as its own
            # near-dup). The verification intermediates pair_jaccard_
            # stats persists internally are scoped to this step: once
            # the decisions are materialized they have no consumer, and
            # a cached plan over the index trees left live across a
            # later compact() is recached against the DISPLACED file
            # listing — the next ingest's matching plan fragment then
            # reads deleted part files (persist_scope docstring has the
            # full failure anatomy).
            from ..operators.caching import persist_scope

            with persist_scope():
                decisions = self._decisions(batch, rows, bands).localCheckpoint(
                    eager=True
                )
            accepted = decisions.filter(~F.col("is_near_dup")).select(
                F.col("batch_id").alias("doc_id")
            )
            # replay guard: drop ids the index already holds
            # (column-pruned scan of the roster's id column vs the
            # broadcast batch id set). The roster holds one row per
            # indexed doc INCLUDING shingle-free docs, which have no
            # bands — a band-seeded guard re-accepted those on every
            # replay and duplicated their (doc_id, md5) roster row.
            already = (
                self.hashes()
                .select("doc_id")
                .join(F.broadcast(accepted), "doc_id", "left_semi")
                .distinct()
            )
            # materialize the (batch-bounded) novel-id set ONCE: it
            # feeds the broadcast build of all three appends below, and
            # an unmaterialized plan would rescan the roster per append
            new_ids = accepted.join(already, "doc_id", "left_anti").localCheckpoint(
                eager=True
            )
            new_rows = rows.join(F.broadcast(new_ids), "doc_id", "left_semi")
            new_bands = bands.join(
                F.broadcast(new_ids), "doc_id", "left_semi"
            )
            # the roster covers every indexed doc: each ingest extends
            # it with exactly the docs it appends
            new_hashes = content_hashes(batch).join(
                F.broadcast(new_ids), "doc_id", "left_semi"
            )
            self._append(new_rows, new_bands, new_hashes)
        finally:
            # on success the decision table is eagerly materialized and
            # the appends are done; on failure nothing downstream holds
            # the derivations — either way they have no further
            # consumer, and a continuous caller (the streaming loop)
            # must not accumulate per-epoch persists
            from ..operators.caching import untrack

            for df in (rows, bands):
                df.unpersist()
                untrack(df)
        return decisions

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
        :func:`..io.maintenance.compact_bucketed_table` (a staging-table
        rewrite preserving the bucket spec, so probes stay
        exchange-free afterwards).

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
