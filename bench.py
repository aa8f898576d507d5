#!/usr/bin/env python
"""Benchmark harness — the driver's perf gate.

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints
exactly ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Timing protocol: one warm-up query first (JVM + codegen + parquet
footer caches), then each query timed end-to-end — plan construction
through ``collect()`` of its (small) result. Headline queries all
return bounded result sets, so collect measures full execution without
driver-transfer noise.

Every query is re-run at least once (best-of-2; sub-2 s queries
best-of-3): the first execution of a plan shape pays JIT/codegen
compilation — startup cost, not plan cost — and at 1-2 s a single
sample sits inside local[32] scheduler jitter (round-over-round
``vs_prior`` on n=1 flagged a dozen untouched queries in r3). Best-of
keeps the signal (a real plan regression survives reruns) and drops
the noise. Library caches are released after every run so timings
measure each query cold-on-its-own-caches and storage doesn't
accumulate across the sweep.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


def prebuild_artifacts(spark, sf_dir: str) -> None:
    """Build every fingerprint-keyed materialized artifact of ``sf_dir``
    and release the build's caches.

    Index/evidence construction is maintenance cost a production
    ingestion pays once per corpus generation, not query cost — timing
    it inside the first query that touches it made vs_prior cry wolf
    after every fixture regeneration (r4 flagged
    incremental_neardup_filter 2.78× for exactly this). Every script
    that times registered queries calls this first, so they all time
    the same thing.
    """
    from automate_data_ingestion_project_spark.analytics.dedup import (
        corpus_neardup_index,
        minhash_pairs_evidence,
    )
    from automate_data_ingestion_project_spark.analytics.ivf import (
        ivf_cell_table,
    )
    from automate_data_ingestion_project_spark.analytics.ivf_train import (
        ivf_trained_artifact,
    )
    from automate_data_ingestion_project_spark.analytics.load import (
        zorder_pruned_scan,
    )
    from automate_data_ingestion_project_spark.analytics.pq_train import (
        _train as pq_train_artifact,
    )
    from automate_data_ingestion_project_spark.operators.caching import (
        release_caches,
    )

    corpus_neardup_index(spark, sf_dir)
    minhash_pairs_evidence(spark, sf_dir)
    pq_train_artifact(spark, sf_dir)
    ivf_cell_table(spark, sf_dir)
    ivf_trained_artifact(spark, sf_dir)  # Lloyd training, r15
    zorder_pruned_scan(spark, sf_dir)  # builds the z-ordered artifact
    release_caches()


def main() -> int:
    # bench-only: the audited-benign unpartitioned-window warnings drown
    # the bench tail; every other session keeps the default WARN so a
    # genuinely unbounded window still announces itself (session.py)
    os.environ.setdefault("SPARK_GRAFT_SILENCE_WINDOW_WARN", "1")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from automate_data_ingestion_project_spark.session import get_spark
    from automate_data_ingestion_project_spark.analytics import QUERIES
    import __spark_entry__  # noqa: F401  (imports every query module)

    # Headliners: the expensive/representative shapes. Anything in the
    # registry tagged as a bench query runs; fall back to this fixed list.
    bench_names = [
        n
        for n in (
            "pricing_summary",
            "revenue_by_nation",
            "top_brands_by_quantity",
            "top3_orders_per_priority",
            "orders_by_month",
            "orders_per_year",
            "normalize_dv3f",
            "upsert_idempotent",
            "dedup_exact",
            "dedup_minhash_pairs",
            "dedup_simhash_pairs",
            "dedup_ngram_jaccard",
            "dedup_embedding_cosine",
            "ann_topk_cosine",
            "ann_lsh_topk",
            "ann_ivf_topk",
            "lang_length_zscores",
            "text_stats",
            "doc_fingerprints",
            "multimodal_manifest",
            "event_sessions",
            "events_json_props",
            "skew_salted_agg",
            "skew_salted_join",
            "asof_purchase_last_click",
            "range_join_signup_errors",
            "events_hypertable_rollup",
            "stream_windowed_counts",
            "doc_chunks",
            "embedding_quantize",
            "decontaminate_overlap",
            "doc_repetition",
            "corpus_sample_mix",
            "pack_sequences",
            "label_centroids",
            "centroid_purity",
            "corpus_curation_pipeline",
            "top_terms_per_doc",
            "incremental_neardup_filter",
            "vocab_encode",
            # round 4 additions
            "quality_gates",
            "stratified_sample_exact",
            "customer_value_quartiles",
            "orders_rolling_revenue",
            "leakage_safe_split",
            "bigram_counts",
            "dataset_split",
            "orders_monthly_gapfill",
            "nation_revenue_share",
            "kmeans_step",
            "multimodal_chunks",
            "table_profile",
            "parts_bought_together",
            # round 5 additions
            "table_profile_approx",
            "dedup_components",
            "ann_recall_eval",
            "minhash_estimate_error",
            "customer_order_histogram",
            "promo_revenue_share",
            "order_priority_exists",
            "small_qty_revenue_by_brand",
            "important_revenue_nations",
            "big_ticket_orders",
            "cheapest_supplier_per_part",
            "customer_interarrival",
            "stream_dedup_events",
            "dedup_canonical_keep",
            "incremental_daily_rollup",
            "sales_cube",
            "events_value_histogram",
            "ann_pq_topk",
            "ann_ivfpq_topk",
            "ann_pq_recall_eval",
            "cumulative_new_customers",
            "median_order_by_nation",
            "disjunctive_promo_revenue",
            "local_supplier_revenue",
            # round 6 additions
            "pq_train_distortion",
            "ann_pq_trained_recall_eval",
            "neardup_ingest_replay",
            "shipping_priority_topk",
            "volume_shipping_pairs",
            "nation_market_share",
            "returned_item_losses",
            "lapsed_customer_balance",
            "sales_grouping_sets",
            "quantile_sketch_calibration",
            "pii_redaction",
            "multimodal_resize",
            "stream_stream_join",
            "peak_concurrent_sessions",
            "discount_revenue_delta",
            "part_supplier_variety",
            "orders_trailing_30d_revenue",
            "null_safe_join_semantics",
            "stream_late_data_drop",
            "semantic_dedup_clusters",
            "heavy_hitters_sketch",
            "stream_upsert_foreachbatch",
            "pagerank_step",
            # round 6, third session
            "top_supplier_revenue",
            "events_variant_props",
            "fuzzy_name_pairs",
            "bitmap_exact_distinct",
            "hll_sketch_rollup",
            "duplicate_text_spans",
            "span_dedup_mask",
            "neardup_blast_radius",
            "neardup_triangles",
            "profile_drift",
            "event_sessions_udtf",
            "normalize_dv3f_pandas_api",
            "scripted_quality_gate",
            "pipe_syntax_revenue",
            "ann_truncated_recall_eval",
            "events_value_interpolate",
            "snapshot_diff",
            "value_outliers_mad",
            # round 8 additions
            "stream_neardup_ingest_replay",
            "zorder_pruned_scan",
            # round 9 additions (+ weighted_systematic_sample, added in
            # r8 but benchable only once its oracle row went green)
            "weighted_systematic_sample",
            "source_doc_cap",
            "source_token_budget_cap",
            "duckdb_federated_scan",
            "jdbc_roundtrip_nation",
            # round 10 additions
            "duckdb_parquet_handoff",
            "export_token_shards",
            # round 11 additions
            "curated_shard_export",
            "incremental_shard_export",
            "stream_shard_export",
            "shard_manifest",
            # round 12 additions
            "ann_ivf_ingest_replay",
            "stream_ann_ivf_ingest_replay",
            "ann_ivfpq_ingest_replay",
            "stream_ann_ivfpq_ingest_replay",
            "ann_pq_refined_topk",
            "ann_refined_recall_eval",
            "shard_store_compaction",
            "ivf_store_compaction",
            "shard_store_asof",
            "neardup_compacted_ingest_replay",
            # round 13 additions
            "shard_store_asof_compacted",
            "shard_store_delete",
            "ivf_store_delete",
            "ivfpq_store_delete",
            "neardup_store_delete",
            "stream_shard_store_delete",
            "nation_profit_by_year",
            "late_lines_by_priority_class",
            "promotable_part_suppliers",
            "waiting_suppliers",
            "ann_ivfpq_refined_topk",
            "ann_ivfpq_refined_recall_eval",
            "ivf_train_distortion",
            "ann_ivf_trained_recall_eval",
            # round 14 additions
            "shard_store_asof_erasure",
            "ann_ivfpq_multiprobe_refined_topk",
            "ann_ivfpq_multiprobe_recall_eval",
            "shard_store_changes",
            "shard_store_ledger_checkpoint",
            # round 15 additions
            "ann_ivf_trained_topk",
            "multimodal_decode",
            "cdf_incremental_consumer",
            "cdf_consumer_erasure_propagation",
            "bpe_pair_counts",
            "bpe_merge_step",
            "bpe_two_merge_steps",
        )
        if n in QUERIES
    ]

    spark = get_spark(app_name="bench")
    # warm-up: touch the biggest table so JIT/parquet-footer costs don't
    # land on the first timed query
    QUERIES["pricing_summary"].fn(spark, sf_dir).collect()

    from automate_data_ingestion_project_spark.operators.caching import (
        release_caches,
    )

    # Pre-build the materialized artifacts OUTSIDE the timed region;
    # the build time is still reported, as its own metric.
    t0 = time.perf_counter()
    prebuild_artifacts(spark, sf_dir)
    artifact_build = round(time.perf_counter() - t0, 4)

    # Machine-speed canary: a FIXED pure-CPU Spark job (no IO, no repo
    # code) timed best-of-2. Query timings divided by this are
    # host-speed-normalized — successive same-code runs on this VM have
    # measured 76 s → 105 s totals purely from host/noisy-neighbor
    # variance, which otherwise reads as a uniform fake regression in
    # vs_prior. Compare canary_sec across BENCH_r{N}.json before
    # believing a broad slowdown. Measured at the START and again at
    # the END of the sweep: one same-code run measured start-canary
    # 0.16 s but total 205 s vs 118 s (host degraded MID-run) — a
    # single start canary is blind to time-varying load, so the
    # regression filter normalizes by the WORSE of the two ratios.
    def _run_canary() -> float:
        c = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            spark.range(0, 400_000_000, 1, 32).selectExpr(
                "sum(id * 2 + 1) AS s"
            ).collect()
            c = min(c, time.perf_counter() - t0)
        return round(c, 4)

    # IO canary: a fixed parquet write+read. Three same-code runs
    # measured totals 118.7 / 205.3 / 158.8 s while the CPU canary
    # stayed flat — the drift was DISK contention (the inflated
    # queries were all state-store/parquet-heavy), which a pure-CPU
    # canary cannot see. Reported per run; the regression filter uses
    # the worst of the CPU/IO ratios, biasing toward suppression —
    # correct here, since same-code runs produce disjoint flag sets
    # under host IO noise.
    def _run_io_canary() -> float:
        from automate_data_ingestion_project_spark.analytics.load import (
            scratch_dir,
        )

        path = os.path.join(scratch_dir("bench_io_canary"), "t")
        c = float("inf")
        for i in range(2):
            t0 = time.perf_counter()
            spark.range(0, 2_000_000, 1, 8).selectExpr(
                "id", "id * 2 AS a", "CAST(id AS STRING) AS s"
            ).write.mode("overwrite").parquet(f"{path}{i}")
            spark.read.parquet(f"{path}{i}").count()
            c = min(c, time.perf_counter() - t0)
        return round(c, 4)

    canary = _run_canary()
    io_canary = _run_io_canary()

    timings: dict[str, float] = {}
    for name in bench_names:
        t0 = time.perf_counter()
        QUERIES[name].fn(spark, sf_dir).collect()
        best = time.perf_counter() - t0
        release_caches()
        # Re-run everything at least once: a query's FIRST execution pays
        # JIT/codegen compilation for its plan shapes (measured: 8.9 s →
        # 4.2 s on the second run of dedup_minhash_pairs at sf0.1), which
        # is startup cost, not plan cost. Short queries get best-of-3 —
        # at 1-2 s a single sample sits inside local[32] scheduler jitter.
        reruns = 2 if best < 2.0 else 1
        for _ in range(reruns):
            t0 = time.perf_counter()
            QUERIES[name].fn(spark, sf_dir).collect()
            best = min(best, time.perf_counter() - t0)
            release_caches()
        timings[name] = round(best, 4)

    canary_end = _run_canary()
    io_canary_end = _run_io_canary()
    total = round(sum(timings.values()), 4)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # one-time materialized-artifact maintenance (near-dup corpus
        # index + pair evidence), deliberately outside query timings
        "artifact_build_sec": artifact_build,
        # fixed-size pure-CPU job: compare across rounds to separate
        # host-speed drift from real plan regressions
        "canary_sec": canary,
        "canary_end_sec": canary_end,
        # fixed parquet write+read: the DISK-speed twin of the CPU
        # canary (host IO contention inflates state-store/parquet
        # queries while the CPU canary stays flat)
        "io_canary_sec": io_canary,
        "io_canary_end_sec": io_canary_end,
    }
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    full_path = os.path.join(repo_dir, "BENCH_FULL.json")
    # Round-over-round regression check: diff against the newest prior
    # BENCH_r{N}.json (same sf). The prior RECORD identifies the run;
    # its printed query map may be trimmed (see _fit_line) — when the
    # on-disk BENCH_FULL.json provably belongs to that same run
    # (matching total + sf), its COMPLETE map is used instead, so the
    # fast queries elided from the printed line still get regression
    # coverage. Read BEFORE the overwrite below.
    prior_file, prior, prior_canary = _latest_prior_bench(repo_dir, sf)
    prior = _upgrade_to_full_map(full_path, prior, sf) or prior
    # Full per-query map to a repo file: the driver keeps only the LAST
    # 2000 chars of stdout, and at 60+ queries the full JSON line
    # outgrew that window (BENCH_r05.json recorded parsed=None — the
    # per-query data was lost). The printed line is therefore trimmed
    # below to always fit; the complete map lives here.
    with open(full_path, "w") as fh:
        json.dump(out, fh)
    if prior:
        ratios = {
            n: round(t / prior[n], 3)
            for n, t in timings.items()
            if n in prior and prior[n] > 0
        }
        # Host-speed normalization: divide per-query ratios by the
        # canary ratio, so a uniformly slower host (measured 76 s →
        # 105 s same-code on this VM) doesn't read as a uniform
        # regression. Only the canary-NORMALIZED ratio is flagged, and
        # the normalizer is the WORSE of the start/end canaries so a
        # host that degrades mid-sweep doesn't fake a regression wave.
        # The PRIOR side contributes its BEST (quiet-host) canary and
        # the normalizer clamps at 1.0: the filter corrects for
        # CURRENT-run slowness only. Normalizing below 1 would demand
        # every query speed up as much as the pure-CPU canary did —
        # measured r6→r7: prior start canary 0.58 s (loaded host) vs
        # 0.17 s now produced speed=0.394 and 55 phantom flags on a
        # total_ratio-0.991 run.
        # The asymmetry trades false positives for false NEGATIVES: a
        # fluke-fast prior canary (or a real host speed-up) inflates
        # `speed` and deflates every current ratio, so a genuine
        # regression on a faster host can be fully masked. To keep
        # masked regressions visible in the record, `speed` and the
        # UN-normalized flag count are always emitted below, and a
        # high normalizer (>1.5) is the signal to re-run quiet and
        # read raw_regression_count before trusting `regressions: {}`.
        canary_ratio = (
            round(canary / prior_canary, 3) if prior_canary else None
        )
        canary_end_ratio = (
            round(canary_end / prior_canary, 3) if prior_canary else None
        )
        # prior records carry the IO canary from r6 on; without one the
        # current IO canaries still print for the NEXT round's ratio
        prior_io = _prior_io_canary(repo_dir, prior_file)
        io_ratios = (
            [
                round(io_canary / prior_io, 3),
                round(io_canary_end / prior_io, 3),
            ]
            if prior_io
            else []
        )
        speed = (
            max([1.0, canary_ratio, canary_end_ratio, *io_ratios])
            if canary_ratio
            else 1.0
        )
        regressions = _flag_regressions(timings, prior, ratios, speed)
        # Same rule WITHOUT the host normalizer — the visibility net
        # for the false-negative direction documented above. Raw
        # per-query ratios are reconstructable from BENCH_FULL.json of
        # both rounds; the count here is the cheap tripwire.
        raw_regressions = _flag_regressions(timings, prior, ratios, 1.0)
        # both sides of the ratio cover the SAME query set — otherwise a
        # newly added query inflates the numerator and fakes a regression
        out["vs_prior"] = {
            "file": prior_file,
            "total_ratio": round(
                sum(timings[n] for n in ratios) / sum(prior[n] for n in ratios)
                if ratios
                else 1.0,
                3,
            ),
            "regressions": regressions,
            "speed": round(speed, 3),
            "raw_regression_count": len(raw_regressions),
        }
        if canary_ratio:
            out["vs_prior"]["canary_ratio"] = canary_ratio
            out["vs_prior"]["canary_end_ratio"] = canary_end_ratio
        if io_ratios:
            out["vs_prior"]["io_canary_ratio"] = max(io_ratios)

    print(_fit_line(out, timings))
    return 0


def _flag_regressions(
    timings: dict, prior: dict, ratios: dict, speed: float
) -> dict:
    """Queries slower than the prior record after dividing by the host
    normalizer ``speed`` (1.0 = un-normalized): flag only if the
    normalized ratio exceeds 1.25× AND the normalized absolute delta
    exceeds 0.5 s — sub-second queries sit inside local[32] scheduler
    jitter and produced a dozen false flags per round before the floor
    (r3-r5 verdicts adjudicated every one of them as noise)."""
    return {
        n: round(r / speed, 3)
        for n, r in sorted(ratios.items())
        if r / speed > 1.25 and timings[n] - speed * prior[n] > 0.5
    }


def _prior_io_canary(repo_dir: str, prior_file: str | None):
    """io_canary_sec of the prior record, via its BENCH_r{N}.json
    (parsed or tail) — None for pre-r6 records that predate it."""
    if not prior_file:
        return None
    try:
        with open(os.path.join(repo_dir, prior_file)) as fh:
            data = json.load(fh)
    except (OSError, ValueError):
        return None
    parsed = data.get("parsed") or data
    # BEST (min) of the prior record's start/end io canaries — the
    # quiet-host measurement. A prior sweep whose start was io-loaded
    # (r6: 1.70 s start vs 0.45 s end) must not shrink the normalizer
    # and convert the load that cleared into current-round flags.
    if isinstance(parsed, dict) and parsed.get("io_canary_sec"):
        vals = [parsed["io_canary_sec"], parsed.get("io_canary_end_sec")]
        return min(v for v in vals if v)
    tail = (data.get("tail") or "").split('"vs_prior"')[0]
    mm = re.findall(r'"io_canary(?:_end)?_sec":\s*([0-9.]+)', tail)
    return min(map(float, mm)) if mm else None


def _fit_line(out: dict, timings: dict, limit: int = 1900) -> str:
    """Trim the PRINTED record to the driver's 2000-char stdout window:
    cap vs_prior.regressions at the 10 worst (a broad regression sweep
    would otherwise overflow on its own — and a line truncated inside
    vs_prior also breaks the tail-recovery split marker), then keep the
    slowest queries until the compact JSON line fits ``limit``,
    recording how many queries were elided and where the full map
    lives."""
    printed = dict(out)
    vp = printed.get("vs_prior")
    if vp and len(vp.get("regressions", {})) > 10:
        worst = sorted(vp["regressions"].items(), key=lambda kv: -kv[1])[:10]
        printed["vs_prior"] = dict(
            vp,
            regressions=dict(sorted(worst)),
            n_regressions=len(vp["regressions"]),
        )
    printed["n_queries"] = len(timings)
    printed["full_map"] = "BENCH_FULL.json"
    by_cost = sorted(timings.items(), key=lambda kv: -kv[1])
    keep = len(by_cost)
    while True:
        printed["queries"] = dict(sorted(by_cost[:keep], key=lambda kv: kv[0]))
        line = json.dumps(printed, separators=(",", ":"))
        if len(line) <= limit or keep <= 5:
            return line
        keep -= 5


def _upgrade_to_full_map(full_path: str, prior: dict | None, sf: float):
    """Return BENCH_FULL.json's complete query map iff it belongs to
    the same run as ``prior`` (every query present in the prior record
    carries the identical timing — the printed subset is always a
    subset of the full map of its own run). None otherwise."""
    if not prior:
        return None
    try:
        with open(full_path) as fh:
            full = json.load(fh)
    except (OSError, ValueError):
        return None
    qs = full.get("queries")
    if not qs or full.get("sf") != sf or len(qs) < len(prior):
        return None
    if all(abs(qs.get(n, -1) - t) < 1e-9 for n, t in prior.items()):
        return qs
    return None


def _latest_prior_bench(repo_dir: str, sf: float):
    """Newest BENCH_r{N}.json with per-query timings at the same sf.

    When the driver's 2000-char stdout window truncated the JSON line
    (``parsed`` is null, as in BENCH_r05.json), per-query pairs are
    recovered by regex from the intact END of the tail — only entries
    cut at the front are lost, which still yields a large common set
    for the ratio."""
    best_n, best = -1, None
    for f in os.listdir(repo_dir):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", f)
        if not m or int(m.group(1)) <= best_n:
            continue
        try:
            with open(os.path.join(repo_dir, f)) as fh:
                data = json.load(fh)
            parsed = data.get("parsed") or data  # driver wraps under "parsed"
            qs, canary, rec_sf = None, None, None
            if isinstance(parsed, dict) and parsed.get("queries"):
                qs = parsed["queries"]
                # best (quiet-host) of the prior start/end canaries —
                # see _prior_io_canary for why min, not start/max
                cvals = [
                    v
                    for v in (
                        parsed.get("canary_sec"),
                        parsed.get("canary_end_sec"),
                    )
                    if v
                ]
                canary = min(cvals) if cvals else None
                rec_sf = parsed.get("sf")
            else:
                tail = data.get("tail") or ""
                # regressions inside vs_prior are (name, RATIO) pairs —
                # cut there so they can't masquerade as timings
                tail = tail.split('"vs_prior"')[0]
                pairs = re.findall(r'"([a-z0-9_]+)":\s*([0-9.]+)', tail)
                qs = {
                    k: float(v)
                    for k, v in pairs
                    if k
                    not in (
                        "sf",
                        "value",
                        "artifact_build_sec",
                        "canary_sec",
                        "canary_end_sec",
                        "io_canary_sec",
                        "io_canary_end_sec",
                        "total_ratio",
                        "canary_ratio",
                        "io_canary_ratio",
                        "n_queries",
                    )
                }
                mm = re.findall(
                    r'"canary(?:_end)?_sec":\s*([0-9.]+)', tail
                )
                canary = min(map(float, mm)) if mm else None
                mm = re.search(r'"sf":\s*([0-9.]+)', tail)
                rec_sf = float(mm.group(1)) if mm else data.get("sf")
            if qs and rec_sf == sf:
                best_n = int(m.group(1))
                best = (f, qs, canary)
        except (OSError, ValueError, AttributeError):
            continue
    return best if best else (None, None, None)


if __name__ == "__main__":
    sys.exit(main())
