#!/usr/bin/env python
"""Benchmark the engine's headline queries.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": "...", "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed end-to-end (plan + execute + collect-to-driver count).
The one-time parquet ns->us normalization (see catalog._normalize_nanos) is
done before timing starts — it is ingest ETL, not query work.

HEADLINER BUDGET POLICY (round 13, verdict r12 task 7).  What benches:

- STEADY-STATE work a production deployment pays per call: query plans,
  serving probes against fixture-cached indexes/stores (the
  knn_ivfpq_index_top5 / bm25_index_top10 framing), per-batch folds
  against a prebuilt store (rollup_steady_state_hourly), and compliance
  loops over hardlink store farms where the farm costs ~0.03s and the
  timed wall is the erase/maintenance work itself
  (erase_users_everywhere, maintain_everywhere_probe).
- NOT benched (correctness-gated only, each with a reason comment
  below): training compositions whose cost another headliner already
  prices (erase_rebuild_models, knn_ivfpq_rot_planted_top5), Structured
  Streaming producers (stream startup, not plan work), and probes whose
  wall is per-call FIXTURE BUILD or from-scratch ORACLE recompute
  rather than the operator (retention_expiry_probe,
  schema_evolution_probe; round 13 retired erase_rollup_probe and
  erase_ivm_probe to this class — their erase cost is SCALE-certified
  flat by erase_rollup_fixed_request / erase_ivm_fixed_request, and
  their benched wall priced fixture + recompute).
- Retirement is recorded in PROGRESS.jsonl; a retired query stays in
  the registry and the driver correctness gate — only the bench
  population changes.

RAW-WALL TAG (verdict r12 task 4): queries in RAW_WALL are
OVERHEAD-BOUND — their wall is fixed per-call cost (index-probe stats
reads, persist-build job count), not scan/shuffle proportional to the
calibration probe's work, so dividing them by machine drift FABRICATES
movement (PLANS.md round-12 adjudication: raw walls matched r11 on a
machine the calibration measured 34% slower).  They are excluded from
queries_normalized/value_normalized and reported raw in
raw_wall_queries instead.  Qualification criterion for adding a name:
a SPARK_GRAFT_BENCH_ONLY control run showing the query's raw wall
stable (±~15%) across sessions whose calibration drift differs by
>25% — i.e. measured calibration-insensitivity, not a hunch.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_nation_revenue",
    "q6_forecast_revenue",
    "left_join_order_counts",
    "having_count_distinct",
    "window_rank_top3_orders",
    "window_running_sum",
    "correlated_subquery_above_nation_avg",
    "setop_union_all_counts",
    # round 5: disjunctive pushdown + count-of-counts LEFT JOIN shapes
    "q19_disjunctive_revenue",
    "q13_customer_distribution",
]

# extension headliners are appended once implemented; keep bench robust to
# missing names so it never breaks the driver loop
EXTENSION_HEADLINE = [
    "dedup_exact_documents",
    "dedup_minhash_pairs",
    "text_quality_scores",
    "knn_brute_force_top5",
    "knn_ivf_top5",
    "asof_join_purchase_click",
    "range_join_purchase_error_5m",
    "events_tumbling_hourly",
    "events_session_30m",
    "salted_agg_event_type",
    "grouped_zscore_pandas",
    "multimodal_features",
    "pipeline_clean_corpus",
    "text_tfidf_top_terms",
    "events_funnel_conversion",
    "dedup_clusters_bigstar",
    # round 4 additions
    "merge_upsert_documents",
    "sketch_quantiles",
    "fingerprint_drift",
    "semdedup_keep",
    # round 5 additions
    "dedup_incremental_store",
    "q7_volume_shipping",
    "dsir_resample_top200",
    "export_training_shards",
    "rollup_incremental_hourly",
    # round 6: steady-state maintenance cost (one batch vs prebuilt store)
    "rollup_steady_state_hourly",
    "knn_pq_top5",
    # round 5: maintenance/governance family
    "diff_orders_versions",
    "scd2_customer_history",
    "pagerank_event_transitions",
    "bpe_pair_stats",
    # round 6: MOSS fingerprinting + CCNet bucketing
    "winnowing_fingerprints",
    "ccnet_perplexity_buckets",
    # round 7: multimodal pHash near-dup, exact-oracled trained IVF,
    # span removal after the interval-merge/token-table rebuild
    "multimodal_phash_pairs",
    "knn_ivf_trained_planted_top5",
    "remove_repeated_spans",
    # round 8: IVFADC composed ANN, join-aggregate IVM, entity resolution
    "knn_ivfpq_top5",
    "ivm_nation_revenue",
    "er_customer_entities",
    # streaming twins are correctness-gated, not benched (the ~9s is
    # Structured Streaming query startup + state-store setup, not plan
    # work — same reason streaming_rollup_hourly etc. are absent)
    "pack_sequences_cap128",
    "ivm_dim_rebase",
    "bm25_search_top10",
    "neardup_triangle_counts",
    "knn_ivfpq_index_top5",
    # round 8 (late): in-engine NB quality classifier (train + score),
    # two-stage hybrid retrieval (BM25 shortlist -> cosine re-rank)
    "quality_nb_seed_scores",
    "hybrid_search_top10",
    # round 8 (late): index-served BM25 steady-state probe (fixture-cached
    # index, same framing as knn_ivfpq_index_top5)
    "bm25_index_top10",
    # round 9: composed right-to-be-forgotten across the persistence
    # surface (primary + inverted index + signature store/sidecar + SCD2),
    # and the exact-oracled six-round BPE tokenizer trainer.  Since round
    # 10 the per-call store farm is HARDLINKS (0.03s metadata, was a byte
    # copy), so the timed wall is the erase+audit loop itself.
    "erase_users_everywhere",
    "bpe_train_merges",
    # round 13 (budget policy): erase_rollup_probe and erase_ivm_probe
    # RETIRED from the bench population — their benched wall priced the
    # per-call fixture + the from-scratch oracle recompute, not the
    # retraction (which erase_rollup_fixed_request /
    # erase_ivm_fixed_request certify FLAT at 64x in SCALE.md).  Both
    # remain registry + driver correctness-gated.  erase_feed_probe was
    # never benched: its wall is Structured Streaming startup for the
    # feed PRODUCER, not erase work.
    # round 11: governance release (suppressed + seeded-Laplace counts)
    "dp_release_lang_source",
    # round 11 (late): JL-projected kNN — prices the projection fold +
    # projected-space scan (the routing/blocking primitive, ANN.md).
    # subject_access_probe / feed_time_travel are correctness-gated, not
    # benched (their wall is the Structured Streaming feed PRODUCER, the
    # same reason erase_feed_probe is absent); retention_expiry_probe's
    # wall is the fixture store write around a 0.00s metadata expiry
    # (SCALE.md) — benching it would price the fixture.
    # schema_evolution_probe is correctness-gated for the same reason:
    # the evolution itself is one registry rename; the probe's wall is
    # its per-call store build + merge + erase, all priced elsewhere.
    "knn_jl_top5",
    # round 11 (late): distributed PCA — prices the dim^2-bounded
    # covariance fold + the in-plan power iteration + row-local projection
    "pca_pc1_scores",
    # round 12: the composed nightly maintenance pass (hardlink farm of a
    # debris-laden 7-store fixture; the timed wall is heal + census-gated
    # compaction + retention + sidecar sync + the audit itself)
    "maintain_everywhere_probe",
    # round 12: OPQ-lite rotated IVFADC, SERVING path (fixture-cached
    # rotated index — the knn_ivfpq_index_top5 discipline): prices the
    # model+rotation reads, frame-path query rotation, pruned code scan
    # and exact rerank.  The TRAINING composition
    # (knn_ivfpq_rot_planted_top5: covariance fold + eigenbasis + rotated
    # encode in-query, ~19s warm at sf0.1) stays correctness-gated — its
    # training cost is already priced by knn_ivfpq_top5 + pca_pc1_scores,
    # so benching it would double-count training in the headline total.
    "knn_ivfpq_rot_index_top5",
    # round 12: audio near-dup — windowed DCT fingerprint + the shared
    # banded-hamming pair machinery with the planted group + cap
    "multimodal_audio_pairs",
    # round 10: erase_rebuild_models is correctness-gated, not benched —
    # it deliberately trains the IVFPQ/NB/HLL stores TWICE (full corpus,
    # then post-erase retrain) to prove rebuilt == never-saw-the-subjects,
    # ~29s at sf0.1; its training cost is already priced by
    # knn_ivfpq_top5/quality_nb_seed_scores, so benching it would double-
    # count training in the headline total.
]


# Fixed calibration probe: run before AND after the population,
# committed to the detail file.  Four of ten rounds produced a spurious
# uniform 1.1-1.4x wall drift that cost a controlled experiment to
# dismiss as machine contention; the calibration separates machine from
# code without reconstruction — a code regression moves ONE query
# against a flat calibration, machine drift moves the calibration
# itself.  BENCH_CALIBRATION.json (committed once, from a quiet run)
# anchors `drift_vs_reference`; `queries_normalized` divides the raw
# timings by that drift so rounds stay comparable.
# Overhead-bound headliners (module docstring: RAW-WALL TAG) — excluded
# from drift normalization, reported raw.  Membership requires the
# documented BENCH_ONLY calibration-insensitivity evidence (PLANS.md
# round-12 adjudication covers these two; re-qualified against the v2
# probe in the round-14 loaded/idle control — PLANS.md round-14 note).
RAW_WALL = {
    "bm25_search_top10",
    "ccnet_perplexity_buckets",
}

# PROBE v2 (round 14, verdict r13 task 2).  The original probe was
# eight sub-second queries; the round-13 same-code run series proved it
# measures SCHEDULER NOISE, not machine speed — the probe swung 46%
# across runs whose multi-second headliners moved ~2%, forcing a
# best-raw-at-clean-drift archaeology every round.  v2 is five
# MULTI-SECOND, corpus-proportional population members chosen to span
# the population's work shapes, so probe movement tracks the heavy
# median by construction (validated by the round-14 loaded-vs-idle
# control series, PLANS.md: under 24 full-priority hogs the probe and
# the >2s-heavy median agreed within 8%; under 64 hogs — 3x CPU
# oversubscription — the four CPU/shuffle members moved a uniform
# 1.95-2.31x, tracking the CPU-bound heavies (2.0-2.8x) but
# over-reading the mixed heavy MEDIAN (1.77x) by ~19%, which is why
# the fifth, store-I/O-shaped member is part of the probe: it pulls
# the blend onto the population mix, landing within the ±10% band at
# both load levels):
#   q3_top_orders            — relational scan + shuffle join + top-k
#   dedup_minhash_pairs      — interpreted CPU fold + LSH shuffle
#   multimodal_phash_pairs   — posexplode + broadcast join + codegen fold
#   semdedup_keep            — vector distance CPU + grouped shuffle
#   rollup_incremental_hourly — persisted-store fold: scan + merge I/O
# drift_vs_reference values before round 14 used the v1 probe and are
# NOT comparable to v2 drifts; BENCH_CALIBRATION.json was re-anchored.
_CALIBRATION = [
    "q3_top_orders",
    "dedup_minhash_pairs",
    "multimodal_phash_pairs",
    "semdedup_keep",
    "rollup_incremental_hourly",
]


def _run_calibration(spark, queries, sf_dir, cleanup) -> dict[str, float]:
    out: dict[str, float] = {}
    for name in _CALIBRATION:
        fn = queries.get(name)
        if fn is None:
            continue
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            runs.append(round(time.perf_counter() - t0, 3))
            cleanup()
        out[name] = min(runs)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from localsql_spark.session import get_spark
    from localsql_spark.workload import all_queries, load

    # Fixed, pre-touched heap: with the default growable heap, the JVM's
    # incremental expansion under cache/shuffle pressure shows up as kernel
    # page-fault storms MID-QUERY (profiled: slow runs carry 60% system CPU
    # and swing 1.7s -> 9.8s on the same query; with -Xms=-Xmx and
    # AlwaysPreTouch, sys% drops to ~2% and every post-first run lands
    # within noise of steady state).  The zeroing cost moves to session
    # startup, BEFORE timing starts — exactly where a long-lived engine
    # pays it.  Heap size stays env-overridable for the scale harness.
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", "16g")
    spark = get_spark(app_name="localsql_spark_bench", extra_conf={
        "spark.driver.memory": heap,
        "spark.driver.extraJavaOptions": f"-Xms{heap} -XX:+AlwaysPreTouch",
    })
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    load(spark, sf_dir)  # triggers one-time ns->us normalization pre-timing

    # JVM/codegen + Python-worker warmup (standard practice: JIT the
    # agg/join/scan, higher-order-function, window, and Arrow codepaths once
    # so the first timed query isn't charged for compiler/worker startup)
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    spark.range(0, 1_000_000).agg(F.sum("id")).collect()
    spark.table("region").join(spark.table("nation"),
                               F.col("r_regionkey") == F.col("n_regionkey")
                               ).count()
    (spark.range(0, 10_000)
     .select(F.aggregate(F.sequence(F.lit(1), F.lit(64)),
                         F.lit(0).cast("decimal(28,12)"),
                         lambda a, x: (a + x.cast("decimal(28,12)"))
                         .cast("decimal(28,12)")).alias("s"),
             F.row_number().over(Window.partitionBy(F.col("id") % 7)
                                 .orderBy("id")).alias("rn"))
     .agg(F.sum("s"), F.max("rn")).collect())
    (spark.range(0, 1000).mapInPandas(lambda it: it, "id long").count())
    # minhash/simhash folds run on Catalyst's INTERPRETED higher-order-
    # function path (ArrayAggregate/ZipWith are codegen-fallback); warm the
    # expression classes on 64 synthetic rows (no benchmark data touched).
    # NOTE (round 5 profile): this JIT warmup is a minor effect — the
    # dominant first-run cost is one-time plan/codegen compilation, and the
    # mid-run swings were heap-growth page faults, fixed by the pre-touched
    # fixed heap above.
    from localsql_spark.operators.dedup import minhash_signature, simhash32
    warm_txt = F.concat_ws(" ", *[F.concat(F.lit(f"w{i}"), (F.col("id") % 7)
                                           .cast("string"))
                                  for i in range(12)])
    (spark.range(0, 64).select(warm_txt.alias("t"))
     .select(minhash_signature("t").alias("sig"), simhash32("t").alias("sh"))
     .agg(F.max("sh"), F.max(F.element_at("sig", 1))).collect())

    from localsql_spark.operators import cleanup as _op_cleanup

    def cleanup() -> None:
        # release operator-persisted intermediates AND drop Python refs
        # so the ContextCleaner can free accumulated localCheckpoint
        # blocks / broadcasts from earlier queries (session aging: the
        # r14 report measured semdedup_keep 4.77s in-population vs 2.4s
        # isolated in the same run).  Runs OUTSIDE the timed region.
        import gc

        _op_cleanup()
        gc.collect()

    # one DISCARDED warmup pass of the calibration probe before the timed
    # pre pass: the r11 detail showed pre_total 1.7x post_total on
    # identical queries (first-touch plan/codegen cost landing on the pre
    # pass), which made the pre numbers meaningless for drift reading —
    # drift correctly used POST only.  Warming the probe queries first
    # makes pre and post converge, so pre-vs-post spread now measures
    # WITHIN-RUN machine movement instead of warmup (r11 verdict item).
    _run_calibration(spark, queries, sf_dir, cleanup)
    cal_pre = _run_calibration(spark, queries, sf_dir, cleanup)
    print(f"# calibration(pre): {json.dumps(cal_pre)}", file=sys.stderr)

    names = HEADLINE + [n for n in EXTENSION_HEADLINE if n in queries]
    # profiling hook: SPARK_GRAFT_BENCH_ONLY="a,b,c" restricts the run to a
    # subset (population-effect control experiments — see PLANS.md notes)
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        keep = {n.strip() for n in only.split(",") if n.strip()}
        names = [n for n in names if n in keep]
    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    for name in names:
        if name not in queries:
            continue
        fn = queries[name]
        # min of 2 runs: single-shot numbers swung 2-4x run-to-run on the
        # shared machine (GC, page cache, compaction) — the repeated-run
        # minimum is the standard steady-state measure and is what a
        # long-lived engine actually delivers; methodology recorded in the
        # JSON as runs_per_query/timing so rounds stay comparable.
        run_times, n_rows = [], 0
        for _ in range(2):
            t0 = time.perf_counter()
            n_rows = fn(spark, sf_dir).count()
            run_times.append(round(time.perf_counter() - t0, 3))
            cleanup()  # release operator-persisted intermediates per run
        if min(run_times) > 2.0:
            # expensive headliners (>2s) get a THIRD run: they dominate
            # the total, so a one-off contention spike on one of two runs
            # moves the round's headline; min-of-3 halves that exposure
            t0 = time.perf_counter()
            n_rows = fn(spark, sf_dir).count()
            run_times.append(round(time.perf_counter() - t0, 3))
            cleanup()
        timings[name] = min(run_times)
        all_runs[name] = run_times
        print(f"# {name}: {timings[name]:.3f}s ({n_rows} rows) "
              f"runs={run_times}", file=sys.stderr)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    # Full per-run detail goes to STDERR: round 5 embedded `runs` in the
    # final stdout line and the line outgrew the driver's tail capture
    # (BENCH_r05.json recorded parsed:null); round 9's per-query `queries`
    # map itself outgrew the 2000-byte tail at 61 headliners
    # (BENCH_r09.json parsed:null).  The LAST stdout line must stay compact
    # at ANY headliner count: summary only, per-query map to a detail file
    # (next to this script) and stderr.
    cal_post = _run_calibration(spark, queries, sf_dir, cleanup)
    print(f"# calibration(post): {json.dumps(cal_post)}", file=sys.stderr)
    calibration = {
        "probe": [n for n in _CALIBRATION if n in cal_pre],
        "pre": cal_pre, "post": cal_post,
        "pre_total": round(sum(cal_pre.values()), 3),
        "post_total": round(sum(cal_post.values()), 3),
    }
    # drift uses the FASTER of the two passes (v2 probe): both passes run
    # pre-warmed multi-second queries, and the slowness sources this
    # probe exists to detect (co-tenant load, within-run session aging —
    # the round-14 idle run measured post_total 14.4s vs pre_total 9.6s
    # on the same code and machine) are strictly ADDITIVE, so the faster
    # pass is the closer estimate of the machine's capability for the
    # run.  Both passes stay recorded; their spread bounds how much the
    # environment moved DURING the run.
    drift = None
    ref_path = Path(__file__).resolve().parent / "BENCH_CALIBRATION.json"
    if ref_path.exists():
        try:
            ref_total = json.loads(ref_path.read_text())["total"]
            drift = round(min(calibration["pre_total"],
                              calibration["post_total"]) / ref_total, 4)
        except (ValueError, KeyError, ZeroDivisionError):
            drift = None
    calibration["drift_vs_reference"] = drift

    print(f"# runs: {json.dumps(all_runs)}", file=sys.stderr)
    print(f"# queries: {json.dumps(timings)}", file=sys.stderr)
    detail = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "runs": all_runs,
        "sf": sf_val,
        "runs_per_query": "2 (3 when min > 2s)",
        "timing": "min",
        "calibration": calibration,
    }
    if drift:
        # RAW_WALL queries are overhead-bound: dividing them by drift
        # fabricates movement (module docstring).  They are kept OUT of
        # queries_normalized/value_normalized entirely (advice r13:
        # folding their raw walls into the normalized sum mixed units in
        # one aggregate) and reported in their own raw_wall_* keys;
        # cross-round comparisons use value_normalized + raw_wall_total
        # as two separately-based series.
        detail["queries_normalized"] = {
            k: round(v / drift, 3) for k, v in timings.items()
            if k not in RAW_WALL}
        detail["raw_wall_queries"] = {
            k: round(v, 3) for k, v in sorted(timings.items())
            if k in RAW_WALL}
        detail["raw_wall_total"] = round(
            sum(detail["raw_wall_queries"].values()), 3)
        detail["value_normalized"] = round(
            sum(detail["queries_normalized"].values()), 3)
    # a SPARK_GRAFT_BENCH_ONLY subset run must not clobber the committed
    # full-population detail file — subset details go to a sibling
    detail_name = "BENCH_DETAIL_SUBSET.json" if only else "BENCH_DETAIL.json"
    detail_path = Path(__file__).resolve().parent / detail_name
    detail_path.write_text(json.dumps(detail, indent=1) + "\n")
    print(json.dumps({
        "metric": "headline_queries_total_wall",
        "value": detail["value"],
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "runs_per_query": detail["runs_per_query"],
        "timing": "min",
        "calibration_drift": drift,
        "detail_path": str(detail_path),
    }))


if __name__ == "__main__":
    main()
