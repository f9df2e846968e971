"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a noop sink (full computation, no
driver collect). Run directly: python bench.py
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Representative slice of the inventory: reference write path, query API,
# and each extension family.
HEADLINE = [
    "csv_scan",
    "sha256_key",
    "idempotency_anti_join",
    "status_filter_limit",
    "status_latest_wins",
    "per_file_count",
    "dlq_routing",
    "tpch_q1",
    "exact_dedup",
    "token_stats",
    "quality_score",
    "props_json_extract",
    "tumbling_window_agg",
    "session_window_agg",
    "join_revenue_rollup",
    "topk_cosine",
    "near_dedup",
    "asof_join",
    "range_join_count",
    "hash_split",
    "tpch_q3",
    "tpch_q4",
    "tpch_q6",
    "tpch_q7",
    "tpch_q8",
    "tpch_q12",
    "tpch_q13",
    "tpch_q14",
    "tpch_q15",
    "tpch_q16",
    "tpch_q17",
    "tpch_q18",
    "tpch_q19",
    "tpch_q22",
    # TPC-H completion (round-3 session 3): Q9's five-way star over the
    # derived partsupp and Q21's folded exists/not-exists aggregate are
    # the two with real shuffle work
    "tpch_q9",
    "tpch_q21",
    "pivot_event_counts",
    "cube_agg",
    "pack_sequences",
    "user_event_gaps",
    "media_frames",
    "bm25_search",
    "weighted_sample",
    "dup_passages",
    "interval_join",
    "tpch_q5",
    "tpch_q10",
    "table_profile",
    "funnel_counts",
    "cohort_retention",
    # materialized-index probe paths (the declared 100 TB operating
    # mode): build lands once in the cold pass; best-of-3 measures the
    # probe, which is what a deployment pays per query/batch
    "topk_cosine_indexed",
    "neardup_index_probe",
    # skew stress: 90% of rows on one planted hot key, spread by salting
    "skewed_agg_rollup",
    "skewed_join_rollup",
    # corpus featurization + event path mining (round-3 session 2)
    "tfidf_topn",
    "term_pmi",
    "event_transitions",
    "value_outliers",
    "bm25_indexed",
    "rollup_maintenance",
    "pq_search",
    # round-3 session 3: TPC-H completion's heavy shapes, governance,
    # hybrid retrieval, corpus cleaning, classifier, semantic dedup
    "tpch_q2",
    "tpch_q11",
    "tpch_q20",
    "value_drift_psi",
    "k_anonymity",
    "hybrid_search",
    "boilerplate_removal",
    "quality_classifier",
    "semantic_dedup",
    "event_paths",
    "fuzzy_name_pairs",
    "attribution_credit",
    # round 4: the composite ingest→dedup→quality→pack corpus flow,
    # plus the new training-pipeline rollups (RFM's three global ranks
    # and budget_select's prefix sums are the interesting plans)
    "corpus_pipeline",
    "rfm_segments",
    "budget_select",
    "exact_dedup_weights",
    "embedding_truncate",
    "class_weights",
    # round 4 session 5: graph analytics, model evaluation, SCD2,
    # market basket, n-gram LM, preference pairs, MI, skyline
    "pagerank",
    "classifier_eval",
    "decile_lift",
    "ndcg_eval",
    "scd2_build",
    "copurchase_lift",
    "bigram_lm",
    "preference_pairs",
    "mutual_info",
    "skyline_pareto",
    "triangle_count",
    "gap_fill",
    "bfs_reachability",
    # round 4 session 6: statistics/experimentation + survival/EWMA/MAD
    "corr_matrix",
    "column_entropy",
    "gini_concentration",
    "ab_conversion_ztest",
    "target_encoding",
    "kaplan_meier",
    "ewma_smooth",
    "anomaly_mad",
    "zipf_fit",
    "chi2_independence",
    "mann_whitney",
    "benford_profile",
    "autocorrelation",
    "seasonal_profile",
    "cusum_drift",
    "lorenz_curve",
    "rolling_zscore",
    "winsorized_stats",
    "calibration_curve",
    "hhi_concentration",
    "dup_rate_by_source",
    # round 4 session 7: oracle-verifiable mergeable sketches +
    # resampling inference
    "kmv_distinct",
    "countmin_freq",
    "kmv_join_estimate",
    "kmv_rollup",
    "jackknife_mean",
    "jackknife_ratio",
    "permutation_test",
    "forecast_backtest",
    "cuped_adjust",
    # round 4 session 8: ranked JW linkage, robust trend, z-order zone
    # map, distributed PCA
    "jaro_winkler_topk",
    "theilsen_trend",
    "zorder_zonemap",
    "forecast_conformal",
    "golden_record",
    # round 5: the clusters path (fixed pointer-doubling convergence)
    # measured at sf0.1, per VERDICT r4 item 4
    "entity_resolution",
    "histogram_quantile_rollup",
    "distinct_rollup",
    "range_checksum_diff",
    "neyman_allocation",
    "poisson_bootstrap",
    "pca_project",
    # round 5: containment screen, bigram-LM familiarity filter,
    # deterministic per-group sampling
    "ngram_containment",
    "doc_lm_familiarity",
    "group_reservoir_sample",
    "leakage_safe_split",
    # round 5 session 2: KS drift, Mahalanobis outliers, DSIR
    # importance weights, oracle-verifiable MinHash-LSH
    "ks_test",
    "mahalanobis_anomaly",
    "dsir_weights",
    "minhash_jaccard",
    # round 6: oracle-verifiable SimHash + integer-exact embedding LSH,
    # cross-source quantile calibration, two-rater label-QA kappa
    "simhash_hamming",
    "embedding_lsh_cosine",
    "quality_quantile_normalize",
    "cohens_kappa",
    "mrr_recall_eval",
    "token_yield_report",
    "substring_fingerprint_dups",
    "margin_knn_match",
    # round 6 session 2: quality gates, interval/engagement rollups,
    # blocking eval, experiment sizing, PRF/MMR retrieval, DTW, Hilbert
    "gopher_rules",
    "interval_merge",
    "active_user_rollup",
    "blocking_eval",
    "blocking_eval_sampled",
    "ab_power",
    "rocchio_expand",
    "mmr_rerank",
    "dtw_distance",
    "hilbert_zonemap",
    "cross_corr_lag",
    "frequent_itemsets",
    "nelson_aalen",
    "did_estimator",
    "seasonal_decompose",
    "bloom_size_planner",
    "burstiness",
    "vocab_growth",
    # round 7: oracle twins for the media pair pipeline + k-means
    # E-step, robust/categorical/trend statistics, corpus-mixing
    # diagnostics, JL sign projection
    "media_md5_near_dup",
    "kmeans_literal_assign",
    "trimmed_mean",
    "mann_kendall",
    "chisq_independence",
    "zipf_slope",
    "cross_source_overlap",
    "source_info_gain",
    "jl_project",
    "runs_test",
    "wasserstein_value_drift",
    "srm_check",
    "acf_daily",
    "hill_tail_index",
    "source_hhi",
    "hash_uniformity_audit",
    "markov_entropy_rate",
    "dup_cluster_histogram",
    "new_user_share",
    "near_dup_threshold_sweep",
    "embedding_norm_profile",
    "unimax_weights",
    "propensity_match",
    "degree_assortativity",
    "covariate_balance",
    "weighted_quantiles",
    "doc_char_entropy",
    "changepoint_detect",
    "holt_winters",
    "funnel_time_percentiles",
    # round-8 additions
    "pq_literal_adc",
    "ivf_literal_probe",
    "embedding_clip_bounds",
    "dup_ngram_ratio",
    "kruskal_wallis",
    "sprt_ab_test",
    "vocab_coverage_estimate",
    "spearman_activity_value",
    "top_terms_drift",
    "media_byte_entropy",
    "rbo_bm25_length_norm",
    "lang_label_audit",
    "overdispersion_index",
    "activation_latency",
    "media_type_sniff",
    "lsh_band_planner",
    "logrank_test",
    "event_freshness",
    "embedding_distance_profile",
    # round-9 additions
    "pca_literal_project",
    "bpe_literal_encode",
    "sprt_daily_ledger",
    "embedding_centroid_drift",
    "time_split_embargo",
    "dedup_survivor_select",
    "length_curriculum",
]


def run_bench(
    spark,
    queries,
    headline: list[str],
    sf_dir: str,
    sf,
    passes: int = 4,
) -> tuple[dict, dict[str, str]]:
    """Run `passes` timed passes over `headline`, best-of-passes per
    query, with per-query failure isolation: one crashing query must
    never void the whole artifact (round 4 lost all bench numbers to a
    single failure at position 126/133). A failed query records an
    error string and an absent timing; the pass continues. Returns
    (detail dict, errors dict)."""
    errors: dict[str, str] = {}

    def run_pass() -> dict[str, float]:
        timings: dict[str, float] = {}
        for name in headline:
            if name in errors:
                continue  # already failed once; don't pay it again
            fn = queries[name]
            t0 = time.monotonic()
            try:
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — isolate, record, continue
                msg = f"{type(exc).__name__}: {exc}"
                errors[name] = msg[:300]
                print(f"# ERROR {name}: {errors[name]}", file=sys.stderr)
                continue
            timings[name] = round(time.monotonic() - t0, 3)
        return timings

    # Identical passes; the headline per-query number is the per-query
    # MINIMUM across passes (best-of-N).  Rationale: pass 1 pays
    # one-time Janino whole-stage-codegen compile per query (3-5x on
    # the cheapest queries — irrelevant on a long-running cluster where
    # compile amortizes over minutes-long stages), and the shared host
    # shows transient multi-second stalls that can hit any single pass
    # (observed: the same query at 0.7 s and 29.5 s in back-to-back
    # runs with an idle machine in between).  min-of-passes measures
    # the plan's actual execution cost; the cold and per-pass
    # breakdowns are all preserved in the JSON so nothing is hidden.
    cold = run_pass()
    for name, t in cold.items():
        print(f"# cold {name}: {t}s", file=sys.stderr)
    warm = [run_pass() for _ in range(max(0, passes - 1))]
    best = {
        name: min(
            t
            for t in [cold.get(name)] + [w.get(name) for w in warm]
            if t is not None
        )
        for name in headline
        if name not in errors
    }

    total = round(sum(best.values()), 3)
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": best,
        "queries_cold": cold,
        "cold_total": round(sum(cold.values()), 3),
        "queries_warm": warm,
        "warm_totals": [round(sum(w.values()), 3) for w in warm],
        "errors": errors,
        "drift": compute_drift(best),
        "sf": sf,
    }
    return detail, errors


# Cross-round regression tracking (VERDICT r5 item 1): compare this
# run's per-query minima against the committed prior-round snapshot so
# a slowdown is a named artifact entry, not a hand-diff of BASELINE.md
# prose. Refresh bench_baseline.json from bench_detail.json when a
# round's numbers are accepted.
BASELINE_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_baseline.json")
DRIFT_FACTOR = 1.5  # flag queries slower than this vs baseline
DRIFT_MIN_SEC = 0.3  # ignore sub-300ms noise on the cheapest queries


def compute_drift(best: dict[str, float]) -> dict:
    """Return {baseline_round, factor, regressed: {name: [base, now]},
    missing: [...]} vs bench_baseline.json; empty-ish when absent."""
    try:
        with open(BASELINE_PATH) as f:
            base = json.load(f)
    except (OSError, json.JSONDecodeError):
        return {"baseline_round": None, "regressed": {}, "missing": []}
    bq = base.get("queries", {})
    regressed = {
        n: [bq[n], t]
        for n, t in best.items()
        if n in bq and t > max(bq[n] * DRIFT_FACTOR, DRIFT_MIN_SEC)
    }
    missing = sorted(n for n in bq if n not in best)
    return {
        "baseline_round": base.get("round"),
        "factor": DRIFT_FACTOR,
        "regressed": regressed,
        "missing": missing,
    }


# The driver captures (and parses from) a 2000-char tail of this
# process's output; the compact line must fit inside it WITH its
# trailing newline, so leave a small safety margin.
LINE_BUDGET = 1960


def compact_line(detail: dict, headline: list[str], detail_path: str) -> str:
    """Build the ONE stdout line the driver parses, degrading gracefully
    (3dp -> 2dp minima -> drop pass totals -> greedy named map +
    decisecond array) so the line always fits the driver's 2000-char
    output tail."""
    best = detail["queries"]
    errors = detail["errors"]
    total = detail["value"]
    sf = detail["sf"]
    # compact drift: worst 6 regressions by ratio (full map in detail
    # file) so the driver artifact names slowdowns without blowing the
    # line budget on a noisy-host round
    drift_full = detail.get("drift", {})
    reg = drift_full.get("regressed", {})
    worst = sorted(reg.items(), key=lambda kv: -(kv[1][1] / kv[1][0]))[:6]
    drift = {
        "baseline_round": drift_full.get("baseline_round"),
        "n_regressed": len(reg),
        "worst": {n: v for n, v in worst},
    }
    candidates = [
        {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "queries": q,
            **extra,
            "drift": drift,
            "sf": sf,
        }
        for q, extra in (
            (best, {"cold_total": detail["cold_total"], "warm_totals": detail["warm_totals"]}),
            ({k: round(v, 2) for k, v in best.items()},
             {"cold_total": detail["cold_total"], "warm_totals": detail["warm_totals"]}),
            ({k: round(v, 2) for k, v in best.items()}, {}),
            ({k: round(v, 1) for k, v in best.items()}, {}),
        )
    ]
    if errors:
        for cand in candidates:
            cand["failed"] = sorted(errors)
    # Past ~95 queries even 1-dp named minima overflow the budget: the
    # names alone for the full suite are ~3.2 KB (sum of name lengths)
    # + ~1.4 KB of JSON syntax, and the driver parses a JSON object
    # that must START inside its 2000-char output tail (measured:
    # every BENCH_rN artifact stores exactly 2000 tail chars; r2/r3's
    # over-long lines came back parsed:null) — full named coverage is
    # physically impossible. Final fallback (r10, VERDICT r9 item 1):
    # a NAMED "queries" map filled greedily slowest-first until the
    # line budget is spent — the slow queries carry ~80% of total wall
    # and are the only ones where a per-query delta clears host noise
    # — plus EVERY per-query minimum as a decisecond array in bench.py
    # HEADLINE order (self-described), plus the detail-file pointer
    # for the complete named map.
    by_time = sorted(best.items(), key=lambda kv: (-kv[1], kv[0]))
    fallback = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(headline),
        "queries": {},
        "queries_named_of": len(best),
        # -1 marks a failed query (see "failed" list)
        "queries_ds_in_headline_order": [
            int(round(best[n] * 10)) if n in best else -1 for n in headline
        ],
        **({"failed": sorted(errors)} if errors else {}),
        "drift": drift,
        "cold_total": detail["cold_total"],
        "warm_totals": detail["warm_totals"],
        "detail": detail_path,
    }
    named: dict[str, float] = {}
    for name, t in by_time:
        named[name] = round(t, 2)
        fallback["queries"] = named
        if len(json.dumps(fallback, separators=(",", ":"))) > LINE_BUDGET:
            del named[name]
            continue
    fallback["queries"] = named
    candidates.append(fallback)
    for cand in candidates:
        line = json.dumps(cand, separators=(",", ":"))
        if len(line) <= LINE_BUDGET:
            return line
    return line


def main() -> None:
    if not os.path.isdir(SF_DIR):
        print(
            f"error: SPARK_GRAFT_SF_DIR={SF_DIR!r} is not a directory", file=sys.stderr
        )
        raise SystemExit(2)

    from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.plans import (
        QUERIES,
    )
    from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.session import (
        get_spark,
    )

    spark = get_spark(app_name="bench", cpus=CPUS)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(sf)
    except ValueError:
        sf = None

    # warm up the JVM + file listing + Python worker fleet once so
    # per-query timings measure compute, not first-touch session/scan/
    # worker-spawn initialization (the Python seam pays ~7 s to launch
    # one worker per core the first time it is exercised)
    spark.range(1000).count()
    QUERIES["per_file_count"](spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.range(0, 10_000, 1, int(CPUS)).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long"
    ).write.format("noop").mode("overwrite").save()

    detail, _errors = run_bench(spark, QUERIES, HEADLINE, SF_DIR, sf, passes=4)

    # Full per-pass breakdown goes to a file + stderr; stdout gets ONE
    # compact line (per-query minima + totals only). The driver captures
    # a bounded tail of stdout — rounds 1-3 overflowed it with the
    # per-pass dicts and every BENCH_rN.json came back "parsed": null.
    detail_path = os.path.join("spark-warehouse", "bench_detail.json")
    os.makedirs("spark-warehouse", exist_ok=True)
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    print(f"# full per-pass detail written to {detail_path}", file=sys.stderr)
    print("# " + json.dumps(detail), file=sys.stderr)
    print(compact_line(detail, HEADLINE, detail_path))
    spark.stop()


if __name__ == "__main__":
    main()
