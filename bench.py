"""Benchmark harness: times the headline catalog queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], printing two JSON lines: the full record
{"metric": ..., "value": total_sec, "unit": "sec",
 "queries": {name: sec, ...}, "sf": ..., "startup_sec": ...}
and then, last, its compact headline form (``compact_record``), which
keeps the headline per-query seconds under 2 KB for tail captures.

Each query executes fully via the noop sink (no driver collect
dominance, no result materialization cost in the timing). Session
startup is reported separately (BASELINE.md protocol) since the JVM
spin-up dominates at small scale and is amortized to zero on a real
cluster.
"""

from __future__ import annotations

import json
import os
import sys
import time


HEADLINE = [
    "wordcount",
    "wordcount_topk",
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_revenue",
    "q6_discount_revenue",
    "q8_market_share",
    "q9_profit_by_nation_year",
    "q13_order_count_distribution",
    "q18_large_order_customers",
    "window_topk_orders_per_cust",
    "window_running_user_spend",
    "asof_join_purchase_signup",
    "sessionize_events",
    "json_extract_event_stats",
    "text_stats",
    "dedup_exact",
    # the raw LSH pair-set computation, benched as "dedup_minhash_lsh"
    # through r4; renamed when the oracle-checked acceptance formulation
    # took over that catalog name (same computation, same timing basis)
    "dedup_minhash_lsh_pairs",
    "dedup_ngram_jaccard",
    "embedding_cosine_topk",
]

# round-2 additions, timed identically but reported under
# "extra_queries" so "value" stays comparable with BENCH_r01
EXTRA = [
    "bm25_topk_docs",
    "unigram_logprob_scores",
    "pmi_collocations",
    "token_budget_sample_per_source",
    "chunk_documents_sliding",
    "embedding_filtered_topk",
    "decontaminate_ngram_overlap",
    "dedup_incremental_batch",
    "embedding_quantized_topk",
    "corpus_prep_pipeline",
    "key_skew_event_users",
    # round-4 additions
    "dedup_bloom_incremental",
    "heavy_hitter_users",
    "fuzzy_match_part_names",
    "asof_forward_next_purchase",
    "kmeans_cluster_profile",
    "variant_props_stats",
    "ewma_user_value",
    "funnel_signup_view_purchase",
    "retention_cohorts_weekly",
    "merge_upsert_orders",
    "gram_matrix_embeddings",
    "selection_quantiles_order_price",
    "dq_expectations_orders",
    "hopping_window_event_value",
    "revenue_share_within_region",
    "hll_partial_union_daily_users",
    "pps_sample_documents",
    "ntile_customer_value_quartiles",
    "grouping_id_rollup_orders",
    "pattern_purchase_no_error_between",
    "kfold_assignment_counts",
    "xty_embeddings_label",
    "corr_quantity_price_by_flag",
    "snapshot_diff_orders",
    "scd2_customer_priority",
    "time_weighted_avg_user_value",
    "sliding_distinct_users_3d",
    "boilerplate_shingle_ratio",
    "token_entropy_docs",
    "mad_outlier_orders",
    "temperature_source_weights",
    "dedup_containment",
    "rolling_zscore_events",
    "new_vs_returning_users_daily",
    "interpurchase_time_stats",
    "basket_part_pairs_lift",
    "event_transition_matrix",
    "near_dedup_keepset",
    "lateral_top2_orders_per_customer",
    "chi2_lang_source",
    "psi_price_drift",
    "ks_price_drift",
    "bigram_logprob_scores",
    "winsorized_price_stats",
    "bucketed_auc_embeddings",
    "weekly_churn_users",
    "pareto_price_buckets",
    "forward_fill_last_purchase",
    "filtered_agg_orders",
    "hard_negatives_topk",
    "negative_sampling_pairs",
    "cms_word_counts",
    "welch_ttest_price_by_status",
    "benford_first_digit_prices",
    "user_value_trend",
    "quantile_merge_daily_value",
    "readability_scores",
    "modal_event_type_per_user",
    "monthly_revenue_growth",
    "longest_activity_streak",
    "session_conversion_rate",
    "grouping_sets_distinct_users",
    "zipf_slope_vocabulary",
    "classifier_eval_metrics",
    "latest_event_per_user",
    "order_fulfillment_lag_stats",
    "dedup_threshold_sensitivity",
    "session_window_batch_counts",
    "approx_topk_words_acceptance",
    "bpe_learn_merges",
    "quality_stratified_corpus_sample",
    "fk_integrity_audit",
    "time_decayed_user_value",
    "keyword_and_search",
    "seasonal_traffic_zscore",
    "rollup_share_of_parent",
    "event_trigram_paths",
    # round-5 additions
    "near_dedup_keepset_lsh",
    "pii_redaction_audit",
    "ngram_memorization_scan",
    "quality_filter_funnel",
    "attribution_last_touch_revenue",
    "pivot_status_priority_matrix",
    "unpivot_part_measures",
    "overlapping_sessions_pairs",
    "dedup_incremental_minhash",
    "window_rank_family_prices",
    "pydatasource_corpus_stats",
    "pagerank_event_transitions",
    "padding_waste_by_bucket",
    "dedup_jaccard_prefix_filter",
    "bitmap_distinct_users_weekly",
    "pointintime_join_ship_priority",
    "triangles_session_overlap_users",
    "rfm_user_segments",
    "time_to_convert_stats",
    "degree_distribution_session_graph",
    "cusum_daily_value_shift",
    "label_noise_knn_disagreement",
    "vocab_shift_js_divergence",
    # round-6/7 additions
    "dedup_simhash_pairs",
    "substring_dedup_spans",
    "kcore_near_dup_docs",
    "semantic_dedup_clusters",
    "hybrid_rrf_retrieval",
    "embedding_pq_topk",
    "embedding_ivfpq_topk",
    "label_noise_knn_ivf",
    "group_split_leakage_audit",
    "sequence_packing_stats",
    "media_audio_stats",
    "dsir_importance_weights",
    "repetition_filter_stats",
    # round-8 additions
    "triangles_planted_acceptance",
    "mmr_diversified_topk",
    "matryoshka_prefix_recall",
    "contribution_cap_per_source",
    "vocab_coverage_topn",
    "semantic_dedup_clusters_fixedk",
    # round-9 additions
    "mmr_diversified_topk_ivf",
    "dedup_edit_distance_pairs",
    "media_image_dhash_pairs",
    "media_audio_fingerprint_pairs",
    "media_video_clip_dhash_pairs",
    "near_dup_cross_source_matrix",
    # round-10 additions (JPEG tier + persisted ANN lifecycle)
    "media_jpeg_dims",
    "media_jpeg_dhash_pairs",
    "media_jpeg_requant_recall",
    "embedding_ivf_persisted_topk",
    "embedding_ivfpq_persisted_topk",
    # round-11 additions (vendored GIF + MP4/MJPEG tiers)
    "media_gif_dims",
    "media_gif_dhash_pairs",
    "media_mp4_dims",
    "media_mp4_clip_dhash_pairs",
    # streaming rows (streaming_wordcount_parity, streaming_dedup_parity,
    # streaming_psi_monitor_batch) are deliberately NOT benched: their
    # per-invocation temp checkpoint dirs measure setup, not the plan
]


def _default_driver_mem() -> str:
    """min(16g, ~70% of MemAvailable) — a fixed 16g default would stop
    the local-mode JVM from starting on smaller hosts. Override with
    SPARK_GRAFT_DRIVER_MEM."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail_gb = int(line.split()[1]) * 0.7 / (1024 * 1024)
                    return f"{max(2, min(16, int(avail_gb)))}g"
    except OSError:
        pass
    return "4g"


def compact_record(record: dict) -> dict:
    """The headline-only record bench.py prints last, built from the
    full one: the headline total with its per-query seconds (so two
    tail-captured lines can still be diffed query by query), counts
    instead of the extra queries and errors, and the names of the
    regressed queries (their prev/cur detail lives in the
    artifacts/BENCH_local_r{R}.json record)."""
    return {
        "metric": record["metric"],
        "value": record["value"],
        "unit": record["unit"],
        "sf": record["sf"],
        "startup_sec": record["startup_sec"],
        "extra_total_sec": record["extra_total_sec"],
        "n_headline": len(record["queries"]),
        "n_extra": len(record["extra_queries"]),
        "n_errors": len(record["errors"]),
        "cpus": record["cpus"],
        "runs_per_query": record["runs_per_query"],
        "queries": {q: round(sec, 3) for q, sec in record["queries"].items()},
        "regressions": [r["query"] for r in record["regressions"]],
        "n_regressions": len(record["regressions"]),
        "noise_band": record["noise_band"],
        "load_context": record["load_context"],
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))

    t0 = time.monotonic()
    from mapreducewordoccurences_spark.queries import QUERIES
    from mapreducewordoccurences_spark.session import get_spark

    spark = get_spark(
        "bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            # local-mode driver defaults to a 1g heap regardless of host
            # RAM; GC pauses then dominate the persist-heavy dedup ops
            # and add multi-second run-to-run variance
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()
            ),
            # ~20 queries × whole-stage-codegen classes overflow the
            # default ~240m JIT code cache; once full, later queries run
            # interpreted (observed 3× slowdowns on the dedup ops)
            "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g",
        },
    )
    # warm the JVM/codegen paths so per-query numbers measure the plan,
    # not first-call class loading
    spark.range(1000).selectExpr("sum(id)").collect()
    startup = time.monotonic() - t0

    # BASELINE.md protocol: best of N warm runs — the first execution of
    # each plan shape pays whole-stage-codegen compilation (~1-3 s),
    # which a long-lived cluster pays once per plan, not per query run.
    # Cold (first-run) times are reported alongside. 7 runs (up from 3):
    # per-query min must sit below the 16-26 s host-noise band so
    # round-over-round deltas are attributable to plan changes.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "7"))

    errors: dict[str, str] = {}
    run_spread: dict[str, list[float]] = {}

    def time_set(names: list[str]) -> tuple[dict[str, float], dict[str, float]]:
        timings: dict[str, float] = {}
        cold: dict[str, float] = {}
        for name in names:
            fn = QUERIES[name]
            best = float("inf")
            samples: list[float] = []
            for r in range(runs):
                t = time.monotonic()
                # one failing query must not zero out the whole round's
                # perf signal: record the error, skip, keep timing the rest
                try:
                    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                except Exception as exc:  # noqa: BLE001
                    errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                    print(f"bench: {name} failed: {errors[name]}", file=sys.stderr)
                    break
                dt = round(time.monotonic() - t, 3)
                if r == 0:
                    cold[name] = dt
                samples.append(dt)
                best = min(best, dt)
                # operators that persist() reused subtrees (minhash/ngram)
                # would otherwise accumulate caches across runs/queries and
                # skew later timings with eviction pressure
                spark.catalog.clearCache()
            if name not in errors:
                timings[name] = best
                run_spread[name] = samples
        return timings, cold

    def _noise_band(names: list[str]) -> dict:
        """Self-attributing variance fields (VERDICT r10 ask #6): the
        headline scalar has a documented 16-26 s host-noise history on
        this box, so the artifact carries the run SPREAD alongside the
        best-of-N — a judge comparing rounds reads the band, not a
        noise-dominated scalar. median_over_best near 1.0 = quiet box;
        a round-over-round headline delta SMALLER than the band is a
        noise-read, not a regression."""
        spreads = [run_spread[n] for n in names if n in run_spread]
        if not any(len(s) > 1 for s in spreads):
            return {}

        def med(xs: list[float]) -> float:
            ss = sorted(xs)
            m = len(ss) // 2
            return ss[m] if len(ss) % 2 else (ss[m - 1] + ss[m]) / 2

        best_total = sum(min(s) for s in spreads)
        median_total = sum(med(s) for s in spreads)
        worst_total = sum(max(s) for s in spreads)
        rel = sorted(
            (max(s) - min(s)) / min(s) for s in spreads if min(s) > 0
        )
        p90 = rel[min(len(rel) - 1, int(0.9 * len(rel)))] if rel else None
        return {
            "headline_best_sec": round(best_total, 3),
            "headline_median_sec": round(median_total, 3),
            "headline_worst_sec": round(worst_total, 3),
            "median_over_best": round(median_total / best_total, 4)
            if best_total
            else None,
            "per_query_rel_spread_p90": round(p90, 4)
            if p90 is not None
            else None,
        }

    def _load_context() -> dict:
        """Host context recorded at bench time (the attribution the
        r10 verdict had to reconstruct by hand): loadavg residue from
        co-tenant work explains a hot reading without archaeology."""
        ctx: dict = {}
        try:
            la = os.getloadavg()
            ctx = {"loadavg_1m": round(la[0], 2), "loadavg_5m": round(la[1], 2)}
        except OSError:
            pass
        try:
            import subprocess  # noqa: PLC0415

            out = subprocess.run(
                ["pgrep", "-c", "java"], capture_output=True, timeout=5
            )
            # minus this bench's own JVM
            ctx["co_jvms"] = max(0, int(out.stdout or 1) - 1)
        except Exception:  # noqa: BLE001
            pass
        return ctx

    headline = list(HEADLINE)
    if os.environ.get("SPARK_GRAFT_BENCH_INJECT_FAIL"):
        # test hook for the error-resilience path: a query that fails
        # analysis, proving one bad query can't zero the round's signal
        QUERIES["__inject_fail__"] = lambda s, d: s.sql(
            "SELECT * FROM __no_such_table__"
        )
        headline.append("__inject_fail__")

    load_ctx = _load_context()
    timings, cold = time_set(headline)
    extra, _ = time_set([q for q in EXTRA if q in QUERIES])

    total = round(sum(timings.values()), 3)
    band = _noise_band(headline)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    record = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "extra_queries": extra,
        "extra_total_sec": round(sum(extra.values()), 3),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "startup_sec": round(startup, 3),
        "cold_total_sec": round(sum(cold.values()), 3),
        "runs_per_query": runs,
        "cpus": int(cpus),
        "errors": errors,
        "noise_band": band,
        "load_context": load_ctx,
    }

    # Per-query regression gate (tools/bench_diff.py): compare against
    # the previous round's FULL local record — the driver's BENCH_r{N}
    # artifacts tail-capture stdout and can truncate the per-query
    # dump, which made r4→r5 comparison archaeology. The full record
    # persists to artifacts/BENCH_local_r{R}.json; "regressions" rides in both
    # output lines (empty list = nothing >1.5× and >0.3 s slower).
    regressions: list[dict] = []
    prev_path = None
    try:
        repo_dir = os.path.dirname(os.path.abspath(__file__))
        sys.path.insert(0, repo_dir)
        from tools.bench_diff import (
            ARTIFACTS_DIR,
            diff_records,
            latest_local_record,
            record_round,
        )

        prev_path = os.environ.get(
            "SPARK_GRAFT_BENCH_PREV"
        ) or latest_local_record(like=record)
        if prev_path and os.path.exists(prev_path):
            with open(prev_path) as f:
                regressions = diff_records(json.load(f), record)
        # round number comes from the newest record regardless of
        # comparability — a smoke run at another sf must not reset
        # the numbering back to r1
        latest_any = latest_local_record()
        rnd = os.environ.get("SPARK_GRAFT_ROUND") or str(
            (record_round(latest_any) if latest_any else 0) + 1
        )
        out_path = os.path.join(ARTIFACTS_DIR, f"BENCH_local_r{int(rnd)}.json")
        with open(out_path, "w") as f:
            json.dump(
                {
                    **record,
                    "regressions": regressions,
                    "regressions_baseline": os.path.basename(prev_path)
                    if prev_path
                    else None,
                },
                f,
                indent=1,
            )
    except Exception as exc:  # noqa: BLE001 — the gate must never kill the bench
        print(f"bench: regression gate skipped: {exc}", file=sys.stderr)

    record["regressions"] = regressions
    record["regressions_baseline"] = (
        os.path.basename(prev_path) if prev_path else None
    )
    print(json.dumps(record), flush=True)
    # The full dump above is ~6 KB (190+ per-query timings) and can
    # exceed a log tail capture, truncating the FRONT of the line where
    # "value" lives (this is exactly what nulled BENCH_r04's parsed
    # record). Emit a compact, self-sufficient headline line LAST so
    # any tail-based consumer always sees the headline number intact.
    print(json.dumps(compact_record(record)), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
