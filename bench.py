"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The driver captures only the last ~2000 chars of stdout, so the JSON
line is kept compact (< ~1 KB: totals + the slowest-query subset) and
printed LAST; the full per-query map and round-over-round deltas go to
the ``bench_full.json`` sidecar next to this file (round 2's 47-query
line overflowed the capture window and was recorded as parsed:null).

Each query executes through a noop sink (`format("noop")`) so the full
physical plan runs — shuffles, windows, Pandas UDFs — without paying
driver-side collection, which is what a cluster deployment would also
avoid.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gotsdb_spark.operators import QUERIES  # noqa: E402
from gotsdb_spark.session import get_spark, release_blocks  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "topk_orders_per_customer",
    "window_running_revenue",
    "ts_hourly_event_stats",
    "ts_sliding_window_revenue",
    "ts_sessionize_users",
    "ts_asof_join_last_error",
    "dedup_exact",
    "dedup_minhash_lsh",
    "sim_cosine_topk",
    "sim_lsh_bucket",
    "text_token_stats",
    "text_fingerprint",
    "multimodal_features",
    "q18_large_volume_customers",
    "ts_rollup_daily_via_hourly",
    "udf_apply_in_pandas_zscore",
    # round 2 additions
    "ann_ivf_search",
    "dedup_embedding_cosine",
    "ts_pruned_week_stats",
    "q9_profit_by_nation_year",
    "q21_waiting_suppliers",
    "curate_pack_token_bins",
    "curate_contamination",
    "ts_m4_downsample",
    "kmeans_lloyd_clusters",
    "multimodal_ppm_decode",
    "curate_end_to_end",
    # round 2 additions (second batch)
    "bloom_semi_join_audit",
    "heavy_hitters_countmin",
    "quality_referential_integrity",
    "text_repetition_ratio",
    "graph_pagerank_nations",
    "ann_pq_adc_topk",
    "ts_stl_decompose",
    "ts_rolling_zscore_anomaly",
    "bitmap_distinct_users_daily",
    "ts_dpp_expensive_days",
    # round 2 additions (third batch)
    "dedup_prefix_filter_jaccard",
    "text_bm25_topk",
    "stats_ols_trend_by_type",
    "sketch_kmv_distinct_users",
    "ts_cusum_changepoint",
    "sample_weighted_priority",
    # round 4 additions: one timed query for every remaining SURVEY §2.3
    # row that had none (PQ recall, graph traversal, quality rules, PII,
    # LATERAL/observe, robust stats, variant, IVM, HLL merge, unigram LM)
    "ann_pq_recall",
    "graph_reachability_hops",
    "graph_triangle_stats",
    "quality_gopher_rules",
    "text_pii_scrub",
    "lateral_top_suppliers_per_nation",
    "observe_pipeline_metrics",
    "stats_mad_robust_outliers",
    "variant_props_extract",
    "incremental_daily_agg",
    "hll_mergeable_distinct",
    "text_unigram_logprob",
    # round 4 operators
    "dedup_incremental_corpus",
    "dedup_keep_best_quality",
    "sketch_histogram_quantiles",
    "curate_dataset_card",
    "dedup_source_overlap_matrix",
    "text_token_drift_snapshots",
    # round 5 operators: the inference/retrieval/graph additions with
    # non-trivial plans (the rest of the round-5 set is timed by the
    # run-once secondary pass like every registered query)
    "stats_ks_priority_price",
    "stats_bootstrap_ci_segment_price",
    "graph_components_star_contraction",
    "text_rrf_fusion",
    # round 6 operators
    "heavy_hitters_spacesaving",
    "image_ahash_buckets",
    "stats_theil_sen_slope",
    "ts_pattern_quantified_funnels",
    "ts_holt_linear_trend",
    "xml_interchange_roundtrip",
    # round 7 operators
    "ts_holt_winters_seasonal",
    "dedup_lsh_band_sensitivity",
    "stats_percentile_trend",
    "text_pmi_bigrams",
    "stats_winsorized_mean",
    "ts_seasonal_naive_error",
    "stats_kaplan_meier",
    "text_ngram_novelty",
    "skyline_price_size_frontier",
    "dedup_rate_by_source",
    "quality_source_length_profile",
    "quality_snapshot_psi",
    "stats_km_by_cohort",
    "stats_information_gain",
    # round 8 operators
    "ts_holt_winters_damped",
    "events_markov_transitions",
    "stats_mann_whitney_u",
    "stats_ab_conversion_ztest",
    "stats_spearman_corr",
    "lineitem_abc_pareto",
    "quality_js_divergence_sources",
    "customer_rfm_segments",
    "text_ttr_hapax_profile",
    "graph_label_propagation",
    "dedup_savings_by_cluster_size",
    "sim_knn_classify",
    "ts_holt_winters_multiplicative",
    "graph_link_prediction_jaccard",
    # round-8 late registrations, benched from round 9 (ADVICE r8)
    "stats_kendall_tau_b",
    "stats_kruskal_wallis",
    "stats_anova_f_oneway",
    # round 9 operators
    "ts_holt_winters_damped_seasonal",
    "quality_psi_by_source",
    "stats_brown_forsythe",
    "graph_kcore_nations",
    "skyline_3d_price_size_demand",
    # round-9 second-half operators
    "stats_welch_ttest",
    "stats_jarque_bera",
    "graph_hits_nations",
    "quality_candidate_keys",
    "ts_sax_symbolic",
    # round 10 additions
    "stats_cochran_armitage_trend",
    "stats_cochran_q_mcnemar",
    "ts_seasonal_decompose",
    "sketch_quantile_digest",
    "stats_irls_quantile_regression",
    "graph_betweenness_nations",
    "stats_cucconi_location_scale",
    # round 11 additions
    "ts_stl_robust_decompose",
    "graph_girvan_newman_edges",
    "sketch_kmv_jaccard_pairs",
    "ts_binseg_changepoints",
    "stats_wilcoxon_signed_rank",
    "sketch_ams_f2_moment",
    "graph_modularity_communities",
    "stats_cooks_distance_days",
    "stats_mann_kendall_trend",
    "ts_page_hinkley_drift",
    "quality_join_fanout_audit",
    # round 12 (batch ops; the eviction-audit replay stays in
    # SECONDARY_REPLAYS with the other multi-wave streams)
    "stats_hodges_lehmann_shift",
    "ts_pacf_daily",
    "graph_articulation_points",
    "text_heaps_law_fit",
    "stats_levene_mean_center",
    "text_good_turing_unseen",
    "graph_bridges",
    # round 13 (batch ops; the checkpoint-restart replay runs a real
    # two-instance stream and stays in SECONDARY_REPLAYS)
    "stats_seasonal_mann_kendall",
    "ts_periodogram_weekly",
    "q9_profit_cents_by_nation_year",
    "q18_large_volume_cents",
    "stats_grubbs_max_outlier",
    "audit_late_arriving_facts",
    # round 13, second batch (round-14 backlog pulled forward)
    "stats_qq_drift_value",
    "ts_cohort_repeat_purchase",
    "curate_token_budget_planner",
    "stats_leadtime_control_chart",
    "stats_segmented_regression",
    "stats_hhi_concentration_drift",
    "stats_fill_time_sla_bands",
    "stats_tail_coexceedance_types",
    "embed_principal_direction",
    "ts_btyd_frequency_recency",
    "stats_theil_sen_price_quantity",
    "embed_second_component",
]

# Streaming replays + the KV engine roundtrip execute real multi-wave
# streams / engine state, so they run ONCE (no min-of-2) and are
# recorded in the bench_full.json sidecar only — they'd otherwise
# dominate the headline line with fixed trigger latency, not plan cost.
SECONDARY_REPLAYS = [
    "kv_roundtrip_snapshot",
    "streaming_windowed_counts",
    "streaming_append_late_data",
    "streaming_stateful_totals",
    "streaming_interval_join",
    "streaming_static_enrich",
    "streaming_topk_trending",
    "streaming_ab_conversion_live",
    "streaming_session_eviction_audit",
    "streaming_checkpoint_restart_replay",
    "streaming_rate_limit_audit",
    "streaming_gap_outage_audit",
]


def secondary_names() -> list[str]:
    """Every registered query not in HEADLINE, replays first.

    The long tail (~150 cheap variants) runs ONCE each so bench_full.json
    carries a time for ALL registered queries — a regression in an
    untimed query was previously invisible to round-over-round deltas.
    """
    rest = sorted(
        n for n in QUERIES if n not in HEADLINE and n not in SECONDARY_REPLAYS
    )
    return [n for n in SECONDARY_REPLAYS if n in QUERIES] + rest


def _prev_bench(sf_val: object = None) -> dict:
    """Previous full per-query timings for round-over-round deltas.

    Prefers the committed ``bench_full.json`` sidecar (complete map),
    falling back to the latest parseable BENCH_r*.json from the driver
    (whose "parsed" payload only carries the slowest-query subset since
    round 3).
    """
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    candidates = [os.path.join(here, "bench_full.json")]
    candidates += list(reversed(sorted(glob.glob(os.path.join(here, "BENCH_r*.json")))))
    for path in candidates:
        try:
            with open(path) as fh:
                prev = json.load(fh)
            # The driver wraps our JSON line under "parsed".
            if isinstance(prev.get("parsed"), dict):
                prev = prev["parsed"]
            if isinstance(prev.get("queries"), dict) and (
                sf_val is None or prev.get("sf") == sf_val
            ):
                return prev
        except (OSError, ValueError):
            continue
    return {}


def _calibration_probe(spark, sf_dir: str) -> dict[str, float]:
    """Fixed reference workload timed every round: the sidecar carries
    its own host-speed denominators.

    Round 6's cross-round comparison was confounded by host drift
    (committed numbers ~20% above round 5 on code-unchanged queries,
    adjudicated only by re-running old code). The probe is
    query-independent, and since round 9 it is recorded as TWO numbers
    because round 8 proved a single combined probe cannot adjudicate
    single-digit deltas (an IO-calibrated denominator under-corrects
    CPU-bound queries and vice versa):

    - ``probe_cpu_s`` — a 50M-row shuffle+agg (codegen + exchange
      path, zero IO): the denominator for CPU-bound queries.
    - ``probe_io_s`` — a lineitem parquet scan+agg (columnar decode +
      page IO): the denominator for scan-bound queries.
    - ``probe_s`` — their sum, kept for continuity with rounds 6-8
      sidecars.

    ``query_s / probe_*_s`` is comparable across rounds even when the
    sandbox host is slower or noisier. Each min-of-2, like the
    headline queries.
    """
    from pyspark.sql import functions as F

    cpu = io = float("inf")
    for _ in range(2):
        t0 = time.time()
        (
            spark.range(0, 50_000_000, 1, 32)
            .select((F.col("id") % 9973).alias("k"), "id")
            .groupBy("k")
            .agg(F.sum("id").alias("s"), F.count(F.lit(1)).alias("n"))
            .write.format("noop").mode("overwrite").save()
        )
        cpu = min(cpu, time.time() - t0)
        t1 = time.time()
        (
            spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            .groupBy("l_returnflag")
            .agg(F.sum("l_extendedprice").alias("s"))
            .write.format("noop").mode("overwrite").save()
        )
        io = min(io, time.time() - t1)
    return {
        "probe_cpu_s": round(cpu, 3),
        "probe_io_s": round(io, 3),
        "probe_s": round(cpu + io, 3),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("gotsdb-bench")
    # Warm the JVM/codegen paths once with a trivial action.
    spark.range(1000).count()
    probes = _calibration_probe(spark, sf_dir)
    # Two timed runs per query, report the min: the first execution pays
    # one-time codegen compilation / Python-worker fork / broadcast-thread
    # startup, and the shared host shows transient noisy-neighbor stalls —
    # min-of-2 is the steady-state cost a warmed cluster would see.
    # Per-query error isolation: one broken query must never zero the
    # whole round's bench artifact (round 3 lost all 47 numbers to a
    # single AnalysisException). Failures are recorded and skipped.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}

    def _time_query(name: str, runs: int) -> float:
        best = float("inf")
        for _ in range(runs):
            t0 = time.time()
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, time.time() - t0)
        # ONE release per query, after its timed runs: releasing before
        # every run put the removal churn (block-manager RPCs, the GC
        # they trigger) right in front of each timed window and showed
        # up as rotating ±0.5-3 s noise on unrelated queries; after-the-
        # query placement bounds session accumulation identically while
        # keeping the min-of-N windows clean.
        release_blocks(spark)
        return round(best, 3)

    def _run_list(names: list[str], runs: int, out: dict[str, float]) -> None:
        for name in names:
            try:
                out[name] = _time_query(name, runs)
            except Exception as exc:  # noqa: BLE001 — isolate, record, continue
                errors[name] = f"{type(exc).__name__}: {exc}"[:160]

    _run_list(HEADLINE, 2, timings)
    secondary: dict[str, float] = {}
    _run_list(secondary_names(), 1, secondary)
    total = round(sum(timings.values()), 3)
    sf_probe = float(sf) if sf.replace(".", "").isdigit() else sf
    prev = _prev_bench(sf_probe).get("queries", {})
    vs_prev = {
        name: round(sec - prev[name], 3) for name, sec in timings.items() if name in prev
    }
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full record → sidecar (committed; next round's vs_prev anchor).
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "bench_full.json"), "w") as fh:
        json.dump(
            {
                "metric": "headline_queries_total",
                "value": total,
                # A round where any headline query threw sums only the
                # survivors — flag it so a smaller total is never read
                # as a speedup against prior rounds.
                "partial": any(n in errors for n in HEADLINE),
                "n_err": len(errors),
                "unit": "sec",
                "queries": timings,
                "secondary_run_once": secondary,
                "errors": errors,
                "runs_per_query": 2,
                "n_queries": len(timings),
                "n_timed": len(timings) + len(secondary),
                "vs_prev": {} if any(n in errors for n in HEADLINE) else vs_prev,
                **probes,
                "sf": sf_val,
            },
            fh,
            indent=1,
        )
    # Compact line → stdout, LAST, under the driver's ~2000-char tail
    # capture: totals plus only the slowest queries (drop entries, never
    # truncate mid-JSON).
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1]))
    line = ""
    for keep in (12, 8, 5, 3, 0):
        payload = {
            "metric": "headline_queries_total",
            "value": total,
            "unit": "sec",
            "queries": dict(list(slowest.items())[:keep]),
            "runs_per_query": 2,
            "n_queries": len(timings),
            "n_err": len(errors),
            **probes,
            "sf": sf_val,
        }
        line = json.dumps(payload)
        if len(line) <= 1000:
            break
    print(line)


if __name__ == "__main__":
    main()
