"""Static guard: no growth-coupled forced broadcasts.

``F.broadcast(df)`` on a frame whose row count grows with the data is a
100 TB hard failure twice over: the 8 GB broadcast ceiling / driver OOM,
and the hint forbids AQE's sort-merge fallback. Rounds 8-9 removed every
such hint (commits 37c33a1 and the round-9 sweep); this test pins the
invariant by AST-scanning every ``F.broadcast`` call site in the package
and requiring it to appear in the allowlist below with a boundedness
category. A new site fails the test until it is classified — and it may
only be added if the broadcast side is provably bounded (it must NOT be
derived row-per-row from customer / supplier / part / orders / lineitem
/ events / documents / embeddings).

Categories used in the allowlist:
  scalar     — 1-row (or <= handful-row) aggregate / extreme
  dim        — nation (25) / region (5), fixed by the data model
  grid       — bounded by a value grid or category domain (event types,
               languages, flags, day/date spine, #partitions, k-row
               probe/query/config sets, query-term-filtered postings),
               not by row count
  sketch     — fixed-size sketch state (bitset words, codebooks,
               centroids, LUTs, count-min counters, KMV registers)
  stream-dim — documented per-batch stream-static enrichment pattern

The former "vocab" category (token vocabulary, "sublinear in corpus")
is retired: a whitespace vocabulary of a web corpus is heavy-tailed and
grows into the billions of distinct tokens — not actually bounded. Its
two members were reclassified: text_bm25_topk's df is query-term
filtered (bounded by the fixed query set → grid); text_unigram_logprob
now joins its corpus-sized frequency table plainly and lets AQE choose.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(__file__), "..", "gotsdb_spark")

# (relative file, enclosing function, broadcast arg source) -> category
ALLOWED: dict[tuple[str, str, str], str] = {
    ("operators/advanced.py", "window_ntile_percentrank", "total"): "scalar",
    ("operators/advanced.py", "ann_ivf_assign", "centroids"): "sketch",
    ("operators/advanced.py", "agg_collect_sorted", "nation"): "dim",
    ("operators/advanced.py", "rfm_customer_segments", "total"): "scalar",
    ("operators/advanced.py", "pareto_revenue_parts", "total"): "scalar",
    ("operators/advanced.py", "iqr_outlier_suppliers", "stats"): "scalar",
    ("operators/dedup.py", "dedup_simhash", "positions"): "grid",
    ("operators/dedup.py", "dedup_lsh_band_sensitivity", "cfgs"): "grid",
    ("operators/distrank.py", "dist_rank", "offsets"): "grid",
    ("operators/distrank.py", "dictionary_decile_edges", "tot"): "scalar",
    ("operators/graph.py", "_backbone_edges", "ne"): "scalar",
    ("operators/graph.py", "graph_modularity_communities", "lab"): "dim",
    ("operators/graph.py", "graph_modularity_communities", "la"): "dim",
    ("operators/graph.py", "graph_modularity_communities", "lb"): "dim",
    ("operators/graph.py", "graph_modularity_communities", "mm"): "scalar",
    ("operators/graph.py", "graph_modularity_communities", "region.select"): "dim",
    ("operators/graph.py", "graph_personalized_pagerank", "seeds"): "dim",
    ("operators/graph.py", "graph_personalized_pagerank", "contrib"): "dim",
    ("operators/graph.py", "graph_personalized_pagerank", "r"): "dim",
    ("operators/graph.py", "graph_local_clustering", "e2"): "dim",
    ("operators/graph.py", "graph_local_clustering", "e3"): "dim",
    ("operators/graph.py", "graph_local_clustering", "nation.select"): "dim",
    ("operators/graph.py", "graph_eccentricity_nations", "nation.select"): "dim",
    ("operators/graph.py", "graph_eccentricity_nations", "glob"): "scalar",
    ("operators/graph.py", "graph_rich_club", "ks"): "grid",
    ("operators/graph.py", "graph_pagerank_nations", "contrib"): "dim",
    ("operators/graph.py", "graph_pagerank_nations", "r"): "dim",
    ("operators/graph.py", "graph_triangle_stats", "e2"): "dim",
    ("operators/graph.py", "graph_triangle_stats", "e3"): "dim",
    ("operators/graph.py", "graph_triangle_stats", "tri"): "scalar",
    ("operators/graph.py", "graph_triangle_stats", "wedges"): "scalar",
    ("operators/graph.py", "graph_reachability_hops", "load_table"): "dim",
    ("operators/graph.py", "graph_kcore_nations", "ftot"): "scalar",
    ("operators/graph.py", "graph_girvan_newman_edges", "cut"): "scalar",
    ("operators/graph.py", "graph_hits_nations", "sa"): "scalar",
    ("operators/graph.py", "graph_hits_nations", "sh"): "scalar",
    ("operators/graph.py", "graph_link_prediction_jaccard", "ftot"): "scalar",
    ("operators/inference.py", "stats_friedman_ranks", "tot"): "scalar",
    # round 12: articulation scenario spine / baseline scalar / nation dim
    ("operators/graph.py", "graph_articulation_points", "excl"): "dim",
    ("operators/graph.py", "graph_articulation_points", "base"): "scalar",
    ("operators/graph.py", "graph_articulation_points", "nation.select"): "dim",
    # per-round fixpoint frames of articulation points and bridges —
    # <= 31 scenarios x 25 nodes, nation-dictionary bounded;
    # checkpointed RDDs have no stats so the planner needs the hint to
    # avoid per-round sort-merge joins.
    ("operators/graph.py", "_components_per_scenario", "labels"): "dim",
    ("operators/graph.py", "_components_per_scenario", "cand"): "dim",
    ("operators/graph.py", "_nation_bfs_sigma", "ed"): "dim",
    ("operators/graph.py", "_nation_bfs_sigma", "reach.select"): "dim",
    # round 12: HL shift — $100-grid dictionary (value-domain-bounded),
    # 1-row totals and 1-row median
    ("operators/inference.py", "stats_hodges_lehmann_shift", "dr"): "sketch",
    ("operators/inference.py", "stats_hodges_lehmann_shift", "tot"): "scalar",
    ("operators/inference.py", "stats_hodges_lehmann_shift", "med"): "scalar",
    # round 12: PACF 5-row lag spine
    ("operators/inference.py", "ts_pacf_daily", "lags"): "grid",
    # round 12b: bridges — backbone-edge scenario spine (<= 30 pairs of
    # the 300-pair nation dictionary), 1-row baseline, nation dim
    ("operators/graph.py", "graph_bridges", "excl"): "grid",
    ("operators/graph.py", "graph_bridges", "base"): "scalar",
    ("operators/graph.py", "graph_bridges", "nation.select"): "dim",
    # round 12b: Levene — 3-row flag group moments, 1-row sum pivot
    ("operators/statistics.py", "stats_levene_mean_center", "grp"): "grid",
    ("operators/statistics.py", "stats_levene_mean_center", "sums"): "scalar",
    # round 12b: Good-Turing — 1-row totals
    ("operators/text.py", "text_good_turing_unseen", "tot"): "scalar",
    # round 13: Grubbs — 5-row priority group moments / per-group max
    ("operators/statistics.py", "stats_grubbs_max_outlier", "g.select"): "grid",
    ("operators/statistics.py", "stats_grubbs_max_outlier", "mx.select"): "grid",
    # round 13b: Q-Q drift — 1-row timeline min/max, (type, half) totals
    ("operators/statistics.py", "stats_qq_drift_value", "mm"): "scalar",
    ("operators/statistics.py", "stats_qq_drift_value", "tot"): "grid",
    # round 13b: cohort curve — calendar-month cohort sizes
    ("operators/timeseries.py", "ts_cohort_repeat_purchase", "sizes"): "grid",
    # round 13b: BTYD summary — 1-row calendar-end month
    ("operators/timeseries.py", "ts_btyd_frequency_recency", "horizon"): "scalar",
    # round 13b: power iteration — d-row vector iterates, 1-row
    # normalizer and Rayleigh quotient
    ("operators/statistics.py", "embed_principal_direction", "v.withColumnRenamed"): "sketch",
    ("operators/statistics.py", "embed_principal_direction", "mx"): "scalar",
    ("operators/statistics.py", "embed_principal_direction", "ray"): "scalar",
    # round 13b: bivariate Theil-Sen — value-grid pair side, 1-row
    # pair total and median crossing
    ("operators/statistics.py", "stats_theil_sen_price_quantity", "b"): "grid",
    ("operators/statistics.py", "stats_theil_sen_price_quantity", "tot"): "scalar",
    ("operators/statistics.py", "stats_theil_sen_price_quantity", "med"): "scalar",
    # round 13b: second PC deflation — d-row vector iterates / rank-one
    # deflation sides, 1-row lambda/Rayleigh/orthogonality scalars
    ("operators/statistics.py", "iterate", "v.withColumnRenamed"): "sketch",
    ("operators/statistics.py", "iterate", "mx"): "scalar",
    ("operators/statistics.py", "matvec", "v.withColumnRenamed"): "sketch",
    ("operators/statistics.py", "embed_second_component", "va"): "sketch",
    ("operators/statistics.py", "embed_second_component", "vb"): "sketch",
    ("operators/statistics.py", "embed_second_component", "lam"): "scalar",
    ("operators/statistics.py", "embed_second_component", "ray2"): "scalar",
    ("operators/statistics.py", "embed_second_component", "lam.select"): "scalar",
    ("operators/statistics.py", "embed_second_component", "orth"): "scalar",
    # round 13b: control chart — 1-row grand moments
    ("operators/statistics.py", "stats_leadtime_control_chart", "grand"): "scalar",
    # round 13b: segmented regression — 1-row totals / argmin / hit /
    # single-segment SSE
    ("operators/statistics.py", "stats_segmented_regression", "tot"): "scalar",
    ("operators/statistics.py", "stats_segmented_regression", "best"): "scalar",
    ("operators/statistics.py", "stats_segmented_regression", "hit"): "scalar",
    ("operators/statistics.py", "stats_segmented_regression", "single"): "scalar",
    # round 13b: HHI drift — day-grid pair side, 1-row S and tie term
    ("operators/statistics.py", "stats_hhi_concentration_drift", "b"): "grid",
    ("operators/statistics.py", "stats_hhi_concentration_drift", "pairs"): "scalar",
    ("operators/statistics.py", "stats_hhi_concentration_drift", "ties"): "scalar",
    # round 13b: fill-time SLA bands — priority-dictionary totals
    ("operators/statistics.py", "stats_fill_time_sla_bands", "tot"): "grid",
    # round 13b: tail co-exceedance — per-type thresholds, day-grid
    # flag side, per-type exceed counts, 1-row day count
    ("operators/statistics.py", "stats_tail_coexceedance_types", "thr"): "grid",
    ("operators/statistics.py", "stats_tail_coexceedance_types", "b"): "grid",
    ("operators/statistics.py", "stats_tail_coexceedance_types", "ka"): "grid",
    ("operators/statistics.py", "stats_tail_coexceedance_types", "kb"): "grid",
    ("operators/statistics.py", "stats_tail_coexceedance_types", "nd"): "scalar",
    # round 13b: token-budget planner — source-dictionary rank join,
    # 1-row totals / boundary / level params
    ("operators/pipeline_ops.py", "curate_token_budget_planner", "b"): "grid",
    ("operators/pipeline_ops.py", "curate_token_budget_planner", "tot"): "scalar",
    ("operators/pipeline_ops.py", "curate_token_budget_planner", "cand.agg"): "scalar",
    ("operators/pipeline_ops.py", "curate_token_budget_planner", "params"): "scalar",
    ("operators/inference.py", "stats_friedman_ranks", "chi"): "scalar",
    ("operators/inference.py", "ts_ljung_box_whiteness", "lags"): "grid",
    ("operators/inference.py", "stats_durbin_watson", "fit"): "scalar",
    ("operators/inference.py", "ks_dnum_by_group", "prios"): "grid",
    ("operators/inference.py", "ts_cross_correlation_types", "lags"): "grid",
    ("operators/inference.py", "ts_autocorrelation_daily", "lags"): "grid",
    ("operators/inference.py", "stats_association_strength", "g"): "scalar",
    ("operators/inference.py", "stats_association_strength", "chi"): "scalar",
    ("operators/inference.py", "stats_association_strength", "hx"): "scalar",
    ("operators/inference.py", "stats_association_strength", "hxy"): "scalar",
    ("operators/inference.py", "stats_information_gain", "edges"): "grid",
    ("operators/inference.py", "stats_information_gain", "tot"): "scalar",
    ("operators/inference.py", "stats_information_gain", "hlang"): "scalar",
    ("operators/inference.py", "stats_kendall_tau_b", "b"): "grid",
    ("operators/inference.py", "stats_kendall_tau_b", "xm"): "scalar",
    ("operators/inference.py", "stats_kendall_tau_b", "ym"): "scalar",
    ("operators/inference.py", "stats_kendall_tau_b", "tot"): "scalar",
    ("operators/integration.py", "streaming_static_enrich", "customer.join"): "stream-dim",
    ("operators/text.py", "text_vocab_coverage", "cuts"): "grid",
    ("operators/text.py", "text_vocab_coverage", "tot"): "scalar",
    ("operators/pipeline_ops.py", "curate_dataset_card", "top_lang"): "grid",
    ("operators/pipeline_ops.py", "sample_alias_table_build", "tot"): "scalar",
    ("operators/pipeline_ops.py", "sample_alias_table_build", "picks"): "scalar",
    ("operators/quality.py", "quality_join_fanout_audit", "tot"): "scalar",
    ("operators/quality.py", "quality_snapshot_psi", "edges"): "grid",
    ("operators/quality.py", "quality_snapshot_psi", "tot"): "scalar",
    ("operators/quality.py", "quality_js_divergence_sources", "lmarg"): "grid",
    ("operators/quality.py", "quality_js_divergence_sources", "tot"): "scalar",
    ("operators/relational.py", "q5_local_supplier_volume", "nation"): "dim",
    ("operators/relational.py", "q5_local_supplier_volume", "region"): "dim",
    ("operators/relational.py", "q10_returned_items", "nation"): "dim",
    ("operators/relational.py", "q7_nation_trade_flows", "n1"): "dim",
    ("operators/relational.py", "q7_nation_trade_flows", "n2"): "dim",
    ("operators/relational.py", "basket_part_pair_lift", "n_orders"): "scalar",
    ("operators/relational.py", "customer_rfm_segments", "gmax"): "scalar",
    ("operators/relational.py", "customer_rfm_segments", "edges"): "grid",
    # tagged-union decile fold (r13 optimization): per-metric totals and
    # exclusive offsets are 3-row frames (one per metric) forever
    ("operators/relational.py", "customer_rfm_segments", "mtot.alias"): "grid",
    ("operators/relational.py", "customer_rfm_segments", "mtot"): "grid",
    ("operators/relational.py", "customer_rfm_segments", "off"): "grid",
    ("operators/scale_ops.py", "scale_layout_planner", "tot"): "scalar",
    ("operators/statistics.py", "stats_cooks_distance_days", "fit"): "scalar",
    ("operators/timeseries.py", "ts_hurst_exponent", "sizes"): "grid",
    ("operators/timeseries.py", "ts_markov_entropy_rate", "marg"): "grid",
    ("operators/timeseries.py", "ts_markov_entropy_rate", "tot"): "scalar",
    ("operators/rollups.py", "rollup_share_of_parent", "nation"): "dim",
    ("operators/rollups.py", "rollup_share_of_parent", "region"): "dim",
    ("operators/rollups.py", "rollup_share_of_parent", "regions"): "dim",
    ("operators/rollups.py", "rollup_share_of_parent", "grand"): "scalar",
    ("operators/similarity.py", "embed_silhouette_audit", "cent"): "sketch",
    ("operators/similarity.py", "sim_cosine_topk", "queries"): "grid",
    ("operators/similarity.py", "ann_ivf_search", "cvec"): "sketch",
    ("operators/similarity.py", "ann_ivf_search", "probes"): "grid",
    ("operators/similarity.py", "ann_ivf_search", "eq"): "grid",
    ("operators/similarity.py", "ann_ivf_recall", "queries"): "grid",
    ("operators/similarity.py", "kmeans_lloyd_clusters", "cent"): "sketch",
    ("operators/similarity.py", "_pq_codes", "cb"): "sketch",
    ("operators/similarity.py", "ann_pq_adc_topk", "lut"): "sketch",
    ("operators/similarity.py", "ann_pq_recall", "lut"): "sketch",
    ("operators/similarity.py", "ann_pq_recall", "q"): "grid",
    ("operators/similarity.py", "dedup_semantic_clusters", "cvec"): "sketch",
    ("operators/similarity.py", "sim_centroid_separation", "na"): "grid",
    ("operators/similarity.py", "sim_centroid_separation", "nb"): "grid",
    ("operators/similarity.py", "sim_knn_classify", "test"): "grid",
    ("operators/sketches.py", "bloom_semi_join_audit", "bits.select"): "sketch",
    ("operators/sketches.py", "bloom_semi_join_audit", "counts"): "scalar",
    ("operators/sketches.py", "heavy_hitters_countmin", "counters"): "sketch",
    ("operators/sketches.py", "sketch_quantile_digest", "qs"): "grid",
    ("operators/sketches.py", "sketch_quantile_digest", "gtot"): "scalar",
    ("operators/sketches.py", "sketch_kmv_distinct_users", "total"): "scalar",
    ("operators/sketches.py", "sketch_kmv_key_overlap", "xb"): "sketch",
    ("operators/sketches.py", "sketch_kmv_key_overlap", "xo"): "sketch",
    ("operators/sketches.py", "sketch_kmv_key_overlap", "ea"): "scalar",
    ("operators/sketches.py", "sketch_kmv_key_overlap", "eb"): "scalar",
    ("operators/sketches.py", "sketch_kmv_key_overlap", "eu"): "scalar",
    ("operators/sketches.py", "heavy_hitters_spacesaving", "candidates"): "sketch",
    ("operators/statistics.py", "ts_cusum_changepoint", "stats"): "grid",
    ("operators/statistics.py", "stats_irls_quantile_regression", "params"): "scalar",
    ("operators/statistics.py", "stats_irls_quantile_regression", "mar"): "scalar",
    ("operators/statistics.py", "stats_mad_robust_outliers", "med"): "grid",
    ("operators/statistics.py", "stats_mad_robust_outliers", "mad"): "grid",
    ("operators/statistics.py", "stats_gini_revenue_concentration", "tot"): "scalar",
    ("operators/statistics.py", "stats_equidepth_bins", "total"): "scalar",
    ("operators/statistics.py", "stats_trimmed_mean_value", "thr"): "grid",
    ("operators/statistics.py", "stats_winsorized_mean", "bounds"): "grid",
    ("operators/statistics.py", "_km_cohort_dict", "tmax"): "scalar",
    ("operators/statistics.py", "stats_kaplan_meier", "tot"): "scalar",
    ("operators/statistics.py", "stats_kaplan_meier", "horizons"): "grid",
    ("operators/statistics.py", "stats_km_by_cohort", "tot"): "grid",
    ("operators/statistics.py", "lineitem_abc_pareto", "tot"): "scalar",
    ("operators/statistics.py", "stats_brown_forsythe", "med"): "grid",
    ("operators/statistics.py", "stats_brown_forsythe", "med_wide"): "scalar",
    ("operators/text.py", "text_tfidf_top_term", "n"): "scalar",
    ("operators/text.py", "text_bm25_topk", "df"): "grid",
    ("operators/text.py", "text_bm25_topk", "stats"): "scalar",
    ("operators/text.py", "text_unigram_logprob", "tot"): "scalar",
    ("operators/text.py", "text_token_drift_snapshots", "totals"): "grid",
    ("operators/text.py", "text_rrf_fusion", "qv"): "grid",
    ("operators/text.py", "text_bigram_logprob", "v"): "scalar",
    ("operators/text.py", "text_pmi_bigrams", "tot"): "scalar",
    ("operators/timeseries.py", "ts_gap_fill_daily", "bounds"): "scalar",
    ("operators/timeseries.py", "ts_linear_interpolate", "carried"): "grid",
    ("operators/timeseries.py", "ts_error_burst_detection", "stats"): "scalar",
    ("operators/timeseries.py", "ts_rolling_zscore_anomaly", "pairs"): "grid",
    ("operators/timeseries.py", "ts_dpp_expensive_days", "dim"): "grid",
    ("operators/timeseries.py", "winsorized_value_stats", "q"): "grid",
    ("operators/timeseries.py", "events_markov_transitions", "marg"): "grid",
    ("operators/tpch_extra.py", "q9_profit_by_nation_year", "nation"): "dim",
    # round 13: cents variant shares the canonical q9 topology
    ("operators/tpch_extra.py", "q9_profit_cents_by_nation_year", "nation"): "dim",
    ("operators/tpch_extra.py", "q15_top_supplier_quarter", "max_rev"): "scalar",
    ("operators/tpch_extra.py", "q22_idle_wealthy_customers", "avg_bal"): "scalar",
    ("operators/tpch_extra.py", "q11_important_nation_volume", "threshold"): "scalar",
}

# Frames derived row-per-row from these tables may never be force-
# broadcast; the allowlist keys are audited against this list by hand
# whenever a new entry is added.
GROWTH_TABLES = (
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _broadcast_sites():
    sites = []
    for root, _, files in sorted(os.walk(PKG)):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG)
            tree = ast.parse(open(path).read())

            class V(ast.NodeVisitor):
                def __init__(self):
                    self.stack = ["<module>"]

                def visit_FunctionDef(self, n):
                    self.stack.append(n.name)
                    self.generic_visit(n)
                    self.stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Call(self, n):
                    f = n.func
                    if (
                        isinstance(f, ast.Attribute)
                        and f.attr == "broadcast"
                        and isinstance(f.value, ast.Name)
                        and f.value.id == "F"
                    ):
                        arg = ast.unparse(n.args[0]) if n.args else "?"
                        sites.append((rel, self.stack[-1], arg, n.lineno))
                    self.generic_visit(n)

            V().visit(tree)
    return sites


def _key(rel, func, arg):
    # normalize the arg to its leading identifier chain so line-level
    # formatting changes don't churn the allowlist
    head = arg.split("(")[0].strip()
    return (rel, func, head)


def test_no_growth_coupled_forced_broadcasts():
    sites = _broadcast_sites()
    assert sites, "AST scan found no F.broadcast sites — scan broken?"
    unknown = [
        f"{rel}:{ln} {func} -> F.broadcast({arg[:60]})"
        for rel, func, arg, ln in sites
        if _key(rel, func, arg) not in ALLOWED
    ]
    assert not unknown, (
        "Unclassified F.broadcast site(s). A forced broadcast is only "
        "allowed on a provably bounded frame (scalar/dim/grid/sketch/"
        "stream-dim) — never on a frame derived row-per-row from "
        f"{GROWTH_TABLES}. Classify in tests/test_broadcast_guard.py "
        "or drop the hint and let AQE choose:\n" + "\n".join(unknown)
    )


def test_allowlist_has_no_stale_entries():
    sites = _broadcast_sites()
    live = {_key(rel, func, arg) for rel, func, arg, _ in sites}
    stale = [k for k in ALLOWED if k not in live]
    assert not stale, f"Allowlist entries with no matching site: {stale}"
