"""Volume rehearsal at sf1 (~6M lineitem) for the overflow-sensitive
query class.

The round-6 KS fix (ADVICE #1: e6-scaled cumulative products
overflowing int64 at volume, patched with DECIMAL(38,0) at
inference.py:85-100) was found by READING, not testing — sf0.01/sf0.1
sweeps structurally cannot reach the magnitudes where e6/e9-scaled
integer math leaves int64 headroom. This tool makes that class
mechanical: it materializes a 10×-sf0.1 copy and hash-compares the
queries whose math carries scaled products near int64 against DuckDB
at that volume.

Generation (once, cached at /root/repo/.sf1, gitignored):
10 FK-consistent copies of every sf0.1 table — each copy shifts every
key column (o_orderkey, l_partkey, user_id, ...) by copy_index ×
(max_key + 1), identically on both sides of every foreign key, so all
joins keep exactly their sf0.1 semantics at 10× the rows. Non-key
values and timestamps are left untouched: sums, rank sums (Gini's
Σ(2i−n−1)xᵢ grows ~n²·x), contingency counts, and per-hour densities
all scale, which is precisely the overflow surface under test.
region/nation are dimensions referenced by unshifted keys and are
copied once. Written via pyarrow as ONE file per table with the
fixture's exact schema (events keeps TIMESTAMP(NANOS)), so both
engines read the same bytes the same way as at sf0.1.

The swept queries are integer-exact by construction (the repo's
determinism conventions: e6/e9 flooring happens once per output row on
exact integer statistics), so multi-row-group parallel scans cannot
introduce float-association noise.

Usage:  python tools/sweep_sf1.py [query ...]   # default: full class
Writes tools/oracle_sweep_sf1.json (committed artifact).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, ".")

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from gotsdb_spark.sources.registry import TABLES

SRC = "/root/testdata/sf0.1"
DST = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".sf1")
COPIES = 10

# Key columns shifted per copy (column -> stride source column). Every
# FK pair shifts by the SAME stride (the referenced table's max key), so
# referential integrity is exact in every copy.
KEYS: dict[str, list[tuple[str, str, str]]] = {
    # table: [(column, stride_table, stride_column), ...]
    "customer": [("c_custkey", "customer", "c_custkey")],
    "supplier": [("s_suppkey", "supplier", "s_suppkey")],
    "part": [("p_partkey", "part", "p_partkey")],
    "orders": [
        ("o_orderkey", "orders", "o_orderkey"),
        ("o_custkey", "customer", "c_custkey"),
    ],
    "lineitem": [
        ("l_orderkey", "orders", "o_orderkey"),
        ("l_partkey", "part", "p_partkey"),
        ("l_suppkey", "supplier", "s_suppkey"),
    ],
    "events": [
        ("event_id", "events", "event_id"),
        ("user_id", "events", "user_id"),
    ],
    "documents": [("doc_id", "documents", "doc_id")],
    "embeddings": [("vec_id", "embeddings", "vec_id")],
}
COPY_ONCE = ("region", "nation")

# The overflow-sensitive class: queries whose per-group or global
# accumulators multiply e6/e9-scaled integers by row counts or rank
# sums. VERDICT r6 item 3's list plus the e9-entropy and
# sum-of-products family.
OVERFLOW_CLASS = [
    "stats_ks_priority_price",  # e6 ECDF cross-products (the r6 fix)
    "stats_gini_revenue_concentration",  # Σ(2i−n−1)·cents ~ n²·x
    "ts_cross_correlation_types",  # lagged sums of hourly e6 products
    "stats_mutual_info_type_daypart",  # G-test e9 cell terms
    "stats_association_strength",  # e9 entropy terms × cells
    "audit_content_checksum",  # Σ xxhash64 (decimal-guarded)
    "stats_weighted_median_price",  # cumulative weight × cents
    "stats_corr_matrix_lineitem",  # Σ products of cents pairs
    "stats_partial_correlation",  # same family, 3 columns
    "ts_autocorrelation_daily",  # lagged products of daily sums
    "text_token_entropy",  # e9 per-token entropy terms
    "stats_trimmed_mean_value",  # dictionary quantile × counts
    "quality_benford_price_audit",  # digit counts × e6 expected
    "stats_equidepth_bins",  # dist_rank running cents sums
    "stats_percentile_trend",  # e6 OLS numerators over p90 dictionary
    "rollup_share_of_parent",  # region_cents*1e6 ~ 7.5e18 at sf1 (audit hit)
    "basket_part_pair_lift",  # n_pair*n*1e6 worst case n^2*1e6 (audit hit)
]

# The dictionary-window class (VERDICT r7 item 4): queries whose window
# frames are bounded by DISTINCT-VALUE dictionaries. Their volume
# assumption is different from the overflow class: dictionary size
# grows with data until the value grid saturates, so the sf1 pass
# converts the "bounded by the value grid" docstring claims into
# tested facts (and exercises the cc·k ≥ q·n integer rule at 10× the
# cumulative counts).
DICT_WINDOW_CLASS = [
    "stats_winsorized_mean",  # (flag, cents) dictionary clamp bounds
    "stats_kaplan_meier",  # duration dictionary, two dist_rank passes
    "stats_km_by_cohort",  # cohort-partitioned (cohort, minute) dict
    "quality_snapshot_psi",  # n_chars dictionary decile edges
    "quality_source_length_profile",  # (source, n_chars) dictionary
    "skyline_price_size_frontier",  # (brand, price) dictionary sweep
]

# Round-8 additions whose accumulators reach int64-adjacent magnitudes
# at volume: Spearman's rank moments (~4n^3), Mann-Whitney's tie term
# (n^3 worst case) and doubled rank sums (~2n^2), the A/B z^2
# cross-product (d^2*N*1e6), ABC's cross-multiplied cumulative-revenue
# cuts, and RFM's triple dictionary-decile machinery.
ROUND8_CLASS = [
    "stats_spearman_corr",
    "stats_mann_whitney_u",
    "stats_ab_conversion_ztest",
    "lineitem_abc_pareto",
    "customer_rfm_segments",
]

# The round-8 late registrations + entropy family (VERDICT r8 item 4):
# Kendall's concordant/discordant pair counts reach ~n^2/4 ≈ 1e13 at
# sf1 and its tau denominator multiplies two ~n^2/2 terms (DECIMAL(38,0)
# guarded); Kruskal-Wallis and ANOVA carry rank/sum-of-squares moments
# in the same n^2-n^3 family; the entropy pair (information gain, JS
# divergence) floors e9-scaled log terms against counts that scale 10x.
ROUND9_CLASS = [
    "stats_kendall_tau_b",
    "stats_kruskal_wallis",
    "stats_anova_f_oneway",
    "stats_information_gain",
    "quality_js_divergence_sources",
    "text_ttr_hapax_profile",
    "stats_brown_forsythe",
    "quality_psi_by_source",
    # round-9 second half: Jarque-Bera's sum(cents^4) is ~2e34 at sf1
    # (the deepest DECIMAL(38,0) accumulator in the repo), Welch's
    # squared-cents sums ~2.5e21, HITS's w*score products ~6e15 at sf1
    # growing with the fact table, SAX's e3-squared day sums.
    "stats_jarque_bera",
    "stats_welch_ttest",
    "graph_hits_nations",
    "ts_sax_symbolic",
]

# Round-10 additions (VERDICT r9 item 6): the dedup/LSH family had
# never run at 10× — band-join fan-out, packed-array verify memory,
# and prefix-filter candidate counts all change shape with volume
# (and the key-shifted copies make every document 10× duplicated, so
# the candidate streams are ~100× sf0.1 — a real fan-out stress).
# Plus the round-10 registrations with volume-coupled accumulators:
# Cochran-Armitage's A² ~ 25n⁴ ≈ 2.5e25 at sf1 (DECIMAL-guarded),
# Cochran's Q squared column totals, the digest's w·v sums, IRLS's
# w·x·y products (~2.5e23), and the seasonal decomposition's 10×
# daily sums.
ROUND10_CLASS = [
    "dedup_minhash_lsh",
    "dedup_prefix_filter_jaccard",
    "dedup_lsh_band_sensitivity",
    "curate_fuzzy_contamination",
    "stats_cochran_armitage_trend",
    "stats_cochran_q_mcnemar",
    "sketch_quantile_digest",
    "stats_irls_quantile_regression",
    "ts_seasonal_decompose",
    "stats_cucconi_location_scale",  # Σcb·m2² ≈ 4N³ ≈ 8.6e20 at sf1
]

# Round-11 additions (VERDICT r10 item 4): the iterative/graph family
# had never run at 10× — checkpoint-chain depth, frontier fan-out, and
# the e9 fixed-point accumulators all change shape with volume even
# when |V| stays dimension-bounded (nation keys are unshifted in the
# sf1 copies, so the graph keeps ≤25 nodes while the fact-sized flows
# aggregation feeding it grows 10×). Plus the four round-11
# registrations: the reservoir audit's rank window at 10× group sizes,
# the alias table's W = Σw scaling 10× (u_i = 5·w_i against it), GN's
# edge-term fan-out, and the STL weight products Σw·det (~1e6·1e7·days).
ROUND11_CLASS = [
    "graph_reachability_hops",
    "graph_kcore_nations",
    "graph_betweenness_nations",
    "graph_components_star_contraction",
    "graph_label_propagation",
    "graph_girvan_newman_edges",
    "sample_reservoir_group_audit",
    "sample_alias_table_build",
    "ts_stl_robust_decompose",
    "sketch_kmv_jaccard_pairs",  # 10× distinct users through the
    # bottom-k build and the exact self-join fan-out
    "ts_binseg_changepoints",  # n·prefix products ≈ 3e17 headroom check
]

ROUND11B_CLASS = [
    "stats_wilcoxon_signed_rank",  # n(n+1)(2n+1) user-count cubes
    "sketch_ams_f2_moment",  # signed-sum squares at 10x frequencies
    "ts_ljung_box_whiteness",  # n(n+2)*acf^2 e12 terms
    "ts_page_hinkley_drift",  # n*prefix HUGEINT products
    "stats_cooks_distance_days",  # SSE_num = D(nSyy-Sy^2)-B^2 headroom
    "stats_dispersion_vmr",  # n*SS - S^2 count products
    "ts_seasonal_strength",  # x7-scaled variance products
    "stats_runs_test_daily",  # 2n1n2(2n1n2-n) products
    "graph_modularity_communities",  # 4m*in_c at 10x edge mass
    "graph_degree_assortativity",  # backbone rank at 10x weights
    "scale_layout_planner",  # rows*days*1e6 share products
]

ROUND11C_CLASS = [
    "stats_durbin_watson",  # SSE/residual DECIMAL headroom at 10x cents
    "stats_mann_kendall_trend",  # S and tie-corrected Var products
    "stats_turning_points_test",  # counts only, cheap invariance check
    "stats_bartlett_variance",  # pooled vnum HUGEINT sums at 10x
    "stats_bowley_skewness",  # 10x-deep value-dictionary cumulative
    "ts_hurst_exponent",  # W_i = m*prefix products at 10x daily sums
    "ts_markov_entropy_rate",  # 10x transitions through the e9 terms
    "text_vocab_coverage",  # 10x token dictionary through dist_rank
    "text_readability_ari",  # 471*chars*10000 products at 10x corpus
    "graph_rich_club",  # backbone weights at 10x trade mass
    "graph_eccentricity_nations",  # BFS sigma counts at 10x edge weights
    "quality_join_fanout_audit",  # fanout*n*1e6 share products
    "embed_silhouette_audit",  # squared-distance HUGEINT sums at 10x
    "quality_fd_violations",  # 10x LHS dictionaries
    "stats_friedman_ranks",  # cents sums at 10x through rank cells
    "graph_personalized_pagerank",  # 10x flow mass through normalization
    "graph_local_clustering",  # backbone shape at 10x weights
]

# Round-12 additions (VERDICT r11 item 3): the two families the sf1
# rehearsal had NEVER exercised. Streaming replays change shape with
# volume in ways no batch sweep can see — per-batch state-store commit
# counts, watermark progression over 10× the event stream, interval-
# join state retention, the dedup state keyed by 10× distinct event
# ids, and the foreachBatch sink stores (the AB store now MERGEs
# executor-side; the eviction ledger appends per batch). Multimodal
# decodes are row-local but their Arrow batches carry 10× the binary
# payload count per task — the batch-memory shape the r11 verdict
# called out. Plus the five round-12 registrations with their own
# volume surfaces: HL's cumulative pair weights reach n_a·n_r ≈ 2.3e12
# at sf1, PACF's daily sums scale 10×, the articulation fixpoint's
# backbone feeds off 10× trade mass, and Heaps' per-source token
# counts grow 10× through the ln grid.
ROUND12_CLASS = [
    "streaming_windowed_counts",
    "streaming_session_windows",
    "streaming_append_late_data",
    "streaming_interval_join",
    "streaming_interval_join_left_outer",
    "streaming_stateful_totals",
    "streaming_dedup_watermark",
    "streaming_static_enrich",
    "streaming_topk_trending",
    "streaming_ab_conversion_live",
    "streaming_session_eviction_audit",
    "multimodal_ppm_decode",
    "multimodal_wav_decode",
    "multimodal_resize",
    "multimodal_frame_sample",
    "multimodal_audio_vad",
    "stats_hodges_lehmann_shift",
    "ts_pacf_daily",
    "graph_articulation_points",
    "text_heaps_law_fit",
    # ANN/embedding family — added after the rehearsal's first pass
    # FOUND TWO REAL DEFECTS here (the only sweep failures since r6):
    # PQ/ADC ranked the 10x-duplicated (mathematically tied) neighbors
    # by float association-order noise, and ann_ivf_assign's oracle
    # dropped 729 vectors through a float self-equality join over a
    # double-inlined CTE. Both now rank on e6-floored integers; the
    # class keeps the whole family under 10x probe fan-out.
    "ann_ivf_assign",
    "ann_ivf_search",
    "ann_ivf_recall",
    "ann_pq_adc_topk",
    "ann_pq_recall",
    "embed_dimension_stats",
    "embed_int8_quantize_audit",
]

# Late-round-12 registrations. Levene is the volume case: q_g =
# Σ c·u² with u = |n_j·cents − S_j| reaches ~6e31 at sf1 — int64 is
# long gone, both engines must stay in DECIMAL(38,0)/HUGEINT.
# Bridges re-runs the scenario fixpoint off 10× trade mass (same
# backbone shape, weights ×10). Good-Turing pins the DEGENERATE arm:
# the sf1 fixture is 10 exact copies of every document, so every
# trigram count is exactly 10×f and the r ≤ 5 spine is EMPTY — both
# engines must agree on the empty result, the closed-vocabulary shape
# that motivated the trigram basis in the first place.
ROUND12B_CLASS = [
    "stats_levene_mean_center",
    "graph_bridges",
    "text_good_turing_unseen",
    # Multimodal family closed 5/9 -> 9/9: the remaining decoders/
    # feature extractors are the same Arrow-batch shape as the swept
    # five but carry their own 10x surfaces (autocorr's per-frame
    # integer products, aHash's 64-bit bucket keys over 10x images).
    "multimodal_features",
    "multimodal_audio_framing",
    "multimodal_audio_autocorr",
    "image_ahash_buckets",
    # Graph family closed 15/19 -> 19/19. Adding these FOUND A REAL
    # ORACLE-SCALE DEFECT: link-prediction's DuckDB oracle chained
    # non-materialized CTEs off the 4-table flows join (each reference
    # re-inlines the whole chain — >25 min at sf1, killed); the
    # degree-distribution oracle re-ran the full MinHash pipeline per
    # shingles/bands/sizes/pairs reference (390 s). Both now mark
    # multi-referenced CTEs MATERIALIZED (the round-11 1e3188e rule,
    # applied to the two graph oracles that had never run at 10x):
    # link-pred oracle 0.9 s, degree-dist oracle 16.5 s at sf1.
    "graph_pagerank_nations",
    "graph_triangle_stats",
    "graph_degree_distribution",
    "graph_link_prediction_jaccard",
]

# Round-13 registrations. Seasonal MK re-runs the per-weekday pair
# algebra on 10x trade mass (same calendar, so same pair count — the
# point: dictionary-bounded work is volume-invariant). The periodogram
# pins the e9-floored trig dictionary and the DECIMAL(38,0) projection
# squares at 10x magnitudes. The checkpoint-restart replay proves the
# stop/restore/resume contract holds when each epoch carries 10x rows
# (state-store restore under real volume, and the 11:30 cutoff still
# splits a live hour in the sf1 fixture — verified).
ROUND13_CLASS = [
    "stats_seasonal_mann_kendall",
    "ts_periodogram_weekly",
    "streaming_checkpoint_restart_replay",
    # The TPC-H star-join family had ZERO committed 10x evidence (its
    # canonical double sums violate the exact-hash contract). These
    # integer-cents variants keep the q9/q18 join topology bit-exact
    # under any partitioning; q21's output was integer-exact all along
    # (counts only), so the canonical shape joins the class directly.
    "q9_profit_cents_by_nation_year",
    "q18_large_volume_cents",
    "q21_waiting_suppliers",
    # Pulled-forward round-14 trio: Grubbs is the overflow case (u and
    # q_red reductions sized for sf1 in statistics.py); the late-facts
    # audit re-runs the fact join at 10x; the rate-limit audit's
    # per-minute counters grow exactly 10x on the copy-stacked fixture
    # (same minute grid, same peak minute) — the volume-invariance the
    # docstring claims, proven.
    "stats_grubbs_max_outlier",
    "audit_late_arriving_facts",
    "streaming_rate_limit_audit",
    # Second round-13 batch: Q-Q deciles exercise the integer
    # cross-multiplication at 10x counts; the cohort distinct-active
    # join re-runs the custkey co-partition at 10x; the planner's
    # waterfilling must still sum EXACTLY to the 10x budget.
    "stats_qq_drift_value",
    "ts_cohort_repeat_purchase",
    "curate_token_budget_planner",
    # Third batch: the control chart's cross-multiplied inequality and
    # the segmented regression's DECIMAL(38,0) SSE products are sized
    # for sf1 magnitudes (dollar-reduced y; see _seg_sse) — the sweep
    # proves them; HHI's day grid is volume-invariant by construction.
    "stats_leadtime_control_chart",
    "stats_segmented_regression",
    "stats_hhi_concentration_drift",
    # Fourth batch: SLA bands rerun the per-order completion join at
    # 10x; co-exceedance day grids are volume-invariant (counter
    # growth only); the gap audit replays a real stream whose emitted
    # minute spine must match batch exactly at 10x arrivals.
    "stats_fill_time_sla_bands",
    "stats_tail_coexceedance_types",
    "streaming_gap_outage_audit",
    # Fifth batch: the power iteration's G.v products hit their
    # documented DECIMAL(38,0) ceiling analysis only at 10x gram
    # magnitudes; BTYD reruns the per-customer reduction at 10x
    # customers.
    "embed_principal_direction",
    "ts_btyd_frequency_recency",
    # Bivariate Theil-Sen's pair weights are count PRODUCTS (~100x on
    # the copy-stacked fixture) and its n_pairs sum approaches long
    # range only far beyond sf1 — the sweep proves the crossing; the
    # second-PC deflation hits its documented ~4e21 HUGEINT products
    # at 10x gram magnitudes.
    "stats_theil_sen_price_quantity",
    "embed_second_component",
]

SWEEP_CLASS = (
    OVERFLOW_CLASS
    + DICT_WINDOW_CLASS
    + ROUND8_CLASS
    + ROUND9_CLASS
    + ROUND10_CLASS
    + ROUND11_CLASS
    + ROUND11B_CLASS
    + ROUND11C_CLASS
    + ROUND12_CLASS
    + ROUND12B_CLASS
    + ROUND13_CLASS
)


def _strides() -> dict[tuple[str, str], int]:
    out: dict[tuple[str, str], int] = {}
    for specs in KEYS.values():
        for _, st, sc in specs:
            if (st, sc) not in out:
                t = pq.read_table(os.path.join(SRC, f"{st}.parquet"), columns=[sc])
                out[(st, sc)] = int(pc.max(t[sc]).as_py()) + 1
    return out


def generate() -> None:
    os.makedirs(DST, exist_ok=True)
    strides = _strides()
    for name in TABLES:
        dst = os.path.join(DST, f"{name}.parquet")
        if os.path.exists(dst):
            continue
        src = pq.read_table(os.path.join(SRC, f"{name}.parquet"))
        if name in COPY_ONCE:
            pq.write_table(src, dst)
            print(f"copied {name} ({src.num_rows} rows)")
            continue
        parts = []
        for i in range(COPIES):
            t = src
            for col, st, sc in KEYS[name]:
                idx = t.schema.get_field_index(col)
                shifted = pc.add(t[col], i * strides[(st, sc)])
                # keep the fixture's exact column type (int64)
                shifted = pc.cast(shifted, t.schema.field(col).type)
                t = t.set_column(idx, t.schema.field(col), shifted)
            parts.append(t)
        out = pa.concat_tables(parts)
        pq.write_table(out, dst)
        print(f"wrote {name}: {src.num_rows} -> {out.num_rows} rows")


def main() -> int:
    subset = bool(sys.argv[1:])
    only = sys.argv[1:] or SWEEP_CLASS
    generate()

    from check_oracles import canon, value_hash  # noqa: E402

    from gotsdb_spark.operators import ORACLES, QUERIES  # noqa: E402
    from gotsdb_spark.session import get_spark, release_blocks  # noqa: E402

    spark = get_spark("sf1-sweep")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DST}/{t}.parquet')"
        )
    statuses: dict[str, str] = {}
    failures: list[str] = []
    timings: dict[str, float] = {}
    for name in only:
        t0 = time.time()
        try:
            sdf = QUERIES[name](spark, DST).toPandas()
            odf = con.execute(ORACLES[name]).fetchdf()
        except Exception as exc:  # noqa: BLE001 — record and continue
            print(f"FAIL {name}: {type(exc).__name__}: {exc}"[:300])
            failures.append(name)
            statuses[name] = "error"
            release_blocks(spark)
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows spark={len(sdf)} duck={len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append("cols differ")
        if not problems:
            cs, co = canon(sdf), canon(odf)
            if value_hash(cs) != value_hash(co):
                problems.append("value mismatch")
        timings[name] = round(time.time() - t0, 1)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures.append(name)
            statuses[name] = "fail"
        else:
            print(f"PASS {name} ({len(sdf)} rows, {timings[name]}s)")
            statuses[name] = "pass"
        release_blocks(spark)
    if subset:
        # Ad-hoc subset runs must not clobber the committed full-class
        # artifact.
        print(f"\n{len(failures)} failures (subset run; artifact not written)")
        return 1 if failures else 0
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_sweep_sf1.json")
    with open(out, "w") as fh:
        json.dump(
            {
                "sf_dir": DST,
                "generation": f"{COPIES}x key-shifted FK-consistent copies of sf0.1",
                "swept_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                "query_class": (
                    "e6/e9-scaled integer accumulators near int64"
                    " + dictionary-window frames + round-8 wide products"
                ),
                "n_pass": sum(1 for v in statuses.values() if v == "pass"),
                "n_fail": len(failures),
                "statuses": statuses,
                "timings_s": timings,
            },
            fh,
            indent=1,
            sort_keys=True,
        )
    print(f"\n{len(failures)} failures; wrote {out}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    raise SystemExit(main())
