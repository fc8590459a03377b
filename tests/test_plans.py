"""Plan-quality regression tests: pushdown, pruning, broadcast, no
cartesian blowups. These pin the *physical* properties that make the
operators viable at 100 TB — a change that silently drops one fails
here, not on the cluster."""


import pytest
from gotsdb_spark.operators import QUERIES
from gotsdb_spark.plans import (
    broadcast_join_count,
    has_cartesian_product,
    pushed_filters,
    read_schema_columns,
    shuffle_count,
)

SF = "/root/testdata/sf0.001"


def test_q6_filters_reach_parquet_scan(spark):
    df = QUERIES["q6_forecast_revenue"](spark, SF)
    pf = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pf, f"{col} not pushed to scan: {pf}"


def test_q6_column_pruning(spark):
    df = QUERIES["q6_forecast_revenue"](spark, SF)
    scans = read_schema_columns(df)
    assert scans, "no parquet scans found"
    # 4 needed columns, not all 11 of lineitem
    assert all(len(cols) <= 4 for cols in scans), scans


def test_q5_star_join_broadcasts_dimensions(spark):
    df = QUERIES["q5_local_supplier_volume"](spark, SF)
    # 5 dimension joins (customer/supplier/nation/region + the
    # supplier-nation equi-pair) must all be broadcast
    assert broadcast_join_count(df) >= 4
    assert not has_cartesian_product(df)


def test_q1_single_shuffle(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF)
    # partial agg → exchange → final agg: exactly one shuffle
    assert shuffle_count(df) == 1


def test_topk_no_global_sort(spark):
    df = QUERIES["topk_orders_per_customer"](spark, SF)
    # one shuffle on the window partition key, and no whole-dataset
    # Exchange rangepartitioning (global sort)
    from gotsdb_spark.plans import formatted_plan

    plan = formatted_plan(df)
    assert "rangepartitioning" not in plan.lower()
    assert shuffle_count(df) == 1


def test_top_accounts_uses_take_ordered(spark):
    from gotsdb_spark.plans import formatted_plan

    df = QUERIES["top_accounts_global"](spark, SF)
    # ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-partition
    # top-k + merge), never a full sort
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_dedup_minhash_no_cartesian(spark):
    df = QUERIES["dedup_minhash_lsh"](spark, SF)
    assert not has_cartesian_product(df)


def test_dedup_minhash_seeds_hashed_once(spark):
    """The band self-join reads the signature frame twice; each MinHash
    seed must still be evaluated at most once in the executed plan, not
    once per join side."""
    from gotsdb_spark.operators.dedup import N_MINHASH

    df = QUERIES["dedup_minhash_lsh"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("md5(") <= N_MINHASH, plan[:2000]


def test_events_scan_prunes_for_json_query(spark):
    df = QUERIES["json_props_extract"](spark, SF)
    scans = read_schema_columns(df)
    assert all(set(c) <= {"event_type", "props"} for c in scans), scans


def test_join_strategy_follows_broadcast_threshold(spark):
    """Join strategy control: with auto-broadcast disabled the fact⋈fact
    join falls back to SortMergeJoin; with it on, the dim side
    broadcasts. Catalyst (not the query author) owns the choice."""
    from gotsdb_spark.plans import formatted_plan
    from gotsdb_spark.sources.registry import load_table

    from pyspark.sql import functions as F

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        orders = load_table(spark, "orders", SF)
        lineitem = load_table(spark, "lineitem", SF)
        plan = formatted_plan(
            lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        )
        assert "SortMergeJoin" in plan
        # an explicit hint still wins over the disabled threshold —
        # built inline because no production query forces a broadcast
        # on a growth-coupled frame (the hint would forbid AQE's
        # sort-merge fallback at 100 TB)
        nation = load_table(spark, "nation", SF)
        customer = load_table(spark, "customer", SF)
        hinted = customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        assert "BroadcastHashJoin" in formatted_plan(hinted)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # with the default threshold restored, q3's filtered customer dim
    # broadcasts on Catalyst's own estimate — no hint in the query
    assert "BroadcastHashJoin" in formatted_plan(
        QUERIES["q3_shipping_priority"](spark, SF)
    )


def test_ann_ivf_search_plan(spark):
    from gotsdb_spark.plans import formatted_plan

    df = QUERIES["ann_ivf_search"](spark, SF)
    plan = formatted_plan(df)
    # The only nested-loop allowed is the 10-row centroid broadcast; the
    # candidate join on list_id must be a hash equi-join, never cartesian.
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan


def test_ts_pruned_week_partition_pruning(spark):
    from gotsdb_spark.plans import formatted_plan

    df = QUERIES["ts_pruned_week_stats"](spark, SF)
    plan = formatted_plan(df)
    # dt partition predicates prune day-directories at planning time;
    # the ts row predicate still reaches the parquet scan.
    assert "PartitionFilters" in plan and "dt#" in plan, plan
    assert ">= 2024-01-08" in plan and "<= 2024-01-15" in plan, plan
    assert "GreaterThanOrEqual(ts" in plan, plan


def test_events_default_scan_uses_partitioned_layout(spark):
    from gotsdb_spark.plans import formatted_plan
    from gotsdb_spark.sources.registry import load_table

    df = load_table(spark, "events", SF)
    assert "events_dt" in formatted_plan(df.groupBy().count())


def test_bucketed_join_query_single_shuffle(spark):
    from gotsdb_spark.plans import formatted_plan

    df = QUERIES["bucketed_join_priority_revenue"](spark, SF)
    plan = formatted_plan(df)
    # Bucketed scans feed the join directly (at tiny SF, AQE may swap
    # the SortMergeJoin for a broadcast join — either way neither join
    # input shuffles); the only Exchange is the post-join groupBy.
    assert shuffle_count(df) == 1, plan
    assert "CartesianProduct" not in plan


def test_pack_token_bins_single_shuffle(spark):
    # The window (partitionBy source) and the groupBy (source, bin_id)
    # must share ONE Exchange: hash partitioning on source satisfies the
    # grouping's clustered distribution, so packing shuffles once.
    df = QUERIES["curate_pack_token_bins"](spark, SF)
    assert shuffle_count(df) == 1


def test_contamination_is_equi_join(spark):
    # Decontamination candidates come from an equi-join on the shingle,
    # never an all-pairs comparison.
    df = QUERIES["curate_contamination"](spark, SF)
    assert not has_cartesian_product(df)


def test_hash_split_single_shuffle(spark):
    # Pure map (md5 bucket) + partial/final aggregation: one shuffle of
    # counter rows only.
    df = QUERIES["curate_hash_split"](spark, SF)
    assert shuffle_count(df) == 1


def test_m4_downsample_single_shuffle(spark):
    # Both row_number windows and the final aggregation share the
    # (event_type, bucket) hash partitioning: one Exchange, two sorts.
    df = QUERIES["ts_m4_downsample"](spark, SF)
    assert shuffle_count(df) == 1


def test_counter_rate_two_shuffles(spark):
    # One shuffle for the per-series window, one (partial+final) for the
    # regroup to (event_type, day) — nothing more.
    df = QUERIES["ts_counter_rate"](spark, SF)
    assert shuffle_count(df) == 2
    assert not has_cartesian_product(df)


def test_kmeans_no_cartesian_blowup(spark):
    # Centroid distance fan-out is the k-row broadcast nested-loop (the
    # intended plan, same as ann_ivf_search); an unbroadcast
    # CartesianProduct would be the scale-killer and must never appear.
    from gotsdb_spark.plans import formatted_plan

    df = QUERIES["kmeans_lloyd_clusters"](spark, SF)
    assert "CartesianProduct" not in formatted_plan(df)


def test_keyset_pagination_pushes_down_and_takes_ordered(spark):
    # The cursor predicate must reach the scan and the page must plan
    # as TakeOrderedAndProject — constant cost per page at any offset.
    from gotsdb_spark.plans import formatted_plan

    df = QUERIES["keyset_pagination_orders"](spark, SF)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "o_totalprice" in " ".join(pushed_filters(df)), pushed_filters(df)


def test_bloom_probe_fact_never_shuffles(spark):
    """The Bloom probe side (lineitem) must be filtered map-side via the
    broadcast bitset and semi-joined via broadcast — the fact rows never
    hash-shuffle. The 1-row scalar assemblies are broadcast nested-loop
    joins by design; what must NOT appear is a non-broadcast
    CartesianProduct or a SortMergeJoin on the probe key."""
    from gotsdb_spark.plans import formatted_plan

    df = QUERIES["bloom_semi_join_audit"](spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # the exact-match check is a broadcast outer join fused into the
    # same probe pass as the bloom flag (one lineitem scan total)
    assert "BroadcastHashJoin" in plan
    from gotsdb_spark.plans import fact_scan_counts
    assert fact_scan_counts(df).get("lineitem", 0) <= 1


def test_countmin_counters_partial_agg(spark):
    """CMS counter build must partially aggregate before its shuffle —
    each map task ships <= d*w counter rows, not raw fact rows."""
    from gotsdb_spark.plans import formatted_plan

    df = QUERIES["heavy_hitters_countmin"](spark, SF)
    plan = formatted_plan(df)
    # partial_count markers on both the counter and exact branches
    assert plan.count("partial_count") >= 2 or "partial" in plan.lower()
    assert "CartesianProduct" not in plan


def test_referential_integrity_broadcasts_dims(spark):
    from gotsdb_spark.plans import fact_scan_counts, formatted_plan

    df = QUERIES["quality_referential_integrity"](spark, SF)
    # joins are unhinted (the lineitem→orders edge's key set is
    # growth-coupled); at fixture scale AQE still broadcasts every
    # key-set side, and nothing may plan cartesian
    assert broadcast_join_count(df) >= 7
    assert "CartesianProduct" not in formatted_plan(df)
    # one single-column pass per FK edge: lineitem carries exactly its
    # three FK audits, orders its own audit + the lineitem edge's key
    # side — never the old two-passes-per-edge shape (6 lineitem scans)
    scans = fact_scan_counts(df)
    assert scans.get("lineitem", 0) == 3, scans
    assert scans.get("orders", 0) == 2, scans


def test_zorder_audit_is_scan_plus_agg(spark):
    """Z-order bucketing is arithmetic — exactly one shuffle for the
    final groupBy, nothing else (no sort, no range partitioning)."""
    from gotsdb_spark.plans import formatted_plan

    df = QUERIES["layout_zorder_clustering"](spark, SF)
    plan = formatted_plan(df)
    assert "rangepartitioning" not in plan.lower()
    assert shuffle_count(df) == 1


def test_rolling_zscore_window_key_scales(spark):
    """The scoring window must partition on (event_type, day-bucket),
    never on event_type alone: with ~5 event types a bare event_type
    window collapses parallelism to 5 tasks regardless of data size.
    Every Window node in the physical plan must carry a multi-column
    partition spec that includes the bucket column."""
    import re

    df = QUERIES["ts_rolling_zscore_anomaly"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # (function list, partition spec) per Window node; the scoring
    # windows are the ones computing avg/stddev over the event stream.
    # (The cumulative-offset window over the per-bucket metadata table
    # legitimately partitions on event_type alone — it sees one row per
    # bucket, not per event.)
    nodes = re.findall(r"Window \[([^\]]*)\], \[([^\]]*)\]", plan)
    scoring = [spec for fns, spec in nodes if "avg(" in fns or "stddev" in fns]
    assert scoring, plan[:2000]
    for spec in scoring:
        cols = [c.strip().split("#")[0] for c in spec.split(",")]
        assert "grp" in cols and len(cols) >= 2, (
            f"scoring window not bucketed: {spec}"
        )


def test_prefix_filter_shingle_freq_not_windowed(spark):
    """Shingle frequency must come from a map-side-combinable groupBy
    joined back on the shingle key, not `count(*) OVER (PARTITION BY
    key)`: shingle frequency is Zipfian and AQE can split skewed joins
    but not skewed windows. No Window node in the plan may partition on
    the shingle key (the r13 optimization shuffles xxhash64(sh) as `h`
    — 8 bytes instead of the string — so the key to guard is `h`).

    Pinned on the candidate stage (_prefix_filter_candidates) directly:
    the round-13 pair-budget guard checkpoints the candidate frame, so
    the registered query's final plan no longer shows the upstream
    shingle-frequency aggregate."""
    import re

    from gotsdb_spark.operators.dedup import (
        _prefix_filter_candidates,
        shingle_table,
    )

    df = _prefix_filter_candidates(shingle_table(spark, SF))
    plan = df._jdf.queryExecution().executedPlan().toString()
    for spec in re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        cols = [c.strip().split("#")[0] for c in spec.split(",")]
        assert "sh" not in cols and "h" not in cols, (
            f"window partitions on the shingle key: {spec}"
        )
    assert re.search(r"HashAggregate.*keys=\[h#\d+L?\]", plan), plan[:2000]


def test_repetition_ratio_no_explode_no_shuffle(spark):
    """Trigram stats stay row-local (array higher-order funcs): the
    whole query is a scan-project with zero shuffles."""
    df = QUERIES["text_repetition_ratio"](spark, SF)
    assert shuffle_count(df) == 0


def test_dpp_subquery_prunes_event_partitions(spark):
    """The dt-partitioned events scan must carry a dynamicpruning
    expression in its PartitionFilters — day directories are skipped at
    run time based on the dim-side join keys."""
    df = QUERIES["ts_dpp_expensive_days"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_prefix_filter_jaccard_no_cartesian(spark):
    """PPJoin-style candidates come from a prefix equi-join on shingle;
    a CartesianProduct would mean the filter degenerated to all-pairs."""
    df = QUERIES["dedup_prefix_filter_jaccard"](spark, SF)
    assert not has_cartesian_product(df)


def test_bm25_broadcasts_stats_and_df(spark):
    """BM25's corpus stats (1 row) and per-term df (3 rows) must reach
    the postings join as broadcasts — shuffling postings on term or
    replicating the corpus for a 1-row stats table would be the
    scale-killer."""
    df = QUERIES["text_bm25_topk"](spark, SF)
    assert not has_cartesian_product(df) or broadcast_join_count(df) >= 1
    assert broadcast_join_count(df) >= 2


def test_bfs_reachability_no_cartesian(spark):
    df = QUERIES["graph_reachability_hops"](spark, SF)
    assert not has_cartesian_product(df)


def test_ols_trend_single_shuffle(spark):
    """OLS reduces to 5 sufficient statistics per group: exactly one
    map-side-combinable aggregation shuffle, nothing else."""
    df = QUERIES["stats_ols_trend_by_type"](spark, SF)
    assert shuffle_count(df) == 1


def test_kmv_sketch_no_cartesian(spark):
    """The merge row cross-joins two 1-row aggregates — that must plan
    as a broadcast nested-loop over the 1-row side (intended), never a
    partitioned CartesianProduct."""
    from gotsdb_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["sketch_kmv_distinct_users"](spark, SF))
    assert "CartesianProduct" not in plan


def test_tfidf_vocab_join_not_broadcast(spark):
    """The per-term document-frequency table grows with the corpus, so
    it must reach the tf join as a shuffle join, never a broadcast
    (driver OOM at scale). The only broadcast allowed is the 1-row
    corpus-size frame."""
    df = QUERIES["text_tfidf_top_term"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan, plan[:2000]
    # one BroadcastNestedLoopJoin for the 1-row n_docs frame; the df
    # aggregate itself must not appear under a BroadcastExchange.
    assert "BroadcastHashJoin" not in plan, plan[:2000]


def test_registry_ledger_consistency():
    """Every registered query must be in the verify ledger (else it
    never enters the driver's 50-entry rotation window) and every
    oracle key must name a registered query — a registration slip
    would otherwise silently shrink the correctness gate."""
    import json
    import os

    from gotsdb_spark.operators import ORACLES, QUERIES

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "tools", "verify_ledger.json")) as fh:
        ledger = json.load(fh)
    missing = [n for n in QUERIES if n not in ledger]
    assert not missing, f"queries absent from ledger (run tools/update_coverage.py): {missing}"
    stale = [n for n in ledger if n not in QUERIES]
    assert not stale, f"ledger names no longer registered: {stale}"
    orphans = [n for n in ORACLES if n not in QUERIES]
    assert not orphans, f"oracles without queries: {orphans}"


def test_incremental_corpus_equi_join_no_cartesian(spark):
    """Delta-vs-corpus candidates must come from the band equi-join —
    shuffle ∝ delta, never an all-pairs product."""
    df = QUERIES["dedup_incremental_corpus"](spark, SF)
    assert not has_cartesian_product(df)


def test_histogram_sketch_shuffles_counts_not_rows(spark):
    """The sketch shuffle moves (day, bucket, count) rows — partial
    aggregation must reduce map output before the exchange, and the
    merged global row adds no extra scan of the raw table."""
    from gotsdb_spark.plans import formatted_plan

    df = QUERIES["sketch_histogram_quantiles"](spark, SF)
    plan = formatted_plan(df)
    # both the per-day branch and the global merge read the ONE
    # localCheckpoint-materialized sketch (Scan ExistingRDD), never the
    # raw table twice — the merge is computed from sketches, which is
    # the operator's whole claim. (Was InMemoryTableScan when a
    # cross-invocation cache existed; the checkpoint is per-invocation.)
    assert plan.count("ExistingRDD") >= 2, plan[:2000]
    assert "partial" in plan.lower()  # map-side combine before the shuffle


def test_dataset_card_broadcasts_top_lang(spark):
    """The dominant-language table is rows-per-source tiny and must
    broadcast; the documents side never shuffles for that join."""
    df = QUERIES["curate_dataset_card"](spark, SF)
    assert broadcast_join_count(df) >= 1
    assert not has_cartesian_product(df)


def test_aqe_skew_join_split_fires(spark):
    """Skew-join rehearsal: prove AQE's skew handling actually fires on
    this build, next to the salting path (skew_salted_event_segment_
    counts) that covers the cases AQE can't see.

    A deliberately Zipfian build side (90% of rows on one key) is
    sort-merge-joined under thresholds scaled down to fixture size;
    after execution the adaptive plan must mark the join's skewed side
    (SortMergeJoin ... skew=true / isSkew=true in the final plan), i.e.
    the straggler partition was split at runtime. At 100 TB the same
    mechanism splits hot key partitions without any code change — this
    pins that the engine-level remedy is actually available and not
    silently disabled by session config.
    """
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        # low enough that the hot partition qualifies even after shuffle
        # compression (repeated keys compress ~40x)
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        # allow the split even where it costs an extra shuffle downstream
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # 90% of 60k left rows share key 0; right side is uniform.
        left = spark.range(60_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 100)
            .alias("k"),
            F.concat(F.lit("v" * 64), F.col("id")).alias("payload"),
        )
        right = spark.range(100).select(
            F.col("id").alias("k"), F.col("id").alias("dim")
        )
        # Global aggregate: partial aggregation is partition-local with
        # no required distribution, so the skew-split rule is free to
        # break the join's output partitioning (a groupBy on the join
        # key would inhibit the split — co-partitioning would need to
        # be preserved).
        # sum(length(payload)) keeps the 64-byte payload column flowing
        # through the shuffle — with keys alone, column pruning shrinks
        # the hot partition below any realistic skew threshold
        joined = left.join(right, "k").agg(
            F.count("*").alias("n"), F.sum(F.length("payload")).alias("s")
        )
        joined.collect()  # AQE re-plans at runtime; inspect the FINAL plan
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan or "isSkew=true" in plan, plan[:4000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_range_layout_multifile_and_pushdown(spark):
    """The range-partitioned lineitem copy must actually be multi-file
    (repartitionByRange(8) → 8 range-sorted files) and the quarter
    predicate must reach the parquet scan, where per-file min/max on
    the range key skips the other files at planning time."""
    import glob
    import os

    from gotsdb_spark.plans import pushed_filters
    from gotsdb_spark.sources.registry import lineitem_range_path

    df = QUERIES["layout_range_scan_q1_cents"](spark, SF)
    path = lineitem_range_path(SF)
    assert os.path.isfile(os.path.join(path, "_SUCCESS"))
    parts = glob.glob(os.path.join(path, "part-*.parquet"))
    assert len(parts) >= 2, parts  # single-file would defeat the layout
    pf = " ".join(pushed_filters(df))
    assert "l_shipdate" in pf, pf


def test_semantic_dedup_cluster_scoped_no_cartesian(spark):
    """SemDeDup candidate generation must stay an equi-join on list_id
    (within-cluster pairs) — the only allowed nested-loop is the k-row
    broadcast centroid crossJoin for assignment; an accidental
    corpus-level pair join would be O(n^2) and shows up here as a
    cartesian over the non-broadcast sides."""
    from gotsdb_spark.plans import formatted_plan

    df = QUERIES["dedup_semantic_clusters"](spark, SF)
    plan = formatted_plan(df)
    # the assignment crossJoin against broadcast centroids is fine; a
    # CartesianProduct node (non-broadcast nested loop) is not
    assert "CartesianProduct" not in plan, plan[:2000]
    assert broadcast_join_count(df) >= 1


def test_exact_substring_spans_no_cartesian_and_partial_agg(spark):
    """Span candidates must come from the span equi-join (df-capped
    postings), never an all-pairs product. As of r10 the narrowed
    postings are checkpointed (the df-cap HashAggregate lives inside
    that subtree), so the visible plan must self-join the ExistingRDD
    postings and scan documents zero times."""
    from gotsdb_spark.plans import fact_scan_counts

    df = QUERIES["dedup_exact_substring_spans"](spark, SF)
    assert not has_cartesian_product(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan, plan[:2000]
    assert fact_scan_counts(df).get("documents", 0) == 0


def test_boilerplate_share_no_window_on_shingle(spark):
    """Boilerplate doc-frequency must be a groupBy joined back on sh —
    a window over the Zipfian shingle key has no skew remedy."""
    import re

    df = QUERIES["text_boilerplate_share"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan[:2000]
    assert not has_cartesian_product(df)


def test_fuzzy_linkage_blocked_equi_join(spark):
    """Record linkage must join on the blocking key (brand equi-join);
    a cartesian/BNLJ product means blocking degenerated to all-pairs."""
    df = QUERIES["linkage_fuzzy_name_match"](spark, SF)
    assert not has_cartesian_product(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_key_skew_audit_two_shuffles_and_pruned_scan(spark):
    """Per-key counts are one keyed shuffle; the single-row summary
    adds one SinglePartition exchange; the events scan reads only the
    key column."""
    df = QUERIES["audit_key_skew"](spark, SF)
    assert shuffle_count(df) <= 2
    scans = read_schema_columns(df)
    assert scans and all(cols == ["user_id"] for cols in scans), scans


def test_kmv_key_overlap_no_cartesian_and_cache_reuse(spark):
    """The sketch assembly row uses deliberate 1-row broadcast joins
    (BNLJ is expected); what must never appear is a real
    CartesianProduct, and each side's hashed key set must be built
    once and reused from cache across the sketch/exact branches."""
    from gotsdb_spark.plans import formatted_plan

    df = QUERIES["sketch_kmv_key_overlap"](spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    # each side's hashed key set is one localCheckpoint RDD reused by the
    # sketch/exact branches (was InMemoryTableScan under the removed
    # cross-invocation cache)
    assert plan.count("ExistingRDD") >= 2, plan[:2000]
    # k-smallest must be the distributed top-k (per-partition k + driver
    # merge), never a global-sort row_number window over all hashes
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_merge_upsert_is_keyed_full_outer(spark):
    """MERGE must resolve rows via a keyed full-outer join (shuffle on
    the merge key), never a cartesian, and the rollup keeps partial
    aggregation."""
    df = QUERIES["warehouse_merge_upsert"](spark, SF)
    assert not has_cartesian_product(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" in plan, plan[:2000]


def test_fuzzy_contamination_band_equi_join(spark):
    """Eval×train candidates must come from the banded-signature
    equi-join (shuffle O(band matches)), never an all-pairs product."""
    df = QUERIES["curate_fuzzy_contamination"](spark, SF)
    assert not has_cartesian_product(df)


def test_embedding_gram_mapinpandas_partials(spark):
    """The Gram matrix must aggregate map-side in Arrow batches: plan
    shows MapInPandas feeding one grouped shuffle of d^2-row partials —
    never an explode of per-row (i, j) products."""
    from gotsdb_spark.plans import formatted_plan

    df = QUERIES["stats_embedding_gram"](spark, SF)
    plan = formatted_plan(df)
    assert "MapInPandas" in plan, plan[:2000]
    assert "Generate" not in plan, plan[:2000]  # no explode
    assert shuffle_count(df) <= 2  # fan_out + the partial-sum groupBy


def test_sequence_motif_single_user_shuffle(spark):
    """Motif counting is one user-keyed shuffle + row-local string
    work: no window, no explode."""
    from gotsdb_spark.plans import formatted_plan

    df = QUERIES["ts_sequence_motif_counts"](spark, SF)
    plan = formatted_plan(df)
    assert "Window" not in plan, plan[:2000]
    assert "Generate" not in plan, plan[:2000]
    assert shuffle_count(df) == 1


def test_audio_autocorr_row_local_no_shuffle(spark):
    """Decode + the full autocorrelation loop run inside one Arrow
    batch: the plan is scan → MapInPandas with zero Exchanges beyond
    the deliberate fan_out repartition."""
    from gotsdb_spark.plans import formatted_plan

    df = QUERIES["multimodal_audio_autocorr"](spark, SF)
    plan = formatted_plan(df)
    assert "MapInPandas" in plan, plan[:2000]
    assert shuffle_count(df) <= 1  # fan_out only


def test_incremental_join_view_delta_joins_broadcast(spark):
    """The IVM refresh must run as separate delta-sized joins with the
    dim side broadcast — no cartesian, no single monolithic re-join
    shape (>= 4 joins: three delta terms + full recompute)."""
    df = QUERIES["incremental_join_view"](spark, SF)
    assert not has_cartesian_product(df)
    assert broadcast_join_count(df) >= 4


def test_basket_pairs_equi_join_take_ordered(spark):
    """Pair candidates come from the basket-key equi-join (bounded by
    basket size) and the top-k cut is TakeOrderedAndProject — never a
    cartesian or a global sort."""
    from gotsdb_spark.plans import formatted_plan

    df = QUERIES["basket_part_pair_lift"](spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_content_checksum_scan_plus_agg(spark):
    """Fingerprinting is scan+map+aggregate: only the two final
    single-row combines shuffle, and each scan reads just the three
    canonicalized columns."""
    df = QUERIES["audit_content_checksum"](spark, SF)
    assert shuffle_count(df) <= 2
    scans = read_schema_columns(df)
    assert scans and all(len(cols) <= 3 for cols in scans), scans


def test_weighted_median_windows_dictionary_domain(spark):
    """The cumulative window must run over the collapsed (group,
    distinct price) frame — a HashAggregate keyed on the pair feeds the
    Window — never over raw fact rows."""
    import re

    df = QUERIES["stats_weighted_median_price"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # two-key partial aggregate (flag, price-cents grouping expression)
    # below the flag-partitioned window
    assert re.search(r"HashAggregate\(keys=\[l_returnflag#\d+, \S+\]", plan), (
        plan[:2000]
    )
    assert re.search(r"Window .*\[l_returnflag#\d+\]", plan), plan[:2000]
    assert shuffle_count(df) <= 3


# ---------------------------------------------------------------------------
# No unbounded single-partition windows anywhere in the registry.
# ---------------------------------------------------------------------------

# Queries whose plans legitimately contain a Window over an Exchange
# SinglePartition: every frame below is bounded by a fixed domain or by
# calendar granularity, NOT by data volume, and each docstring carries
# the argument. Anything else in the registry with such a chain is a
# 100 TB scale bug (one executor sorts the whole keyspace) and fails
# the sweep.
ALLOWED_GLOBAL_WINDOWS = {
    "ts_linear_interpolate",  # day-spine frame (rows = days in range)
    "sketch_quantile_digest",  # merged centroid stream (days × 32 rows);
    # the exact-arm value-dictionary cumulative goes through dist_rank
    "orders_mom_growth",  # monthly series
    "stats_durbin_watson",  # single-series lag over the calendar day grid
    "window_share_of_total",  # ~15 (status, priority) grouped rows
    "concurrent_open_orders",  # sweep-line over day-granularity deltas
    "stats_chi_square_priority_flag",  # contingency cells (domain product)
    "stats_mutual_info_type_daypart",  # contingency cells (types × 4)
    "quality_benford_price_audit",  # exactly 9 first-digit rows
    "ts_locf_fill",  # day-spine frame (may plan without an exchange)
    "sketch_kmv_distinct_users",  # merged k-min set: ≤ k × days rows
    "text_rrf_hybrid_retrieval",  # two k-row top-k arms
    "stats_segmented_regression",  # prefix moments over the calendar
    # day grid (single series, ~2.5k rows — the stats_durbin_watson
    # class)
}


def test_detector_catches_global_window(spark):
    """Canary: the chain detector must flag a textbook unpartitioned
    window, so plan-format drift can't silently blind the sweep."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from gotsdb_spark.plans import single_partition_window_chains

    df = spark.range(1000).select(
        "id", F.row_number().over(W.orderBy("id")).alias("rn")
    )
    assert single_partition_window_chains(df) >= 1
    good = spark.range(1000).select(
        "id",
        F.row_number()
        .over(W.partitionBy((F.col("id") % 10)).orderBy("id"))
        .alias("rn"),
    )
    assert single_partition_window_chains(good) == 0


def test_detector_counts_fact_scans(spark):
    """Canary: fact_scan_counts must see a nonzero count on a known
    3-scan plan — the round-9 implementation's single-line regex could
    never match (Location: is a separate line in EXPLAIN FORMATTED),
    so the rescan sweep passed vacuously. This pins the parser."""
    from pyspark.sql import functions as F

    from gotsdb_spark.plans import fact_scan_counts, scan_read_widths
    from gotsdb_spark.sources.registry import load_table

    li = load_table(spark, "lineitem", SF).select("l_orderkey", "l_quantity")
    agg = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("s"))
    mx = li.groupBy("l_orderkey").agg(F.max("l_quantity").alias("m"))
    df = li.join(agg, "l_orderkey").join(mx, "l_orderkey")
    counts = fact_scan_counts(df)
    assert counts.get("lineitem", 0) == 3, counts
    # The checkpoint fix pattern must read as ONE scan + ExistingRDDs.
    li2 = li.localCheckpoint(eager=False)
    agg2 = li2.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("s"))
    fixed = fact_scan_counts(li2.join(agg2, "l_orderkey"))
    assert fixed.get("lineitem", 0) == 0, fixed
    # Widths pair Location and ReadSchema from the SAME block.
    widths = scan_read_widths(df)
    assert widths and all(t == "lineitem" and n == 2 for t, n in widths), widths


def test_detector_maps_partitioned_events_scan(spark):
    """Canary: the partitioned events_dt DIRECTORY layout (Location
    has no .parquet suffix) must map back to logical table 'events'
    so it participates in the rescan + pruning audits — and must not
    shift widths onto neighboring file scans in a mixed plan."""
    from gotsdb_spark.plans import fact_scan_counts, scan_read_widths
    from gotsdb_spark.sources.registry import load_table

    ev = load_table(spark, "events", SF).select("event_type", "user_id")
    na = load_table(spark, "nation", SF).select("n_nationkey", "n_name")
    df = ev.crossJoin(na.limit(1))
    assert fact_scan_counts(df).get("events", 0) == 1
    widths = dict(scan_read_widths(df))
    assert widths.get("events", 0) == 2, widths
    assert widths.get("nation", 0) == 2, widths


def _registry_plan_sweep(spark):
    """ONE pass over every registered query's plan, shared by the
    full-registry invariant tests below (each plan build costs real
    seconds; collect all swept metrics together)."""
    global _SWEEP_CACHE
    if _SWEEP_CACHE is not None:
        return _SWEEP_CACHE
    from gotsdb_spark.plans import (
        fact_scan_counts,
        scan_read_widths,
        single_partition_window_chains,
    )

    def metrics(item):
        name, fn = item
        try:
            df = fn(spark, SF)
        except Exception:
            # Environment-gated or replay-dependent construction issues
            # are other tests' concern; the sweep only grades plans it
            # can build.
            return name, None
        return name, {
            "chains": single_partition_window_chains(df),
            "fact_scans": fact_scan_counts(df),
            "scan_widths": scan_read_widths(df),
        }

    # Batch queries build (and, for eager operators, run tiny sf0.001
    # jobs) independently -> small driver thread pool (guide §2.6).
    # Integration-module entries REPLAY real streams and cap session
    # conf for the replay's lifetime (inside integration._replay), so
    # they stay serial — conf save/restore must not interleave.
    from concurrent.futures import ThreadPoolExecutor

    items = list(QUERIES.items())
    batch = [it for it in items if it[1].__module__ != "gotsdb_spark.operators.integration"]
    replay = [it for it in items if it[1].__module__ == "gotsdb_spark.operators.integration"]
    out = {}
    with ThreadPoolExecutor(max_workers=8) as pool:
        for name, m in pool.map(metrics, batch):
            if m is not None:
                out[name] = m
    for it in replay:
        name, m = metrics(it)
        if m is not None:
            out[name] = m
    _SWEEP_CACHE = out
    return out


_SWEEP_CACHE = None


@pytest.mark.slow
def test_no_unbounded_global_windows_full_registry(spark):
    """Sweep EVERY registered query's executed plan for Window-over-
    Exchange-SinglePartition chains; only the documented bounded-frame
    allowlist may contain one. This is the pin for the round-6 rewrite
    of the six data-sized global windows (ntile/percent_rank, RFM,
    Pareto, Zipf rank, count-min top-10, price-band RANGE frame) —
    reintroducing any of them fails here, not on the cluster."""
    offenders = {
        name: m["chains"]
        for name, m in _registry_plan_sweep(spark).items()
        if m["chains"] and name not in ALLOWED_GLOBAL_WINDOWS
    }
    assert not offenders, (
        f"unallowlisted single-partition window chains: {offenders} — "
        "use gotsdb_spark.operators.distrank.dist_rank or a bounded "
        "partition key, or (with a docstring argument) allowlist"
    )


# Queries whose plans legitimately scan the SAME fact table twice:
# two-snapshot diffs, reference/current split audits, and train/eval
# splits need two passes by definition. Nothing is allowed three
# unless it carries a documented reason below.
_FACT_RESCAN_BUDGET = 2

# name -> reason a >2 rescan of a fact table is the INTENDED plan.
# Until round 10 the detector's regex could never match (Location: is
# its own line in EXPLAIN FORMATTED), so the sweep passed vacuously;
# fixing the parser surfaced 43 offenders. Entries still marked
# "PENDING TRIAGE (r10)" are scheduled to be restructured (derive the
# repeats from one checkpointed small intermediate) or re-justified —
# each fix deletes its row, and this dict must never grow a pending
# entry again.
_FACT_RESCAN_ALLOWED: dict[str, str] = {
    "quality_referential_integrity": (
        "one single-column scan per FK edge; lineitem carries three "
        "independent FK audits (orderkey/partkey/suppkey), each reading "
        "a DIFFERENT one-column projection, so the scans share no IO — "
        "merging them would read the same total bytes in one wider scan "
        "for no shuffle savings (each edge is already one pass as of r10)"
    ),
    "ann_ivf_recall": (
        "recall@k compares TWO independent retrieval methods over the "
        "same vectors by definition: the brute-force arm reads the "
        "corpus + query vectors (2 pruned scans) and the IVF arm reads "
        "them for centroid training + re-rank (its own 2); sharing a "
        "materialized vector copy would double storage at corpus scale "
        "for four column-pruned parquet reads"
    ),
}


@pytest.mark.slow
def test_no_repeated_fact_scans_full_registry(spark):
    """Sweep EVERY registered query's plan for >= 3 parquet scans of
    the same fact table — the graph_triangle_stats class (a fact-sized
    subtree re-derived once per reference, 462 s at sf0.1 until the
    edge frame was checkpointed; at 100 TB it is 3-6 fact shuffles
    where one suffices). A frame checkpointed once plans as Scan
    ExistingRDD, so the fix pattern passes and the regression fails.
    Documented multi-pass designs live in _FACT_RESCAN_ALLOWED."""
    offenders = {
        name: m["fact_scans"]
        for name, m in _registry_plan_sweep(spark).items()
        if any(c > _FACT_RESCAN_BUDGET for c in m["fact_scans"].values())
        and name not in _FACT_RESCAN_ALLOWED
    }
    assert not offenders, (
        f"plans re-deriving a fact subtree per reference: {offenders} — "
        "localCheckpoint(eager=False) the shared frame once (mirror the "
        "DuckDB oracle with MATERIALIZED CTEs), or document the "
        "multi-pass design in _FACT_RESCAN_ALLOWED"
    )


@pytest.mark.slow
def test_rescan_allowlist_has_no_stale_entries(spark):
    """Every _FACT_RESCAN_ALLOWED row must still name a query that
    actually exceeds the budget — fixed queries must drop their row."""
    sweep = _registry_plan_sweep(spark)
    stale = [
        name
        for name in _FACT_RESCAN_ALLOWED
        if name in sweep
        and not any(
            c > _FACT_RESCAN_BUDGET for c in sweep[name]["fact_scans"].values()
        )
    ]
    assert not stale, f"rescan allowlist entries no longer needed: {stale}"


@pytest.mark.slow
def test_column_pruning_full_registry(spark):
    """Sweep EVERY registered query's plan for a parquet scan that
    reads the FULL width of a wide fixture table (> 6 columns) — at
    100 TB an unpruned lineitem scan reads ~8x the IO of the typical
    2-3 column projection, and pruning regressions are silent (results
    stay correct). As of round 9 the registry has ZERO full-width wide
    scans; this pins it."""
    import pyarrow.parquet as pq

    widths = {
        t: len(pq.read_schema(f"{SF}/{t}.parquet").names)
        for t in (
            "lineitem",
            "orders",
            "customer",
            "part",
            "supplier",
            "events",
            "documents",
            "embeddings",
        )
    }
    offenders = {}
    for name, m in _registry_plan_sweep(spark).items():
        bad = [
            (t, n)
            for t, n in m["scan_widths"]
            if t in widths and widths[t] > 6 and n >= widths[t]
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"full-width scans of wide tables: {offenders} — select the "
        "needed columns before any operation that blocks pushdown"
    )


def test_round6_ops_plan_shapes(spark):
    """Plan pins for the round-6 batch: the scale-relevant structural
    properties a refactor could silently lose."""
    from gotsdb_spark.plans import plan_report

    # Hierarchical shares: the leaf frame is checkpointed (as of r10),
    # so the visible plan is ExistingRDD ⋈ broadcast(regions) plus the
    # 1-row grand-total nested loop — the dim broadcasts live inside
    # the checkpointed subtree. Pin: ≥1 broadcast join, no global
    # window, and at most one orders scan end-to-end.
    from gotsdb_spark.plans import fact_scan_counts

    df = QUERIES["rollup_share_of_parent"](spark, SF)
    r = plan_report(df)
    assert r["broadcast_joins"] >= 1
    assert r["global_windows"] == 0
    assert fact_scan_counts(df).get("orders", 0) <= 1

    # Reconciliation: one keyed join + two groupBys; no cartesian.
    r = plan_report(QUERIES["quality_order_reconciliation"](spark, SF))
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["global_windows"] == 0

    # Corr matrix: single pass — exactly one Exchange (partial→final
    # global aggregate), nothing else.
    r = plan_report(QUERIES["stats_corr_matrix_lineitem"](spark, SF))
    assert r["shuffles"] == 1, r

    # Reservoir sample: the rank-filter must plan as WindowGroupLimit
    # (per-task top-k before the shuffle), not a full-partition sort.
    plan = QUERIES["sample_reservoir_per_group"](
        spark, SF
    )._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan

    # Equi-depth bins / Gini: dist_rank users — zero unpartitioned
    # window chains (also enforced registry-wide by the sweep test,
    # pinned here against refactors that bypass dist_rank).
    for name in ("stats_equidepth_bins", "stats_gini_revenue_concentration"):
        r = plan_report(QUERIES[name](spark, SF))
        assert r["global_windows"] == 0, name


def test_round7_ops_plan_shapes(spark):
    """Plan pins for the round-7 batch: the scale-relevant structural
    properties a refactor could silently lose."""
    from gotsdb_spark.plans import plan_report

    # PMI top-k must plan as TakeOrdered (per-task heaps), never a
    # global sort.
    plan = QUERIES["text_pmi_bigrams"](
        spark, SF
    )._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan

    # Skyline: one dictionary aggregate + one brand-partitioned window;
    # no global window, no cartesian.
    r = plan_report(QUERIES["skyline_price_size_frontier"](spark, SF))
    assert r["global_windows"] == 0
    assert not r["cartesian"] and not r["nested_loop"]

    # Kaplan-Meier: dist_rank-based running sums — no global window;
    # the horizon join is the only nested-loop-ish piece and must be a
    # broadcast of the 5-row horizons frame (non-equi join on <=).
    r = plan_report(QUERIES["stats_kaplan_meier"](spark, SF))
    assert r["global_windows"] == 0

    # Winsorized mean: dictionary windows are flag-partitioned; bounds
    # join back is broadcast.
    r = plan_report(QUERIES["stats_winsorized_mean"](spark, SF))
    assert r["global_windows"] == 0
    assert r["broadcast_joins"] >= 1

    # Percentile trend: both window passes partitioned by (prio, day);
    # nothing global.
    r = plan_report(QUERIES["stats_percentile_trend"](spark, SF))
    assert r["global_windows"] == 0

    # Holt-Winters / seasonal-naive: one shuffle to the per-type daily
    # dictionary; the fold/lag is partition-local.
    for name in ("ts_holt_winters_seasonal", "ts_seasonal_naive_error"):
        r = plan_report(QUERIES[name](spark, SF))
        assert r["global_windows"] == 0, name

    # Band sensitivity: candidate generation is equi-join only — no
    # cartesian anywhere despite 4 configs.
    r = plan_report(QUERIES["dedup_lsh_band_sensitivity"](spark, SF))
    assert not r["cartesian"]

    # Novelty: df join is an equi-join; no global window.
    r = plan_report(QUERIES["text_ngram_novelty"](spark, SF))
    assert r["global_windows"] == 0


def test_round8_ops_plan_shapes(spark):
    """Plan pins for the round-8 batch: the scale-relevant structural
    properties a refactor could silently lose."""
    from gotsdb_spark.plans import plan_report

    # Markov: the LEAD window is user-partitioned (never global); row
    # marginals join back as a broadcast.
    r = plan_report(QUERIES["events_markov_transitions"](spark, SF))
    assert r["global_windows"] == 0
    assert r["broadcast_joins"] >= 1

    # Damped Holt: one shuffle to the per-type day dictionary; the
    # (l, b) fold is a partition-local JVM expression, no window at all.
    r = plan_report(QUERIES["ts_holt_winters_damped"](spark, SF))
    assert r["global_windows"] == 0

    # Dictionary-rank family: cumulative counts come from dist_rank —
    # zero unpartitioned window chains anywhere.
    for name in (
        "stats_mann_whitney_u",
        "stats_spearman_corr",
        "lineitem_abc_pareto",
        "customer_rfm_segments",
    ):
        r = plan_report(QUERIES[name](spark, SF))
        assert r["global_windows"] == 0, name

    # Spearman: both rank dictionaries must join back to the fact rows
    # as broadcasts (value-grid bounded), never a shuffled join.
    r = plan_report(QUERIES["stats_spearman_corr"](spark, SF))
    assert r["broadcast_joins"] >= 2

    # JS divergence: the source x lang spine is mixture-bounded; the
    # corpus marginal and total broadcast.
    r = plan_report(QUERIES["quality_js_divergence_sources"](spark, SF))
    assert r["global_windows"] == 0

    # Label propagation: every round is an equi-join + groupBy-min; no
    # cartesian anywhere in the 3-round plan.
    r = plan_report(QUERIES["graph_label_propagation"](spark, SF))
    assert not r["cartesian"]

    # Dedup savings: membership joins sizes (broadcast) and documents
    # (equi-join on doc_id); no cartesian.
    r = plan_report(QUERIES["dedup_savings_by_cluster_size"](spark, SF))
    assert not r["cartesian"]
    assert r["broadcast_joins"] >= 1

    # kNN classify: the 3-NN cut must plan as WindowGroupLimit (per-task
    # top-k heaps before the q_id shuffle), and both row_number windows
    # are q_id-partitioned, never global. The broadcast nested loop IS
    # the design (bounded probe set x corpus scan, the sim_cosine_topk
    # shape), so it is deliberately not asserted away.
    df = QUERIES["sim_knn_classify"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    r = plan_report(df)
    assert r["global_windows"] == 0

    # TTR/hapax: two map-side-combinable groupBys, nothing else wide.
    r = plan_report(QUERIES["text_ttr_hapax_profile"](spark, SF))
    assert r["global_windows"] == 0
    assert r["shuffles"] <= 2, r

    # A/B z-test: unit collapse + 4-cell scalar aggregate.
    r = plan_report(QUERIES["stats_ab_conversion_ztest"](spark, SF))
    assert r["global_windows"] == 0
    assert r["shuffles"] <= 3, r


def test_round8_late_ops_plan_shapes(spark):
    """Plan pins for the round-8 second batch (multiplicative HW, link
    prediction)."""
    from gotsdb_spark.plans import plan_report

    # Multiplicative HW: same fold shape as the additive twin — one
    # shuffle to the per-type day dictionary, no window.
    r = plan_report(QUERIES["ts_holt_winters_multiplicative"](spark, SF))
    assert r["global_windows"] == 0

    # Link prediction: wedge join + anti-join + degree joins — every
    # join an equi-join (hash or sort-merge as Catalyst sizes them;
    # the degree joins are deliberately NOT broadcast-forced, since a
    # production degree table is node-count-sized), no cartesian.
    r = plan_report(QUERIES["graph_link_prediction_jaccard"](spark, SF))
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["global_windows"] == 0

    # Kendall tau-b: grid form — the only pair fan-out is the <=550-row
    # cell-table theta self-join, which plans as the intended broadcast
    # nested-loop over the grid (never CartesianProduct); no window
    # anywhere (marginals and tie terms are groupBys).
    r = plan_report(QUERIES["stats_kendall_tau_b"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0

    # Kruskal-Wallis: dictionary compaction + dist_rank cumulative —
    # zero unpartitioned window chains, no joins over data.
    r = plan_report(QUERIES["stats_kruskal_wallis"](spark, SF))
    assert r["global_windows"] == 0
    assert not r["cartesian"]

    # ANOVA: ONE map-side-combinable scalar aggregate — no join of any
    # kind, no window; shuffles limited to the 1-row final combine.
    r = plan_report(QUERIES["stats_anova_f_oneway"](spark, SF))
    assert r["global_windows"] == 0
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["broadcast_joins"] == 0 and r["sortmerge_joins"] == 0
    assert r["shuffles"] <= 2


def test_round9_ops_plan_shapes(spark):
    """Plan pins for the round-9 operators."""
    from gotsdb_spark.plans import plan_report

    # Damped+seasonal HW: same fold shape as both twins — one shuffle
    # to the per-type day dictionary, no window, no join.
    r = plan_report(QUERIES["ts_holt_winters_damped_seasonal"](spark, SF))
    assert r["global_windows"] == 0
    assert not r["cartesian"] and not r["nested_loop"]

    # Per-source PSI: every window is source-partitioned over the
    # length dictionary; the only nested-loop is the 10-row bin-spine
    # crossJoin (intended); no cartesian.
    r = plan_report(QUERIES["quality_psi_by_source"](spark, SF))
    assert r["global_windows"] == 0
    assert not r["cartesian"]

    # Brown-Forsythe: flag-partitioned dictionary window + one scalar
    # aggregate; the nested-loop is the 1-row median-pivot crossJoin.
    r = plan_report(QUERIES["stats_brown_forsythe"](spark, SF))
    assert r["global_windows"] == 0
    assert not r["cartesian"]

    # k-core: peel rounds are equi-joins + groupBys over checkpointed
    # grid-bounded frames — no cartesian, no window anywhere.
    r = plan_report(QUERIES["graph_kcore_nations"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0

    # 3-D skyline: all windows are grid-partitioned (size classes /
    # dollars); single fact pass behind the checkpointed cell
    # dictionary; no cartesian, no nested loop.
    r = plan_report(QUERIES["skyline_3d_price_size_demand"](spark, SF))
    assert r["global_windows"] == 0
    assert not r["cartesian"] and not r["nested_loop"]


def test_round9b_ops_plan_shapes(spark):
    """Plan pins for the second-half round-9 operators."""
    from gotsdb_spark.plans import plan_report

    # Welch t: ONE map-side-combinable scalar aggregate with the A/R
    # filter pushed down — no join, no window, 1-row combine only.
    r = plan_report(QUERIES["stats_welch_ttest"](spark, SF))
    assert r["global_windows"] == 0
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["broadcast_joins"] == 0 and r["sortmerge_joins"] == 0
    assert r["shuffles"] <= 2

    # Jarque-Bera: one partial-aggregated groupBy(flag); the shuffle
    # carries exactly three rows of power sums.
    r = plan_report(QUERIES["stats_jarque_bera"](spark, SF))
    assert r["global_windows"] == 0
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["broadcast_joins"] == 0 and r["sortmerge_joins"] == 0

    # HITS: fact-sized edge build checkpointed once; iterations are
    # equi-joins + groupBys over <=625-row frames with 1-row L1-total
    # crossJoins (intended nested loop); never cartesian, no window.
    r = plan_report(QUERIES["graph_hits_nations"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0

    # Candidate keys: one scan + Expand + partial agg; stack() unpivot
    # is projection-only — no join, no window anywhere.
    r = plan_report(QUERIES["quality_candidate_keys"](spark, SF))
    assert r["global_windows"] == 0
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["broadcast_joins"] == 0 and r["sortmerge_joins"] == 0

    # SAX: every window is type-partitioned over the day dictionary;
    # stats joins are grid-sized equi-joins; no cartesian, no global
    # window.
    r = plan_report(QUERIES["ts_sax_symbolic"](spark, SF))
    assert r["global_windows"] == 0
    assert not r["cartesian"]


def test_detector_catches_cartesian(spark):
    """Canary: has_cartesian_product must flag BOTH physical shapes a
    non-equi cross join can take — BroadcastNestedLoopJoin (small
    side broadcast) and CartesianProduct (shuffle-replicate) — so the
    ~12 no-cartesian pins across this file can never pass vacuously
    the way the scan audit did in rounds 6-9 (VERDICT r10)."""
    from gotsdb_spark.plans.inspect import has_cartesian_product

    a = spark.range(100)
    b = spark.range(100).withColumnRenamed("id", "id2")
    # Plain crossJoin of two tiny frames plans as BroadcastNestedLoopJoin.
    assert has_cartesian_product(a.crossJoin(b))
    # SHUFFLE_REPLICATE_NL forces the CartesianProduct operator.
    assert has_cartesian_product(a.crossJoin(b.hint("SHUFFLE_REPLICATE_NL")))
    # And an equi-join over the same frames must NOT trip the detector.
    c = spark.range(100).withColumnRenamed("id", "id")
    assert not has_cartesian_product(
        a.join(c, "id").filter("id >= 0").select("id")
    )


def test_round10_ops_plan_shapes(spark):
    """Plan pins for the seven round-10 operators (VERDICT r10 #1)."""
    from gotsdb_spark.plans import plan_report

    # Betweenness: multi-source BFS sigma tables are frontier
    # equi-joins over the checkpointed <=25-node nation graph; the
    # s-v-t path-identity triple join must plan as hash joins, never
    # a cartesian or nested-loop blowup.
    r = plan_report(QUERIES["graph_betweenness_nations"](spark, SF))
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["global_windows"] == 0

    # Quantile digest: the only global window is the merged centroid
    # stream (days x K rows, allowlisted); the exact-arm value
    # dictionary goes through dist_rank, so the chain count stays at
    # the centroid-merge windows and cannot grow with the value grid.
    r = plan_report(QUERIES["sketch_quantile_digest"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] <= 2

    # IRLS median regression: a fixed 2-round unroll — per round one
    # 1-row mar aggregate and one weighted normal-equation aggregate
    # over the checkpointed day dictionary; 1-row parameter frames
    # ride broadcast nested loops (intended), never a cartesian, and
    # no window anywhere.
    r = plan_report(QUERIES["stats_irls_quantile_regression"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0

    # Cucconi: doubled-midrank cumulative via dist_rank (commit
    # c047a70) — dictionary-bounded shuffles, no global window.
    r = plan_report(QUERIES["stats_cucconi_location_scale"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0

    # Cochran-Armitage: contingency sufficient statistics in one
    # map-side-combinable pass over the 5-level priority grid.
    r = plan_report(QUERIES["stats_cochran_armitage_trend"](spark, SF))
    assert r["global_windows"] == 0
    assert not r["cartesian"] and not r["nested_loop"]

    # Cochran Q + McNemar: ONE aggregate over one documents scan —
    # no join of any kind, <=2 shuffles (partial+final of the 1-row
    # combine).
    r = plan_report(QUERIES["stats_cochran_q_mcnemar"](spark, SF))
    assert r["global_windows"] == 0
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["broadcast_joins"] == 0 and r["sortmerge_joins"] == 0
    assert r["shuffles"] <= 2

    # Seasonal decompose: every window is partitioned (day-of-week /
    # series keys); trend MA is a bounded frame; no cartesian.
    r = plan_report(QUERIES["ts_seasonal_decompose"](spark, SF))
    assert r["global_windows"] == 0
    assert not r["cartesian"]


def test_round11_ops_plan_shapes(spark):
    """Plan pins for the round-11 operators."""
    from gotsdb_spark.plans import plan_report

    # Reservoir group audit: the rank window and the final groupBy
    # share the event_type hash partitioning — ONE shuffle, ONE scan,
    # no join of any kind.
    r = plan_report(QUERIES["sample_reservoir_group_audit"](spark, SF))
    assert r["shuffles"] == 1 and r["scans"] == 1
    assert r["broadcast_joins"] == 0 and r["sortmerge_joins"] == 0
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["global_windows"] == 0

    # Alias-table build: one map-side-combinable orders shuffle into
    # the checkpointed 5-row weight frame; the 4 Vose rounds hide
    # behind per-round checkpoints, so the visible plan is 5-row
    # joins/aggregates only — never a cartesian, no window.
    r = plan_report(QUERIES["sample_alias_table_build"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0
    assert r["shuffles"] <= 2

    # Girvan-Newman: the edge-keyed triple join runs over the
    # checkpointed BFS table as hash equi-joins; the only nested loop
    # is the 1-row argmax cut broadcast (intended); top-k is a limit,
    # not a global sort.
    r = plan_report(QUERIES["graph_girvan_newman_edges"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0

    # STL robust decompose: every window is type-partitioned
    # (bounded MA frame / 7-row adjustment); the weight join keys on
    # event_type; no cartesian, no nested loop, no global window.
    r = plan_report(QUERIES["ts_stl_robust_decompose"](spark, SF))
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["global_windows"] == 0


def test_kmv_jaccard_plan_shapes(spark):
    """sketch_kmv_jaccard_pairs: the rank filters plan as
    WindowGroupLimit (per-task bottom-k pre-trim before the per-type
    sort — without it the sketch build sorts every distinct user
    through 5 tasks); no CartesianProduct (the 5x5 type-pair spine is
    an intended broadcast nested loop over checkpointed 5-row
    frames); windows are type-/pair-partitioned, never global."""
    from gotsdb_spark.plans import formatted_plan, plan_report

    df = QUERIES["sketch_kmv_jaccard_pairs"](spark, SF)
    assert "WindowGroupLimit" in formatted_plan(df)
    r = plan_report(df)
    assert not r["cartesian"]
    assert r["global_windows"] == 0


def test_binseg_plan_shapes(spark):
    """ts_binseg_changepoints: every window is type- or
    (type, segment)-partitioned over the checkpointed calendar-bounded
    dictionary; the argmax is a row_number filter (grid-sized), never
    a global sort; no cartesian anywhere."""
    from gotsdb_spark.plans import plan_report

    r = plan_report(QUERIES["ts_binseg_changepoints"](spark, SF))
    assert r["global_windows"] == 0
    assert not r["cartesian"] and not r["nested_loop"]


def test_round11b_ops_plan_shapes(spark):
    """Plan pins for the round-11 second-window operators."""
    from gotsdb_spark.plans import plan_report

    # Region-partition modularity: the Q7-shape join collapses to the
    # nation-pair dictionary once (checkpointed — degree/internal/mass
    # branches reuse it); labels and region names are broadcasts; no
    # cartesian beyond the intended 1-row total-mass broadcast.
    r = plan_report(QUERIES["graph_modularity_communities"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0

    # Degree assortativity: same checkpointed backbone; the suffstat
    # aggregate is scalar; the only single-partition window is the
    # schema-bounded (<= 300 nation-pair rows) backbone rank, which
    # lives BEHIND the checkpoint so the visible plan has none.
    r = plan_report(QUERIES["graph_degree_assortativity"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0

    # Wilcoxon signed-rank: user dictionary shuffle -> |d| dictionary
    # shuffle -> dist_rank (checkpointed, linear) -> scalar aggregate.
    # The only join is dist_rank's broadcast of the O(P)-row partition
    # offsets; no global window in the visible plan.
    r = plan_report(QUERIES["stats_wilcoxon_signed_rank"](spark, SF))
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["global_windows"] == 0
    assert r["sortmerge_joins"] == 0 and r["broadcast_joins"] <= 1

    # Friedman: one fact shuffle to the checkpointed 60-cell
    # dictionary; the rank window partitions by block; chi2 is a
    # broadcast of a 1-row frame (intended nested loop).
    r = plan_report(QUERIES["stats_friedman_ranks"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0

    # Ljung-Box: the lag spine is an intended 7-row broadcast; the
    # cumulative Q window partitions by event_type; the (type, day)
    # dictionary is checkpointed so the fact scans once.
    r = plan_report(QUERIES["ts_ljung_box_whiteness"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0
    assert r["scans"] <= 1

    # AMS F2: ONE fact scan, ONE dictionary shuffle, then a scalar
    # aggregate computing all 32 signed sums in a single pass — no
    # join, no window, no per-estimator row blowup.
    r = plan_report(QUERIES["sketch_ams_f2_moment"](spark, SF))
    assert r["scans"] == 1
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["global_windows"] == 0
    assert r["broadcast_joins"] == 0 and r["sortmerge_joins"] == 0

    # FD audit: five independent groupBy->scalar subtrees unioned —
    # no joins anywhere, no windows, one scan per candidate table.
    r = plan_report(QUERIES["quality_fd_violations"](spark, SF))
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["broadcast_joins"] == 0 and r["sortmerge_joins"] == 0
    assert r["global_windows"] == 0

    # Runs test: type-partitioned rank/lag windows over the
    # checkpointed calendar dictionary; median pick is a row_number
    # filter; one fact scan.
    r = plan_report(QUERIES["stats_runs_test_daily"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0
    assert r["scans"] <= 1


def test_round11c_ops_plan_shapes(spark):
    """Plan pins for the round-11 third-window operators."""
    from gotsdb_spark.plans import plan_report

    # Personalized PageRank: the checkpointed <=625-row edge table is
    # the only thing each iteration joins; ranks/seeds are broadcasts;
    # never a cartesian, never a global window in the visible plan.
    r = plan_report(QUERIES["graph_personalized_pagerank"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0

    # Local clustering: triple equi-join over the checkpointed
    # backbone; corner fan-out is a union, not a join.
    r = plan_report(QUERIES["graph_local_clustering"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0

    # Page-Hinkley: all four windows partition by event_type over the
    # checkpointed calendar dictionary; one fact scan.
    r = plan_report(QUERIES["ts_page_hinkley_drift"](spark, SF))
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["global_windows"] == 0
    assert r["scans"] <= 1

    # Dispersion: two map-side-combinable shuffles, nothing else — no
    # joins, no windows, one scan.
    r = plan_report(QUERIES["stats_dispersion_vmr"](spark, SF))
    assert r["scans"] == 1
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["global_windows"] == 0
    assert r["broadcast_joins"] == 0 and r["sortmerge_joins"] == 0

    # Cook's distance: day-grid dictionary checkpointed (suffstats +
    # residual projection), 1-row fit broadcast (intended nested
    # loop); no window anywhere.
    r = plan_report(QUERIES["stats_cooks_distance_days"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0

    # Seasonal strength: type-partitioned bounded MA frame over the
    # checkpointed dictionary; index join keys on (type, dow).
    r = plan_report(QUERIES["ts_seasonal_strength"](spark, SF))
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["global_windows"] == 0

    # Layout planner: one calendar shuffle + 1-row total broadcast
    # (intended nested loop); the day grid is checkpointed so the
    # visible plan scans at most once; no windows.
    r = plan_report(QUERIES["scale_layout_planner"](spark, SF))
    assert r["scans"] <= 1
    assert not r["cartesian"]
    assert r["global_windows"] == 0


def test_round11d_ops_plan_shapes(spark):
    """Plan pins for the round-11 fourth-window operators."""
    from gotsdb_spark.plans import plan_report

    # Durbin-Watson: exact-integer residuals off the checkpointed day
    # grid; the single-series lag is the calendar-bounded allowlist
    # class; 1-row fit broadcast is the only join.
    r = plan_report(QUERIES["stats_durbin_watson"](spark, SF))
    assert not r["cartesian"]
    assert r["scans"] <= 1

    # Turning points: one type-partitioned lag/lead window over the
    # day dictionary; no joins at all.
    r = plan_report(QUERIES["stats_turning_points_test"](spark, SF))
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["global_windows"] == 0
    assert r["broadcast_joins"] == 0 and r["sortmerge_joins"] == 0

    # Mann-Kendall: the pair self-join runs on the CHECKPOINTED
    # (type, day) dictionary — calendar-squared rows, never
    # fact-sized; it must plan as an equi-join on event_type, not a
    # cartesian.
    r = plan_report(QUERIES["stats_mann_kendall_trend"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0

    # Eccentricity: the shared BFS dataflow (frontier equi-joins +
    # anti-joins behind checkpoints); radius/diameter is a 1-row
    # broadcast; no global window.
    r = plan_report(QUERIES["graph_eccentricity_nations"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0

    # Join fan-out: FK left join + histogram shuffle + 1-row total
    # broadcast; the histogram is checkpointed so the fan-out pass
    # runs once.
    r = plan_report(QUERIES["quality_join_fanout_audit"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0


def test_round11e_ops_plan_shapes(spark):
    """Plan pins for the round-11 fifth-window operators."""
    from gotsdb_spark.plans import plan_report

    # Bartlett: one 5-group suffstat shuffle + a 5-row scalar
    # aggregate of pre-rounded integer terms; no joins, no windows.
    r = plan_report(QUERIES["stats_bartlett_variance"](spark, SF))
    assert r["scans"] == 1
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["global_windows"] == 0
    assert r["broadcast_joins"] == 0 and r["sortmerge_joins"] == 0

    # Hurst: (type, m, block)-partitioned windows over the
    # checkpointed day dictionary; the 3-size spine is a broadcast;
    # the slope join keys on event_type.
    r = plan_report(QUERIES["ts_hurst_exponent"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0

    # ARI: per-doc counts are scan-side expressions into one
    # (lang, source) dictionary shuffle — nothing else.
    r = plan_report(QUERIES["text_readability_ari"](spark, SF))
    assert r["scans"] == 1
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["global_windows"] == 0
    assert r["broadcast_joins"] == 0 and r["sortmerge_joins"] == 0

    # Silhouette: centroid build + distance join both consume the
    # checkpointed component frame; the centroid side is a forced
    # broadcast (|labels| x 64 rows); everything is JVM integer math —
    # zero Python stages.
    r = plan_report(QUERIES["embed_silhouette_audit"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0
    assert r["python_stages"] == 0


def test_round11f_ops_plan_shapes(spark):
    """Plan pins for the round-11 sixth-window operators."""
    from gotsdb_spark.plans import plan_report

    # Vocab coverage: token dictionary shuffle + linear dist_rank; the
    # 3-cut inequality join is an intended broadcast nested loop over
    # the checkpointed ranked dictionary.
    r = plan_report(QUERIES["text_vocab_coverage"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0

    # Markov entropy: per-user LEAD window + |types|^2 matrix; the
    # term sum runs over pre-rounded integers; matrix checkpointed so
    # the fact scans once.
    r = plan_report(QUERIES["ts_markov_entropy_rate"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0
    assert r["scans"] <= 1

    # Bowley: group-partitioned dictionary cumulative; no joins.
    r = plan_report(QUERIES["stats_bowley_skewness"](spark, SF))
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["global_windows"] == 0
    assert r["broadcast_joins"] == 0 and r["sortmerge_joins"] == 0
    assert r["scans"] == 1

    # Rich club: checkpointed backbone + 5-row threshold broadcast;
    # club joins are node-key equi-joins.
    r = plan_report(QUERIES["graph_rich_club"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0


def test_round12_ops_plan_shapes(spark):
    """Plan pins for the round-12 operators."""
    from gotsdb_spark.plans import plan_report

    # Heaps-law fit: token-dictionary shuffle, source rollup, scalar
    # aggregate — one scan, no join, no window of any kind.
    r = plan_report(QUERIES["text_heaps_law_fit"](spark, SF))
    assert r["scans"] == 1
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["broadcast_joins"] == 0 and r["sortmerge_joins"] == 0
    assert r["global_windows"] == 0

    # Hodges-Lehmann: the pair join is an intended broadcast nested
    # loop over two value-domain-bounded ($100 grid) dictionaries —
    # never a CartesianProduct, never a sort-merge join, and the
    # weighted median runs through dist_rank, not a global window.
    r = plan_report(QUERIES["stats_hodges_lehmann_shift"](spark, SF))
    assert not r["cartesian"]
    assert r["sortmerge_joins"] == 0
    assert r["global_windows"] == 0

    # PACF: one events scan into the checkpointed (type, day)
    # dictionary; lag spine broadcast; the Durbin-Levinson recursion
    # is per-row column arithmetic — no window, no extra scan.
    r = plan_report(QUERIES["ts_pacf_daily"](spark, SF))
    assert r["scans"] <= 1
    assert not r["cartesian"]
    assert r["global_windows"] == 0

    # Articulation points: all label-propagation rounds hide behind
    # checkpoints; the visible plan is dictionary-sized aggregation
    # plus the 1-row baseline / 25-row nation broadcasts (intended
    # nested loop), never a CartesianProduct or a window.
    r = plan_report(QUERIES["graph_articulation_points"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0

    # Session eviction audit: the readout is one groupBy over the
    # executor-side parquet ledger the foreachBatch sink wrote — no
    # window, no join, no cartesian.
    r = plan_report(QUERIES["streaming_session_eviction_audit"](spark, SF))
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["global_windows"] == 0
    assert r["sortmerge_joins"] == 0


def test_round12b_ops_plan_shapes(spark):
    """Plan pins for the late-round-12 operators."""
    from gotsdb_spark.plans import plan_report

    # Levene (mean-centered): one lineitem scan into the checkpointed
    # price dictionary; the 3-row group-moments and 1-row sum-pivot
    # broadcasts are intended nested loops — never a CartesianProduct,
    # never a sort-merge join, no window at all.
    r = plan_report(QUERIES["stats_levene_mean_center"](spark, SF))
    assert r["scans"] <= 1  # the scan hides behind the dict checkpoint
    assert not r["cartesian"]
    assert r["sortmerge_joins"] == 0
    assert r["global_windows"] == 0

    # Good-Turing: trigram-dictionary shuffle, then everything runs on
    # the tiny frequency-of-frequencies dictionary (checkpointed, one
    # equi-join + a 1-row totals broadcast) — one scan, no cartesian,
    # no sort-merge, no window.
    r = plan_report(QUERIES["text_good_turing_unseen"](spark, SF))
    assert r["scans"] <= 1  # the scan hides behind the fof checkpoint
    assert not r["cartesian"]
    assert r["sortmerge_joins"] == 0
    assert r["global_windows"] == 0

    # Bridges: all label-propagation rounds hide behind checkpoints;
    # the visible plan is dictionary-sized aggregation plus the 1-row
    # baseline / 25-row nation broadcasts (intended nested loop),
    # never a CartesianProduct or a window.
    r = plan_report(QUERIES["graph_bridges"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0


def test_round13_ops_plan_shapes(spark):
    """Plan pins for the round-13 operators."""
    from gotsdb_spark.plans import plan_report

    # Seasonal Mann-Kendall: the pair self-join runs on the
    # CHECKPOINTED (type, day, season) dictionary — calendar-bounded
    # per weekday, never fact-sized; it must plan as an equi-join on
    # (event_type, season), not a cartesian, with no window anywhere.
    r = plan_report(QUERIES["stats_seasonal_mann_kendall"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0

    # Periodogram: one fact shuffle hides behind the checkpointed
    # (type, day) dictionary; the stats join and the x3 harmonic
    # explode are dictionary-sized, everything stays JVM-side integer
    # arithmetic — no cartesian, no window, no Python stage.
    r = plan_report(QUERIES["ts_periodogram_weekly"](spark, SF))
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["global_windows"] == 0
    assert r["python_stages"] == 0

    # Checkpoint-restart replay: the returned frame is a plain read of
    # the sink the two query instances committed — scan only, no joins,
    # no windows (the streaming work happened inside the replay).
    r = plan_report(
        QUERIES["streaming_checkpoint_restart_replay"](spark, SF)
    )
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["global_windows"] == 0
    assert r["broadcast_joins"] == 0 and r["sortmerge_joins"] == 0


def test_round13_cents_tpch_plan_shapes(spark):
    """The integer-cents q9/q18 variants must keep the canonical join
    topology — cents quantization changes measure arithmetic only."""
    from gotsdb_spark.plans import plan_report

    r = plan_report(QUERIES["q9_profit_cents_by_nation_year"](spark, SF))
    base = plan_report(QUERIES["q9_profit_by_nation_year"](spark, SF))
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["global_windows"] == 0
    assert r["scans"] == base["scans"]
    assert r["broadcast_joins"] >= 1  # nation stays broadcast

    r = plan_report(QUERIES["q18_large_volume_cents"](spark, SF))
    base = plan_report(QUERIES["q18_large_volume_customers"](spark, SF))
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["global_windows"] == 0
    assert r["scans"] == base["scans"]


def test_round13b_ops_plan_shapes(spark):
    """Plan pins for the pulled-forward round-14 operators."""
    from gotsdb_spark.plans import plan_report

    # Grubbs: one orders scan into the checkpointed (priority, cents)
    # dictionary; the 5-row group-moments and per-group-max broadcasts
    # are intended nested loops — never cartesian, no window.
    r = plan_report(QUERIES["stats_grubbs_max_outlier"](spark, SF))
    assert r["scans"] <= 1  # the scan hides behind the dict checkpoint
    assert not r["cartesian"]
    assert r["global_windows"] == 0

    # Late-facts audit: one fact equi-join + calendar groupBy — no
    # cartesian, no window, no Python stage.
    r = plan_report(QUERIES["audit_late_arriving_facts"](spark, SF))
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["global_windows"] == 0
    assert r["python_stages"] == 0

    # Rate-limit audit: read-time reduction over the checkpointed
    # emitted frame (the streaming work happened in the replay) —
    # dictionary-sized equi-join, no cartesian, no window.
    r = plan_report(QUERIES["streaming_rate_limit_audit"](spark, SF))
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["global_windows"] == 0


def test_round13c_ops_plan_shapes(spark):
    """Plan pins for the second round-13 batch (round-14 backlog
    pulled forward: Q-Q drift, cohort curve, token-budget planner)."""
    from gotsdb_spark.plans import plan_report

    # Q-Q drift: ONE events scan hides behind the (type, day, value)
    # dictionary checkpoint; windows are partitioned by (type, half) —
    # never global; the timeline-midpoint broadcast is a 1-row frame.
    r = plan_report(QUERIES["stats_qq_drift_value"](spark, SF))
    assert r["scans"] <= 1
    assert not r["cartesian"]
    assert r["global_windows"] == 0
    assert r["python_stages"] == 0

    # Cohort curve: the (custkey, month) projection is checkpointed so
    # the first-order pass and the rejoin share one orders scan; the
    # cohort-size join is a broadcast of calendar-month rows — no
    # cartesian, no window.
    r = plan_report(QUERIES["ts_cohort_repeat_purchase"](spark, SF))
    assert r["scans"] == 0  # both consumers read the checkpoint
    assert not r["cartesian"] and not r["nested_loop"]
    assert r["global_windows"] == 0
    assert r["python_stages"] == 0

    # Token-budget planner: everything after the per-source groupBy is
    # source-dictionary-sized; the rank self-join and the 1-row params
    # joins are intended broadcast nested loops — never cartesian, no
    # window, no Python stage.
    r = plan_report(QUERIES["curate_token_budget_planner"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0
    assert r["python_stages"] == 0


def test_round13d_ops_plan_shapes(spark):
    """Plan pins for the third round-13 batch (control chart,
    segmented regression, HHI drift)."""
    from gotsdb_spark.plans import plan_report

    # Control chart: lineitem-orders equi-join, week-grain groupBy,
    # 1-row grand broadcast — no cartesian, no window, no Python.
    r = plan_report(QUERIES["stats_leadtime_control_chart"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0
    assert r["python_stages"] == 0
    assert r["scans"] <= 2  # one per fact side

    # Segmented regression: the only window is the allowlisted
    # calendar-day prefix-moment pass; everything downstream of the
    # daily checkpoint is dictionary-sized.
    r = plan_report(QUERIES["stats_segmented_regression"](spark, SF))
    assert not r["cartesian"]
    assert r["python_stages"] == 0
    assert r["scans"] == 0  # candidates read the scored checkpoint

    # HHI drift: one events scan into the (day, type) dictionary;
    # day-grid pair join is an intended broadcast nested loop.
    r = plan_report(QUERIES["stats_hhi_concentration_drift"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0
    assert r["python_stages"] == 0
    assert r["scans"] <= 1


def test_round13e_ops_plan_shapes(spark):
    """Plan pins for the fourth round-13 batch (fill-time SLA bands,
    tail co-exceedance; the gap audit is a replay query pinned by its
    read-time structure below)."""
    from gotsdb_spark.plans import plan_report

    # SLA bands: per-order completion groupBy, same-key orders join,
    # then the (priority, lag) dictionary — partitioned cumulative,
    # no cartesian, no global window.
    r = plan_report(QUERIES["stats_fill_time_sla_bands"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0
    assert r["python_stages"] == 0
    assert r["scans"] <= 2  # one per fact side

    # Tail co-exceedance: one events scan into the (type, day)
    # dictionary; thresholds/flags/pair join are all grid-sized
    # broadcast joins — never cartesian, windows partitioned by type.
    r = plan_report(QUERIES["stats_tail_coexceedance_types"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0
    assert r["python_stages"] == 0
    assert r["scans"] <= 1  # flags checkpoint feeds all consumers


def test_streaming_gap_audit_read_side_is_bounded(spark):
    """The gap audit's read-time frame must be the emitted minute
    spine (bounded by minutes x types), with the lag window
    PARTITIONED by type — no single-partition window chain."""
    from gotsdb_spark.plans import plan_report

    r = plan_report(QUERIES["streaming_gap_outage_audit"](spark, SF))
    assert r["global_windows"] == 0
    assert not r["cartesian"]
    assert r["scans"] == 0  # reads the collected/checkpointed spine


def test_round13f_ops_plan_shapes(spark):
    """Plan pins for the fifth round-13 batch (principal direction,
    BTYD summary)."""
    from gotsdb_spark.plans import plan_report

    # Principal direction: exactly ONE Python stage (the Arrow Gram
    # partials); every iteration is a d^2-row join off the Gram
    # checkpoint — no cartesian, no window, no extra fact scan.
    r = plan_report(QUERIES["embed_principal_direction"](spark, SF))
    assert r["python_stages"] <= 1
    assert not r["cartesian"]
    assert r["global_windows"] == 0
    assert r["scans"] == 0  # iterations read the gram checkpoint

    # BTYD: one orders projection checkpoint feeds the per-customer
    # groupBy and the 1-row horizon — no second scan, no window.
    r = plan_report(QUERIES["ts_btyd_frequency_recency"](spark, SF))
    assert r["scans"] == 0
    assert not r["cartesian"]
    assert r["global_windows"] == 0
    assert r["python_stages"] == 0


def test_round13g_ops_plan_shapes(spark):
    """Plan pins for the sixth round-13 batch (bivariate Theil-Sen,
    second-PC deflation)."""
    from gotsdb_spark.plans import plan_report

    # Bivariate Theil-Sen: one lineitem pass into the (q, price-grid)
    # dictionary; the pair join is an intended value-grid nested loop;
    # dist_rank replaces any global window.
    r = plan_report(QUERIES["stats_theil_sen_price_quantity"](spark, SF))
    assert not r["cartesian"]
    assert r["global_windows"] == 0
    assert r["python_stages"] == 0
    assert r["scans"] == 0  # consumers read the base/dic checkpoints

    # Second PC: exactly ONE Python stage (the Arrow Gram partials
    # behind the checkpoint); deflation + both iteration chains are
    # d^2-row joins — no cartesian, no window, no extra fact scan.
    r = plan_report(QUERIES["embed_second_component"](spark, SF))
    assert r["python_stages"] <= 1
    assert not r["cartesian"]
    assert r["global_windows"] == 0
    assert r["scans"] == 0
