"""The two connected-components routines against a Python union-find.

star_contraction_edges: the converged edge set must be exactly one
(member, component minimum) row per non-root node, and the loop must
stop on the round whose edge set is already a star. The per-scenario
label propagation behind articulation points and bridges must count
the components of every deletion scenario exactly."""

import random

import pytest

from gotsdb_spark.operators import dedup, graph
from gotsdb_spark.operators.graph import star_contraction_edges


def _union_find_members(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps = {}
    for x in list(parent):
        comps.setdefault(find(x), []).append(x)
    out = set()
    for members in comps.values():
        root = min(members)
        out |= {(x, root) for x in members if x != root}
    return out


def _contract(spark, pairs):
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    return {(r.u, r.v) for r in star_contraction_edges(df).collect()}


def test_shuffled_long_chain(spark):
    rnd = random.Random(11)
    ids = list(range(400))
    rnd.shuffle(ids)
    pairs = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
    assert _contract(spark, pairs) == _union_find_members(pairs)


def test_random_multigraph_with_self_loops_and_reversed_pairs(spark):
    rnd = random.Random(23)
    pairs = [(rnd.randrange(300), rnd.randrange(300)) for _ in range(400)]
    pairs += [(b, a) for a, b in pairs[:60]]  # both orientations
    pairs += pairs[60:90]  # exact duplicates
    pairs += [(i, i) for i in range(0, 300, 17)]  # self-loops
    rnd.shuffle(pairs)
    # Self-loop-only nodes are their own singleton component: no row.
    expected = _union_find_members([p for p in pairs if p[0] != p[1]])
    assert _contract(spark, pairs) == expected


def test_star_after_one_round_stops_after_one_round(spark, monkeypatch):
    rounds = []
    real = graph._is_star
    monkeypatch.setattr(graph, "_is_star", lambda e: rounds.append(1) or real(e))
    # Hub 5 is not the minimum, so round one re-roots the star at 0.
    pairs = [(5, x) for x in range(20) if x != 5] + [(7, 5), (5, 3)]
    assert _contract(spark, pairs) == {(x, 0) for x in range(1, 20)}
    assert len(rounds) == 1


def test_round_bound_exhaustion_raises(spark, monkeypatch):
    rounds = []
    monkeypatch.setattr(graph, "_is_star", lambda edges: rounds.append(1) or False)
    monkeypatch.setattr(graph, "_round_bound", lambda pairs: 3)
    with pytest.raises(RuntimeError, match="did not converge within 3 rounds"):
        _contract(spark, [(1, 2), (2, 3)])
    assert len(rounds) == 3


def test_round_bound_from_id_width(spark):
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    for ddl, bits in (("tinyint", 8), ("int", 32), ("long", 63), ("string", 63)):
        pairs = spark.createDataFrame([], f"doc_a {ddl}, doc_b {ddl}")
        assert graph._round_bound(pairs) == bits * bits
    assert set(tracker.getJobIdsForGroup()) == before


@pytest.mark.slow
def test_chain_in_id_order_of_10000_nodes(spark):
    """Ids in chain order are a slow case for the alternation: 14
    rounds."""
    pairs = [(i, i + 1) for i in range(9_999)]
    assert _contract(spark, pairs) == {(i, 0) for i in range(1, 10_000)}


def test_is_star_shapes(spark):
    def is_star(rows):
        return graph._is_star(spark.createDataFrame(rows, "u long, v long"))

    assert is_star([])
    assert is_star([(1, 0), (2, 0), (5, 3)])
    assert not is_star([(2, 1), (1, 0)])  # a sink that is also a source
    assert not is_star([(2, 0), (2, 1)])  # a source with two sinks


def test_dedup_clusters_resolve_a_long_chain_to_one_canonical(spark, monkeypatch):
    """A 60-node near-dup chain in id order is one cluster: every doc
    points at doc 0, whatever the chain's diameter."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "doc_a long, doc_b long"
    )
    monkeypatch.setattr(dedup, "dedup_minhash_lsh", lambda spark, sf_dir: chain)
    rows = dedup.dedup_cluster_canonical(spark, "unused").collect()
    assert {r.canonical_id for r in rows} == {0}
    assert sorted(r.doc_id for r in rows if not r.is_canonical) == list(range(1, 60))
    assert [r.doc_id for r in rows if r.is_canonical] == [0]


# A star whose center 0 holds leaves 1..6 together, beside a path
# 10-11-12-13-14: deleting the center leaves six isolated nodes.
_STAR_AND_PATH = [(0, x) for x in range(1, 7)] + [(x, x + 1) for x in range(10, 14)]
_NODES = sorted({n for e in _STAR_AND_PATH for n in e})


def _uf_components(nodes, edges):
    return len(nodes) - len(_union_find_members(edges))


def _per_scenario(spark, scenarios, keys):
    """n_comp per scenario for {key tuple: (nodes, undirected edges)}."""
    cols = ", ".join(f"{k} long" for k in keys)
    edges = spark.createDataFrame(
        [(*k, a, b) for k, (_, es) in scenarios.items() for a, b in es]
        + [(*k, b, a) for k, (_, es) in scenarios.items() for a, b in es],
        f"{cols}, a long, b long",
    )
    labels = spark.createDataFrame(
        [(*k, v, v) for k, (ns, _) in scenarios.items() for v in ns],
        f"{cols}, v long, lbl long",
    )
    out = graph._components_per_scenario(edges, labels, keys)
    return {tuple(r[k] for k in keys): r.n_comp for r in out.collect()}


def test_components_per_vertex_deletion_match_union_find(spark):
    scenarios = {(-1,): (_NODES, _STAR_AND_PATH)}
    for x in _NODES:
        scenarios[(x,)] = (
            [n for n in _NODES if n != x],
            [e for e in _STAR_AND_PATH if x not in e],
        )
    got = _per_scenario(spark, scenarios, ["x"])
    assert got == {k: _uf_components(*s) for k, s in scenarios.items()}
    assert got[(0,)] == 7 and got[(12,)] == 3 and got[(-1,)] == 2


def test_components_per_edge_deletion_match_union_find(spark):
    scenarios = {(-1, -1): (_NODES, _STAR_AND_PATH)}
    for e in _STAR_AND_PATH:
        scenarios[e] = (_NODES, [f for f in _STAR_AND_PATH if f != e])
    got = _per_scenario(spark, scenarios, ["xa", "xb"])
    assert got == {k: _uf_components(*s) for k, s in scenarios.items()}
    assert set(got.values()) == {2, 3}  # every edge of a forest is a bridge


def test_components_per_scenario_bound_exhaustion_raises(spark, monkeypatch):
    monkeypatch.setattr(graph, "_N_NATIONS", 2)  # 3 rounds; the path needs 5
    with pytest.raises(RuntimeError, match="within 3 rounds"):
        _per_scenario(spark, {(-1,): (_NODES, _STAR_AND_PATH)}, ["x"])
