"""Graph analytics: PageRank (iterative dataflow), triangle counting /
clustering coefficient, BFS reachability over the trade network, and
connected components by star contraction over the document near-dup
pair graph.

Connected components has one routine per graph shape:
- `star_contraction_edges` for pair graphs whose size grows with the
  data (the near-dup graph here, dedup clusters in dedup.py): O(log n)
  rounds whatever the diameter, with a round bound from the id width;
- `_components_per_scenario` for many dictionary-bounded graphs at
  once (the deletion scenarios of articulation points and bridges):
  broadcast min-label rounds, at most 26 over the 25 nations.

The graph is derived from the star schema: an edge customer-nation →
supplier-nation for every lineitem whose order crosses them, weighted
by trade volume (the TPC-H Q7 join shape). Nodes = the 25 nations.

Scale design:
- PageRank is the canonical iterative dataflow: each iteration is ONE
  shuffle (contributions grouped by destination) against an edge table
  that never changes — at 100 TB the edge list is partitioned by src
  and the rank vector is the only thing that moves. Nothing iterates
  on the driver but the loop counter; ranks are half-up rounded to
  1e-9 per iteration to pin cross-engine float drift (the
  kmeans_lloyd_clusters convention, similarity.py).
- Triangle counting is the ordered 3-way self-join (a<b<c) on the
  deduplicated undirected edge set — each triangle counted exactly
  once, no orientation blowup. Degrees give wedges; 3*triangles /
  wedges is the global clustering coefficient (integer inputs, one
  final exact division).

Reference parity: the reference (j0shgrant/gotsdb) has no graph or
join surface at all (SURVEY.md §2.2); this extends the mandated
[TARGET] analytics block.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gotsdb_spark.operators.registry import query
from gotsdb_spark.sources.registry import load_table

_N_NATIONS = 25
_DAMPING = 0.85
_ITERATIONS = 3

# Trade edges: customer nation -> supplier nation, weight = lineitem count.
_EDGES_SQL = """
    SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    GROUP BY 1, 2
"""


def _pagerank_oracle() -> str:
    base = 0.15 / _N_NATIONS
    cte = [
        f"flows AS ({_EDGES_SQL})",
        """e AS (
          SELECT src, dst, w * 1.0 / sum(w) OVER (PARTITION BY src) AS p
          FROM flows
        )""",
        "n AS (SELECT n_nationkey AS node, n_name FROM nation)",
        f"r0 AS (SELECT node, 1.0 / {_N_NATIONS} AS pr FROM n)",
    ]
    for i in range(_ITERATIONS):
        cte.append(
            f"""r{i + 1} AS (
              SELECT n.node,
                     floor(({base} + {_DAMPING} * coalesce(s.c, 0)) * 1e9 + 0.5) / 1e9 AS pr
              FROM n LEFT JOIN (
                SELECT e.dst AS node, sum(r.pr * e.p) AS c
                FROM e JOIN r{i} r ON r.node = e.src
                GROUP BY e.dst
              ) s ON s.node = n.node
            )"""
        )
    return (
        "WITH "
        + ",\n".join(cte)
        + f"""
    SELECT n.n_name, r.pr
    FROM n JOIN r{_ITERATIONS} r ON r.node = n.node
    """
    )


@query("graph_pagerank_nations", oracle=_pagerank_oracle())
def graph_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation trade graph ({it} power iterations,
    damping {d}).

    Edges are the Q7 join shape aggregated once to (src, dst, weight);
    out-weights normalize to transition probabilities with a window
    over src. Each iteration joins the (static) edge table to the
    current rank vector and aggregates contributions by destination —
    the only data in motion is the rank vector. Ranks are half-up
    rounded to 1e-9 per iteration so both engines walk identical
    trajectories.
    """
    lineitem = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)

    flows = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
    )
    from pyspark.sql.window import Window

    # e is referenced once per iteration: checkpoint the <=625-row
    # normalized edge table so the fact-sized flows aggregation runs
    # ONCE, not once per power iteration (the graph_triangle_stats /
    # graph_kcore_nations lesson).
    e = flows.select(
        "src",
        "dst",
        (F.col("w") / F.sum("w").over(Window.partitionBy("src"))).alias("p"),
    ).localCheckpoint(eager=False)
    nodes = nation.select(
        F.col("n_nationkey").alias("node"), "n_name"
    )
    r = nodes.select("node", F.lit(1.0 / _N_NATIONS).alias("pr"))
    base = 0.15 / _N_NATIONS
    for _ in range(_ITERATIONS):
        contrib = (
            e.join(r.withColumnRenamed("node", "src_node"), F.col("src") == F.col("src_node"))
            .groupBy(F.col("dst").alias("cnode"))
            .agg(F.sum(F.col("pr") * F.col("p")).alias("c"))
        )
        r = nodes.join(
            F.broadcast(contrib), nodes.node == F.col("cnode"), "left"
        ).select(
            "node",
            (
                F.floor(
                    (F.lit(base) + _DAMPING * F.coalesce(F.col("c"), F.lit(0.0)))
                    * 1e9
                    + 0.5
                )
                / 1e9
            ).alias("pr"),
        )
    return nodes.join(F.broadcast(r), "node").select("n_name", "pr")


graph_pagerank_nations.__doc__ = graph_pagerank_nations.__doc__.format(
    it=_ITERATIONS, d=_DAMPING
)


@query(
    "graph_triangle_stats",
    oracle=f"""
    WITH flows AS MATERIALIZED ({_EDGES_SQL}),
    ue AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM flows WHERE src <> dst
    ), tri AS (
      SELECT count(*) AS n_triangles
      FROM ue e1
      JOIN ue e2 ON e2.a = e1.b
      JOIN ue e3 ON e3.a = e1.a AND e3.b = e2.b
    ), deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT a AS node FROM ue UNION ALL SELECT b FROM ue
      ) t GROUP BY node
    ), wedges AS (
      SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg
    )
    SELECT (SELECT count(*) FROM ue) AS n_edges,
           (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT n_triangles FROM tri) AS n_triangles,
           (SELECT n_wedges FROM wedges) AS n_wedges,
           3.0 * (SELECT n_triangles FROM tri)
             / NULLIF((SELECT n_wedges FROM wedges), 0)
             AS clustering_coefficient
    """,
)
def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the trade graph.

    The undirected edge set is deduplicated as ordered pairs (a < b),
    then triangles are the ordered 3-way self-join — each triangle
    found exactly once as a < b < c, so no division by orientation
    count and no cartesian risk (every join is an equi-join on a node
    key). Wedges come from integer degree math; the coefficient is one
    exact division of two integers. At scale the classic optimization
    (order each edge by degree so high-degree hubs never enumerate
    their full neighbor lists) drops in without changing this shape.
    """
    lineitem = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    flows = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .select(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
    )
    # ue is referenced six times below (e1/e2/e3, both endpoint unions,
    # the edge count) — checkpoint the <=300-row frame so the fact-sized
    # 4-way join runs ONCE, not per reference (the graph_kcore_nations
    # lesson; the oracle mirrors with MATERIALIZED CTEs).
    ue = (
        flows.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    e1 = ue
    e2 = ue.select(F.col("a").alias("b2a"), F.col("b").alias("c"))
    e3 = ue.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (
        e1.join(F.broadcast(e2), e1.b == e2.b2a)
        .join(
            F.broadcast(e3),
            (e1.a == e3.a3) & (F.col("c") == F.col("c3")),
            "left_semi",
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    both = ue.select(F.col("a").alias("node")).unionAll(
        ue.select(F.col("b").alias("node"))
    )
    deg = both.groupBy("node").agg(F.count("*").alias("d"))
    wedges = deg.agg(
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("long")).alias("n_wedges")
    )
    meta = ue.agg(F.count("*").alias("n_edges")).crossJoin(
        deg.agg(F.count("*").alias("n_nodes"))
    )
    return (
        meta.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(wedges))
        .select(
            "n_edges",
            "n_nodes",
            "n_triangles",
            "n_wedges",
            # NULLIF: a graph of disjoint single edges has zero wedges;
            # ANSI divide-by-zero must not kill the query (both engines
            # report NULL for the coefficient of a wedge-free graph).
            (
                3.0
                * F.col("n_triangles")
                / F.nullif(F.col("n_wedges"), F.lit(0))
            ).alias("clustering_coefficient"),
        )
    )


_BFS_SEED = 0
_BFS_MAX_HOPS = 3
_BFS_FANOUT = 3


def _bfs_oracle() -> str:
    return f"""
    WITH RECURSIVE flows AS ({_EDGES_SQL}),
    sparse AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
        FROM flows WHERE src <> dst
      ) t WHERE rn <= {_BFS_FANOUT}
    ),
    walk(node, hops) AS (
      SELECT {_BFS_SEED}, 0
      UNION ALL
      SELECT e.dst, w.hops + 1
      FROM walk w JOIN sparse e ON e.src = w.node
      WHERE w.hops < {_BFS_MAX_HOPS}
    )
    SELECT n.n_name, w.node, CAST(min(w.hops) AS INT) AS hops
    FROM walk w JOIN nation n ON n.n_nationkey = w.node
    GROUP BY 1, 2
    """


@query("graph_reachability_hops", oracle=_bfs_oracle())
def graph_reachability_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS: minimum hop count from nation {seed} over the sparsified
    trade graph (top-{k} partners per nation, self-loops dropped).

    The iterative-traversal companion to PageRank above — the same
    "only the frontier moves" dataflow that powers reachability,
    lineage, and fraud-ring queries. Each round is ONE equi-join of
    the current frontier against the static edge table plus an anti
    join to drop already-visited nodes; the visited set and frontier
    are O(nodes) while the edge table never moves between rounds.
    The driver loop holds only the round counter — no data ever
    collects. The oracle is DuckDB's WITH RECURSIVE walk capped at
    the same depth, reduced by min(hops).
    """
    lineitem = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)

    flows = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .agg(F.count("*").alias("w"))
        .where(F.col("src") != F.col("dst"))
    )
    from pyspark.sql.window import Window

    sparse = (
        flows.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("src").orderBy(F.desc("w"), F.asc("dst"))
            ),
        )
        .where(F.col("rn") <= _BFS_FANOUT)
        .select("src", "dst")
        .localCheckpoint()
    )
    visited = (
        sparse.sparkSession.range(1)
        .select(F.lit(_BFS_SEED).alias("node"), F.lit(0).cast("int").alias("hops"))
        .localCheckpoint()
    )
    frontier = visited
    for hop in range(1, _BFS_MAX_HOPS + 1):
        reached = (
            frontier.join(sparse, frontier.node == sparse.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(hop).cast("int"))
            .localCheckpoint()
        )
        if reached.isEmpty():
            break
        visited = visited.unionByName(reached).localCheckpoint()
        frontier = reached
    return visited.join(
        F.broadcast(load_table(spark, "nation", sf_dir)),
        visited.node == F.col("n_nationkey"),
    ).select("n_name", "node", "hops")


_STAR_CC_ORACLE = """
    WITH RECURSIVE {ctes},
    uedges AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(doc, root) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM uedges) t
      UNION
      SELECT e.b, r.root FROM reach r JOIN uedges e ON e.a = r.doc
    ),
    labels AS (
      SELECT doc, min(root) AS canonical FROM reach GROUP BY doc
    )
    SELECT CAST(canonical AS BIGINT) AS canonical_id,
           CAST(count(*) AS BIGINT) AS n_members
    FROM labels GROUP BY canonical
"""


def _star_cc_oracle() -> str:
    from gotsdb_spark.operators.dedup import _MINHASH_CTES

    return _STAR_CC_ORACLE.format(ctes=_MINHASH_CTES)


@query("graph_components_star_contraction", oracle=_star_cc_oracle())
def graph_components_star_contraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") over the MinHash near-dup pair graph — component id + size.

    Min-label propagation needs O(component diameter) rounds; on a
    100 TB-scale graph with a long-chain component (crawl rings,
    citation chains) that is the difference between 5 rounds and 500.
    Star contraction converges in O(log n) rounds REGARDLESS of
    diameter: large-star hangs every higher-numbered neighbor off the
    local minimum, small-star flattens the resulting trees, and the
    fixpoint is the canonical star (every node → component min).
    dedup_cluster_canonical and dedup_savings_by_cluster_size run the
    same routine (`star_contraction_edges`); the independent checks
    are DuckDB's recursive closure in the oracle and the Python
    union-find in tests/test_graph.py.

    Scale: each half-round is one groupBy-min plus one equi-join on the
    CURRENT edge set (which only shrinks toward one edge per node —
    never grows past 2|E|); nothing iterates on the driver but the
    round counter and an exact star-shape test on each round's edge
    set (`_is_star`), which ends the loop on the round that reaches
    the fixpoint. localCheckpoint truncates lineage per round.
    """
    from gotsdb_spark.operators.dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    edges = star_contraction_edges(pairs)
    # Fixpoint is a star: u → component-min v. Size = members + the root.
    return edges.groupBy(F.col("v").alias("canonical_id")).agg(
        (F.count("*") + F.lit(1)).cast("bigint").alias("n_members")
    )


def _is_star(edges: DataFrame) -> bool:
    """Exact test that a distinct edge set (u, v) is a disjoint union of
    stars: every source u has exactly one out-edge and no sink v is
    also a source. Small-star only emits edges u → v with v < u, so a
    star-shaped small-star output points every member at its
    component minimum — the contraction fixpoint, which another round
    would reproduce unchanged. One grouped pass over the node ends and
    one short-circuiting `isEmpty` job."""
    ends = edges.select(F.col("u").alias("n"), F.lit(1).alias("src")).union(
        edges.select(F.col("v").alias("n"), F.lit(0).alias("src"))
    )
    bad = (
        ends.groupBy("n")
        .agg(F.sum("src").alias("out"), F.count("*").alias("deg"))
        .where((F.col("out") > 1) | ((F.col("out") == 1) & (F.col("deg") > 1)))
    )
    return bad.isEmpty()


def _round_bound(pairs: DataFrame) -> int:
    """Round bound for `star_contraction_edges`, from the id type alone
    (no Spark job). A b-bit integral id admits at most 2**b nodes, and
    any DataFrame holds fewer than 2**63 rows, so log2(n) <= min(b, 63).
    The alternation converges in O(log² n) rounds (Kiveris et al.), and
    the bound is that width squared: far above the rounds the loop
    takes, since it ends on the first star (14 rounds for a 10,000-node
    chain with ids in chain order)."""
    widths = {"tinyint": 8, "smallint": 16, "int": 32}
    bits = max(widths.get(pairs.schema[c].dataType.simpleString(), 63) for c in ("doc_a", "doc_b"))
    return bits * bits


def star_contraction_edges(pairs: DataFrame) -> DataFrame:
    """Run large-star/small-star contraction to the star fixpoint and
    return the converged edge set: one row (u, v) per NON-canonical
    member u pointing at its component minimum v — i.e. doc-level
    component membership minus the roots themselves. Shared by
    graph_components_star_contraction (rolls it up to component sizes)
    and dedup_savings_by_cluster_size (joins members back to document
    bytes). See the query docstring for the algorithm and scale
    rationale. The loop stops on the first round whose edge set is a
    star (`_is_star`) and fails loudly if the round bound
    (`_round_bound`) runs out.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    bound = _round_bound(pairs)
    for _ in range(bound):
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
        # large-star: hang every neighbor v > u off m = min(N(u) ∪ {u})
        lmins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        lmins = lmins.select("u", F.least("mn", F.col("u")).alias("m"))
        ls = (
            sym.join(lmins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: flatten — point every smaller neighbor (and u) at
        # the minimum of u's smaller neighborhood
        dire = ls.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        smins = dire.groupBy("u").agg(F.min("v").alias("m"))
        edges = (
            dire.join(smins, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(smins.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .where(F.col("a") != F.col("b"))
            .select(F.col("a").alias("u"), F.col("b").alias("v"))
            .distinct()
            .localCheckpoint()
        )
        if _is_star(edges):
            break
    else:
        # Fail loudly rather than let the groupBy downstream report
        # wrong canonical ids from a non-star edge set.
        raise RuntimeError(
            f"star contraction did not converge within {bound} rounds: the "
            "edge set is still not a star"
        )
    return edges


# ---------------------------------------------------------------------------
# Near-dup pair-graph degree distribution — round 6.
# ---------------------------------------------------------------------------

DEGREE_DIST_ORACLE = """
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), shingles AS MATERIALIZED (
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(len(ws) - 2, 1)),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        FROM words
      ) raw
    ), sigs AS (
      SELECT doc_id, s.seed,
             min(md5(CAST(s.seed AS VARCHAR) || ':' || sh)) AS mh
      FROM shingles, (SELECT unnest(generate_series(0, 7)) AS seed) s
      GROUP BY doc_id, s.seed
    ), bands AS MATERIALIZED (
      SELECT doc_id, seed // 2 AS band_id,
             string_agg(mh, '|' ORDER BY seed) AS sig
      FROM sigs GROUP BY doc_id, seed // 2
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.sig = b.sig AND a.doc_id < b.doc_id
    ), inter AS (
      SELECT doc_a, doc_b, count(*) AS n_common
      FROM cand
      JOIN shingles sa ON sa.doc_id = doc_a
      JOIN shingles sb ON sb.doc_id = doc_b AND sa.sh = sb.sh
      GROUP BY doc_a, doc_b
    ), sizes AS MATERIALIZED (
      SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id
    ), pairs AS MATERIALIZED (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes za ON za.doc_id = doc_a
      JOIN sizes zb ON zb.doc_id = doc_b
      WHERE n_common * 1.0 / (za.n_sh + zb.n_sh - n_common) >= 0.6
    ), ends AS (
      SELECT doc_a AS doc_id FROM pairs
      UNION ALL SELECT doc_b FROM pairs
    ), degrees AS (
      SELECT doc_id, count(*) AS degree FROM ends GROUP BY doc_id
    )
    SELECT CAST(degree AS BIGINT) AS degree,
           count(*) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS example_doc
    FROM degrees GROUP BY degree
"""


@query("graph_degree_distribution", oracle=DEGREE_DIST_ORACLE)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the MinHash near-dup pair graph — the shape
    check run BEFORE connected components: a heavy-tailed degree
    distribution (template hubs, boilerplate stars) is what turns the
    pair graph quadratic and the CC rounds skewed, and this histogram
    is the evidence a df-cap or hub-quarantine decision needs.

    Degrees come from one union of the verified pair endpoints and a
    map-side-combinable groupBy; the histogram re-aggregates the
    ≤max-degree-row frame. Shares the exact same pair semantics
    (bands → candidates → Jaccard ≥ 0.6 verify) as dedup_minhash_lsh,
    so the histogram describes precisely the graph the CC operators
    consume.
    """
    from gotsdb_spark.operators.dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    ends = pairs.select(F.col("doc_a").alias("doc_id")).unionAll(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    degrees = ends.groupBy("doc_id").agg(F.count("*").alias("degree"))
    return degrees.groupBy("degree").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").cast("long").alias("example_doc"),
    ).select(F.col("degree").cast("long").alias("degree"), "n_docs", "example_doc")


# ---------------------------------------------------------------------------
# Synchronous min-label propagation (fixed rounds) — round 8.
# ---------------------------------------------------------------------------

_LP_ROUNDS = 3

LABEL_PROP_ORACLE = f"""
    WITH flows AS MATERIALIZED ({_EDGES_SQL}),
    ue AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM flows WHERE src <> dst
    ), adj AS MATERIALIZED (
      SELECT a AS v, b AS u FROM ue
      UNION ALL SELECT b, a FROM ue
      UNION ALL
      SELECT node, node FROM (
        SELECT a AS node FROM ue UNION SELECT b FROM ue
      ) t
    ), l1 AS (
      SELECT v, min(u) AS lab FROM adj GROUP BY v
    ), l2 AS (
      SELECT adj.v, min(l1.lab) AS lab FROM adj
      JOIN l1 ON l1.v = adj.u GROUP BY adj.v
    ), l3 AS (
      SELECT adj.v, min(l2.lab) AS lab FROM adj
      JOIN l2 ON l2.v = adj.u GROUP BY adj.v
    )
    SELECT CAST(v AS BIGINT) AS node, CAST(lab AS BIGINT) AS community
    FROM l3
"""


@query("graph_label_propagation", oracle=LABEL_PROP_ORACLE)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous min-label propagation over the undirected trade
    graph, exactly {_LP_ROUNDS} rounds: every node starts labeled with
    its own id and each round adopts min(own label, neighbors'
    labels). After k rounds a node's label is PROVABLY the minimum
    node id within k hops — which makes the fixed-round variant
    deterministic (classic async label propagation is famously
    order-dependent) and gives it a clean oracle: k rounds == k
    nested neighborhood-min joins. It is the bounded-round community
    seed (labels that agree early are tight clusters) and the first k
    iterations of the min-label connected-components algorithm that
    dedup_cluster_canonical runs to convergence.

    Scale: each round is one equi-join of the (2|E|+|V|)-row adjacency
    against the |V|-row label frame plus a map-side-combinable
    groupBy-min — the PageRank iteration shape (graph_pagerank_nations)
    with min instead of sum. Rounds are a fixed Python loop on the
    driver (plan depth {_LP_ROUNDS}, no convergence collect); the label
    join is NOT broadcast-forced — Catalyst broadcasts the 25-nation
    frame here and sort-merges at graph scale, which a hard
    F.broadcast would forbid.

    Reference parity: the reference (j0shgrant/gotsdb) has no graph
    surface (internal/storage/types.go:3); this is [TARGET] graph
    machinery.
    """
    lineitem = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    flows = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .select(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
    )
    ue = (
        flows.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    nodes = (
        ue.select(F.col("a").alias("node"))
        .union(ue.select(F.col("b").alias("node")))
        .distinct()
    )
    adj = (
        ue.select(F.col("a").alias("v"), F.col("b").alias("u"))
        .unionAll(ue.select(F.col("b").alias("v"), F.col("a").alias("u")))
        .unionAll(
            nodes.select(F.col("node").alias("v"), F.col("node").alias("u"))
        )
        .localCheckpoint(eager=False)
    )
    labels = nodes.select(F.col("node").alias("v"), F.col("node").alias("lab"))
    for _ in range(_LP_ROUNDS):
        labels = (
            adj.join(labels.select(F.col("v").alias("u"), "lab"), "u")
            .groupBy("v")
            .agg(F.min("lab").alias("lab"))
        )
    return labels.select(
        F.col("v").cast("bigint").alias("node"),
        F.col("lab").cast("bigint").alias("community"),
    )


# ---------------------------------------------------------------------------
# Jaccard link prediction over the trade graph — round 8.
# ---------------------------------------------------------------------------

LINK_PREDICTION_ORACLE = f"""
    WITH flows AS MATERIALIZED ({_EDGES_SQL}),
    ftot AS (
      SELECT sum(w) AS t, count(*) AS n FROM flows
    ), strong AS (
      SELECT src, dst FROM flows CROSS JOIN ftot WHERE w * n > t
    ), ue AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM strong WHERE src <> dst
    ), adj AS MATERIALIZED (
      SELECT a AS x, b AS y FROM ue
      UNION ALL SELECT b, a FROM ue
    ), deg AS MATERIALIZED (
      SELECT x, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY x
    ), wedge AS (
      SELECT t1.x AS node_a, t2.x AS node_b,
             CAST(count(*) AS BIGINT) AS common_neighbors
      FROM adj t1 JOIN adj t2 ON t1.y = t2.y AND t1.x < t2.x
      GROUP BY t1.x, t2.x
    ), cand AS (
      SELECT w.* FROM wedge w
      WHERE NOT EXISTS (
        SELECT 1 FROM ue WHERE ue.a = w.node_a AND ue.b = w.node_b
      )
    )
    SELECT CAST(node_a AS BIGINT) AS node_a,
           CAST(node_b AS BIGINT) AS node_b,
           common_neighbors,
           CAST(common_neighbors * 1000000
                // (da.d + db.d - common_neighbors) AS BIGINT)
             AS jaccard_e6
    FROM cand
    JOIN deg da ON da.x = cand.node_a
    JOIN deg db ON db.x = cand.node_b
"""


@query("graph_link_prediction_jaccard", oracle=LINK_PREDICTION_ORACLE)
def graph_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-coefficient link prediction: for every NON-adjacent node
    pair with at least one common neighbor, |N(a)∩N(b)| / |N(a)∪N(b)|
    — the classic "who should be connected next?" baseline
    (Liben-Nowell & Kleinberg), and on a trade graph the
    market-opportunity scan: nation pairs that share many trading
    partners but no direct flow. The dedup families' similarity
    machinery, applied to graph STRUCTURE instead of content.

    The graph is the SIGNIFICANT-trade graph: only above-average
    flows (w x n_flows > total, an exact integer cross-multiplication)
    become edges — the raw graph saturates to a near-clique as data
    grows (every nation eventually trades once with every other),
    which would leave link prediction nothing to predict; thresholding
    by relative weight keeps the graph's density scale-stable, exactly
    the normalization a production co-occurrence graph applies.

    Candidate pairs come from wedge enumeration — the shared-neighbor
    equi-join on the adjacency list (the graph_triangle_stats shape:
    ordered a < b so each pair counts once) — then existing edges are
    removed by an anti-join and degrees join back for the exact
    integer union via inclusion-exclusion (d_a + d_b - common).
    jaccard_e6 is an exact e6 rational; nothing floats.

    Scale: wedge counts are Σ d(x)² over shared neighbors — at
    production graph scale the standard mitigation (cap or sample
    hub neighbor lists by degree order, exactly as the triangle
    docstring notes) drops in without changing the shape; every join
    is an equi-join on a node key, none broadcast-forced — the
    25-node frames auto-broadcast here; a billion-node degree table
    would sort-merge, which forcing F.broadcast would forbid.

    Reference parity: the reference (j0shgrant/gotsdb) has no graph
    surface (internal/storage/types.go:3); this is [TARGET] graph
    machinery.
    """
    lineitem = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    flows = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    ftot = flows.agg(
        F.sum("w").cast("long").alias("t"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    strong = (
        flows.crossJoin(F.broadcast(ftot))
        .where(F.col("w") * F.col("n") > F.col("t"))
        .select("src", "dst")
    )
    ue = (
        strong.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    adj = ue.select(F.col("a").alias("x"), F.col("b").alias("y")).unionAll(
        ue.select(F.col("b").alias("x"), F.col("a").alias("y"))
    )
    deg = adj.groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("d"))
    t1 = adj.select(F.col("x").alias("node_a"), "y")
    t2 = adj.select(F.col("x").alias("node_b"), "y")
    wedge = (
        t1.join(t2, "y")
        .where(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).cast("long").alias("common_neighbors"))
    )
    cand = wedge.join(
        ue,
        (wedge.node_a == ue.a) & (wedge.node_b == ue.b),
        "left_anti",
    )
    da = deg.select(F.col("x").alias("node_a"), F.col("d").alias("da"))
    db = deg.select(F.col("x").alias("node_b"), F.col("d").alias("db"))
    return (
        cand.join(da, "node_a")
        .join(db, "node_b")
        .select(
            F.col("node_a").cast("bigint").alias("node_a"),
            F.col("node_b").cast("bigint").alias("node_b"),
            "common_neighbors",
            F.expr(
                "CAST(common_neighbors * 1000000"
                " DIV (da + db - common_neighbors) AS BIGINT)"
            ).alias("jaccard_e6"),
        )
    )


# ---------------------------------------------------------------------------
# k-core decomposition (fixed-round peel) over the trade graph — round 9.
# ---------------------------------------------------------------------------

_KC_K = 8  # core order under test
_KC_ROUNDS = 3  # fixed synchronous peel rounds (the _LP_ROUNDS convention)


def _kcore_oracle() -> str:
    cte = [
        f"flows AS MATERIALIZED ({_EDGES_SQL})",
        "ftot AS (SELECT sum(w) AS t, count(*) AS n FROM flows)",
        # above-mean-weight edges only (the link-prediction "strong"
        # cut): the raw nation graph is near-complete at any sf, so the
        # peel is only informative on the strong-trade subgraph
        """ue AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM flows CROSS JOIN ftot WHERE src <> dst AND w * n > t
        )""",
        """alive0 AS (
          SELECT a AS node FROM ue UNION SELECT b FROM ue
        )""",
        """deg0 AS (
          SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT a AS node FROM ue UNION ALL SELECT b FROM ue
          ) GROUP BY node
        )""",
    ]
    prev = "alive0"
    for r in range(1, _KC_ROUNDS + 1):
        cte.append(
            f"""live{r} AS MATERIALIZED (
          SELECT e.a, e.b FROM ue e
          JOIN {prev} x ON x.node = e.a
          JOIN {prev} y ON y.node = e.b
        )"""
        )
        cte.append(
            f"""deg{r} AS MATERIALIZED (
          SELECT n.node, CAST(count(m.node) AS BIGINT) AS d
          FROM {prev} n LEFT JOIN (
            SELECT a AS node FROM live{r}
            UNION ALL SELECT b FROM live{r}
          ) m ON m.node = n.node
          GROUP BY n.node
        )"""
        )
        cte.append(
            f"""alive{r} AS MATERIALIZED (
          SELECT node FROM deg{r} WHERE d >= {_KC_K}
        )"""
        )
        prev = f"alive{r}"
    return (
        "WITH " + ",\n".join(cte) + f"""
    SELECT CAST(d0.node AS BIGINT) AS node,
           d0.d AS degree_initial,
           CAST(coalesce(dk.d, 0) AS BIGINT) AS degree_final,
           CAST(CASE WHEN a.node IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS in_core
    FROM deg0 d0
    LEFT JOIN alive{_KC_ROUNDS} a ON a.node = d0.node
    LEFT JOIN (
      SELECT node, d FROM deg{_KC_ROUNDS}
      WHERE node IN (SELECT node FROM alive{_KC_ROUNDS})
    ) dk ON dk.node = d0.node
    """
    )


@query("graph_kcore_nations", oracle=_kcore_oracle())
def graph_kcore_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round k-core peel (k={_KC_K}, {_KC_ROUNDS} synchronous
    rounds) of the strong-trade nation graph: every round recomputes
    degrees over the surviving subgraph and drops nodes with degree
    < k. The k-core is the standard "dense backbone" extractor —
    nodes that survive belong to a subgraph where EVERYONE keeps >= k
    strong partners, the cohesion notion behind trade-bloc and
    community-core detection (a high-degree node hanging off a sparse
    periphery is peeled once its neighbors go).

    Like graph_label_propagation, the peel runs a FIXED number of
    synchronous rounds rather than to convergence: after r rounds the
    survivors are exactly the nodes the full k-core algorithm keeps
    for r iterations, so the fixed-round variant is deterministic and
    the oracle is r unrolled filter-degree CTE stages. Edges take the
    link-prediction "strong" cut (weight x edge-count > total weight,
    i.e. above-mean) because the raw 25-nation graph is near-complete
    at every sf — integer cross-multiplication, no float threshold.

    Scale: the edge build is the standard fact-sized flows aggregation
    (joins unhinted — Catalyst broadcasts the dims at bench scale, AQE
    sort-merges at 100 TB); everything after the groupBy is bounded by
    the nation grid (<= 25 nodes, <= 300 undirected edges). Each peel
    round is one equi-join + groupBy over those bounded frames — at a
    fact-sized node count the same loop shape holds (the
    label-propagation argument), with degrees from map-side-combinable
    counts.

    Reference parity: the reference (j0shgrant/gotsdb) has no graph
    surface (internal/storage/types.go:3); this is [TARGET] graph
    machinery.
    """
    lineitem = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    flows = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
    )
    ftot = flows.agg(
        F.sum("w").alias("t"), F.count(F.lit(1)).alias("n")
    )
    ue = (
        flows.where(F.col("src") != F.col("dst"))
        .crossJoin(F.broadcast(ftot))
        .where(F.col("w") * F.col("n") > F.col("t"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    ends = ue.select(F.col("a").alias("node")).unionAll(
        ue.select(F.col("b").alias("node"))
    )
    deg0 = ends.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("d0"))
    alive = deg0.select("node")
    deg_r = None
    for _ in range(_KC_ROUNDS):
        # degrees over the surviving subgraph: keep edges whose BOTH
        # endpoints are alive (two semi-joins), then count matched
        # endpoint markers — a left join so an isolated survivor
        # scores degree 0 (count of the marker, not of the join key)
        live = ue.join(
            alive.select(F.col("node").alias("a")), "a", "left_semi"
        ).join(alive.select(F.col("node").alias("b")), "b", "left_semi")
        endpoints = (
            live.select(F.col("a").alias("node"))
            .unionAll(live.select(F.col("b").alias("node")))
            .withColumn("m", F.lit(1))
        )
        # deg_r is read four times next round (two semi-joins, the
        # degree left-join, the final report): checkpoint the <=|V|-row
        # frame so the peel chain stays linear instead of re-expanding
        # the whole prior round per reference (measured 131 s -> ~5 s
        # at sf0.001)
        deg_r = (
            alive.join(endpoints, "node", "left")
            .groupBy("node")
            .agg(F.count("m").cast("long").alias("d"))
            .localCheckpoint(eager=False)
        )
        alive = deg_r.where(F.col("d") >= _KC_K).select("node")
    final_deg = deg_r.join(alive, "node", "left_semi")
    return (
        deg0.join(
            final_deg.select("node", F.col("d").alias("df")), "node", "left"
        )
        .join(
            alive.select("node", F.lit(1).alias("core")), "node", "left"
        )
        .select(
            F.col("node").cast("bigint").alias("node"),
            F.col("d0").alias("degree_initial"),
            F.coalesce("df", F.lit(0)).cast("long").alias("degree_final"),
            F.coalesce("core", F.lit(0)).cast("long").alias("in_core"),
        )
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities — round 9b.
# ---------------------------------------------------------------------------

_HITS_ROUNDS = 3
_HITS_ONE = 1_000_000_000  # e9 fixed-point unit


def _hits_oracle() -> str:
    one = _HITS_ONE
    cte = [
        f"flows AS MATERIALIZED ({_EDGES_SQL})",
        "nodes AS (SELECT n_nationkey AS node, n_name FROM nation)",
        f"h0 AS (SELECT node, CAST({one} AS HUGEINT) AS h FROM nodes)",
    ]
    prev_h = "h0"
    for r in range(1, _HITS_ROUNDS + 1):
        cte.append(
            f"""araw{r} AS MATERIALIZED (
          SELECT n.node,
                 coalesce(sum(CAST(f.w AS HUGEINT) * h.h), 0) AS a
          FROM nodes n
          LEFT JOIN flows f ON f.dst = n.node
          LEFT JOIN {prev_h} h ON h.node = f.src
          GROUP BY n.node
        )"""
        )
        cte.append(f"sa{r} AS (SELECT sum(a) AS s FROM araw{r})")
        cte.append(
            f"""a{r} AS MATERIALIZED (
          SELECT node, CAST(a * {one} // s AS HUGEINT) AS a
          FROM araw{r} CROSS JOIN sa{r}
        )"""
        )
        cte.append(
            f"""hraw{r} AS MATERIALIZED (
          SELECT n.node,
                 coalesce(sum(CAST(f.w AS HUGEINT) * a.a), 0) AS h
          FROM nodes n
          LEFT JOIN flows f ON f.src = n.node
          LEFT JOIN a{r} a ON a.node = f.dst
          GROUP BY n.node
        )"""
        )
        cte.append(f"sh{r} AS (SELECT sum(h) AS s FROM hraw{r})")
        cte.append(
            f"""h{r} AS MATERIALIZED (
          SELECT node, CAST(h * {one} // s AS HUGEINT) AS h
          FROM hraw{r} CROSS JOIN sh{r}
        )"""
        )
        prev_h = f"h{r}"
    return (
        "WITH " + ",\n".join(cte) + f"""
    SELECT n.n_name,
           CAST(h.h AS BIGINT) AS hub_e9,
           CAST(a.a AS BIGINT) AS auth_e9
    FROM nodes n
    JOIN h{_HITS_ROUNDS} h ON h.node = n.node
    JOIN a{_HITS_ROUNDS} a ON a.node = n.node
    """
    )


@query("graph_hits_nations", oracle=_hits_oracle())
def graph_hits_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted HITS over the directed nation trade graph
    ({it} mutual-reinforcement rounds): hubs are the big IMPORTER
    nations (their customers' orders point at many strong exporters),
    authorities the big EXPORTERS (pointed at by many strong hubs) —
    the directional complement of graph_pagerank_nations, which
    collapses both roles into one score.

    Every quantity is an EXACT integer in e9 fixed-point: scores start
    at 1e9, each half-round is sum(w * score) in DECIMAL(38,0)
    (edge weights are fact counts — w * 1e9 is ~6e15 at sf1 and ~6e21
    at a 100 TB fact table, past int64, inside 38 digits), and L1
    normalization is integer `score * 1e9 DIV total`. No float appears
    anywhere, so cross-engine determinism is by construction — no
    shared-expression convention needed (the summation-order hazard of
    float HITS is designed out, not papered over).

    Scale: the edge build is the standard fact-sized flows aggregation
    (joins unhinted; AQE picks the strategy), checkpointed ONCE —
    every iteration then touches only the <=625-row edge grid and the
    25-row score vectors (each checkpointed so the plan stays linear
    in rounds, the graph_kcore_nations lesson). The only scalar
    crossJoins broadcast 1-row L1 totals.

    Reference parity: the reference (j0shgrant/gotsdb) has no graph
    surface (internal/storage/types.go:3); this is [TARGET] graph
    machinery.
    """
    lineitem = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    dec = "decimal(38,0)"
    flows = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
        .localCheckpoint(eager=False)
    )
    nodes = nation.select(F.col("n_nationkey").alias("node"), "n_name")
    h = nodes.select(
        "node", F.lit(_HITS_ONE).cast(dec).alias("h")
    )
    a = None
    for _ in range(_HITS_ROUNDS):
        araw = (
            nodes.select("node")
            .join(flows.withColumnRenamed("dst", "node"), "node", "left")
            .join(
                h.select(F.col("node").alias("src"), "h"), "src", "left"
            )
            .groupBy("node")
            .agg(
                F.coalesce(
                    F.sum(F.col("w").cast(dec) * F.col("h")), F.lit(0).cast(dec)
                ).alias("a")
            )
        )
        sa = araw.agg(F.sum("a").alias("s"))
        a = (
            araw.crossJoin(F.broadcast(sa))
            .select(
                "node",
                F.expr(f"CAST(a * {_HITS_ONE} DIV s AS {dec})").alias("a"),
            )
            .localCheckpoint(eager=False)
        )
        hraw = (
            nodes.select("node")
            .join(flows.withColumnRenamed("src", "node"), "node", "left")
            .join(
                a.select(F.col("node").alias("dst"), F.col("a").alias("av")),
                "dst",
                "left",
            )
            .groupBy("node")
            .agg(
                F.coalesce(
                    F.sum(F.col("w").cast(dec) * F.col("av")),
                    F.lit(0).cast(dec),
                ).alias("hr")
            )
        )
        sh = hraw.agg(F.sum("hr").alias("s"))
        h = (
            hraw.crossJoin(F.broadcast(sh))
            .select(
                "node",
                F.expr(f"CAST(hr * {_HITS_ONE} DIV s AS {dec})").alias("h"),
            )
            .localCheckpoint(eager=False)
        )
    return (
        nodes.join(h, "node")
        .join(a, "node")
        .select(
            "n_name",
            F.col("h").cast("bigint").alias("hub_e9"),
            F.col("a").cast("bigint").alias("auth_e9"),
        )
    )


graph_hits_nations.__doc__ = graph_hits_nations.__doc__.format(
    it=_HITS_ROUNDS
)


# ---------------------------------------------------------------------------
# Exact betweenness centrality on the nation trade graph — round 10.
# ---------------------------------------------------------------------------

_BC_MAX_HOPS = 6


def _nation_bfs_sigma(spark: SparkSession, sf_dir: str):
    """Shared build for the betweenness family (node betweenness,
    round 10; Girvan-Newman edge betweenness, round 11): the
    sparsified undirected nation trade graph and the all-pairs
    level-synchronous BFS table reach(s, v, d, sig) — shortest
    distance d and shortest-path count sigma for every source —
    capped at _BC_MAX_HOPS. Returns (nation, ed, reach); ed carries
    both orientations of every undirected edge. All three frames are
    checkpointed: the fact-sized flows aggregation runs exactly once
    per calling query no matter how many consumers downstream."""
    from pyspark.sql.window import Window

    lineitem = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)

    flows = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
        .where(F.col("src") != F.col("dst"))
    )
    sel = (
        flows.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("src").orderBy(F.desc("w"), F.asc("dst"))
            ),
        )
        .where(F.col("rn") <= _BFS_FANOUT)
        .select("src", "dst")
    )
    und = sel.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    ed = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=False)

    reach = (
        nation.select(
            F.col("n_nationkey").alias("s"),
            F.col("n_nationkey").alias("v"),
            F.lit(0).cast("long").alias("d"),
            F.lit(1).cast("long").alias("sig"),
        )
        .localCheckpoint(eager=False)
    )
    frontier = reach
    for lvl in range(1, _BC_MAX_HOPS + 1):
        # Every frame here is dictionary-bounded (<= 25 sources x 25
        # nodes; ed <= 2x top-k selected pairs) but checkpoint-rooted
        # and therefore stats-less: without hints the planner plans a
        # sort-merge join PER LEVEL (the unrolled 6-level BFS carried
        # ~4 Exchanges+Sorts per level in one deep plan). Broadcasting
        # the edge list and the visited-set probe keeps each level
        # map-side; the only per-level Exchange left is the sigma
        # partial->final aggregate (guide §3.1/§2.4). Sites classified
        # "dim" in tests/test_broadcast_guard.py.
        newly = (
            frontier.join(F.broadcast(ed), frontier.v == ed.a)
            .groupBy("s", F.col("b").alias("nv"))
            .agg(F.sum("sig").cast("long").alias("sig"))
            .join(
                F.broadcast(reach.select("s", F.col("v").alias("nv"))),
                ["s", "nv"],
                "left_anti",
            )
            .select(
                "s",
                F.col("nv").alias("v"),
                F.lit(lvl).cast("long").alias("d"),
                "sig",
            )
            .localCheckpoint(eager=False)
        )
        reach = reach.unionByName(newly)
        frontier = newly
    reach = reach.localCheckpoint(eager=False)
    return nation, ed, reach


def _betweenness_oracle() -> str:
    return f"""
    WITH RECURSIVE flows AS MATERIALIZED ({_EDGES_SQL}),
    sel AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
        FROM flows WHERE src <> dst
      ) t WHERE rn <= {_BFS_FANOUT}
    ),
    und AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM sel
    ),
    ed AS MATERIALIZED (
      SELECT a, b FROM und UNION ALL SELECT b, a FROM und
    ),
    walk(s, v, len) AS (
      SELECT n_nationkey, n_nationkey, 0 FROM nation
      UNION ALL
      SELECT w.s, e.b, w.len + 1
      FROM walk w JOIN ed e ON e.a = w.v
      WHERE w.len < {_BC_MAX_HOPS}
    ),
    sp AS MATERIALIZED (
      SELECT s, v, CAST(min(len) AS BIGINT) AS d FROM walk GROUP BY s, v
    ),
    sigma AS MATERIALIZED (
      SELECT w.s, w.v, p.d, CAST(count(*) AS BIGINT) AS sig
      FROM walk w JOIN sp p ON p.s = w.s AND p.v = w.v AND p.d = w.len
      GROUP BY w.s, w.v, p.d
    ),
    terms AS (
      SELECT m.v AS node,
             CAST(l.sig * r.sig * 1000000000 // st.sig AS BIGINT) AS t_e9
      FROM sigma l
      JOIN sigma r ON r.s = l.v
      JOIN sigma m ON m.s = l.s AND m.v = l.v
      JOIN sigma st ON st.s = l.s AND st.v = r.v
      WHERE l.s < r.v AND l.v <> l.s AND l.v <> r.v
        AND l.d + r.d = st.d
    )
    SELECT n.n_name,
           CAST(coalesce(sum(t.t_e9), 0) AS BIGINT) AS betweenness_e9
    FROM nation n LEFT JOIN terms t ON t.node = n.n_nationkey
    GROUP BY n.n_name
    """


@query("graph_betweenness_nations", oracle=_betweenness_oracle())
def graph_betweenness_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact betweenness centrality over the sparsified UNDIRECTED
    nation trade graph (the top-{k}-partner selection of
    graph_reachability_hops, symmetrized): for every nation v, the sum
    over ordered pairs s < t of σ_st(v)/σ_st — the fraction of
    shortest s→t paths passing THROUGH v. The broker score: PageRank
    (volume of attention) and k-core (embeddedness) both miss the
    cut-vertex whose removal disconnects trading blocs, which is
    precisely what betweenness ranks first.

    Algorithm: level-synchronous all-pairs BFS as dataflow — the
    frontier carries (source, node, σ) rows for ALL {n} sources at
    once (one equi-join against the static edge table + one anti-join
    per level, σ summed across predecessors, the multi-source
    generalization of graph_reachability_hops), capped at {h} hops;
    then betweenness via the all-pairs identity σ_st(v) = σ_sv·σ_vt
    when d(s,v)+d(v,t)=d(s,t) — a triple equi-join over the ≤ n²-row
    distance/count table, O(n³) pairs on a dimension-bounded graph
    (15 625 candidate triples at n=25; Brandes' backward accumulation
    only wins when n² no longer fits — at which point betweenness is
    approximated by source-sampling THIS same dataflow). Each term is
    the exact integer σ_sv·σ_vt·1e9 DIV σ_st, so the sum is an exact
    integer in both engines; the DuckDB oracle is a capped recursive
    WALK enumeration (minimal-length walks are exactly the shortest
    paths) — a genuinely different algorithm agreeing on every count.

    Scale: the fact-sized flows aggregation runs once (checkpointed
    edge table, the round-9 multi-reference lesson); every BFS level
    is a ≤ n²-row join; the per-level frontier is checkpointed so the
    lineage stays linear in levels.

    Reference parity: the reference (j0shgrant/gotsdb) has no graph
    surface (internal/storage/types.go:3); this is [TARGET] graph
    machinery.
    """
    nation, ed, reach = _nation_bfs_sigma(spark, sf_dir)

    left = reach.select(
        F.col("s").alias("ls"), F.col("v").alias("lv"),
        F.col("d").alias("ld"), F.col("sig").alias("lsig"),
    )
    right = reach.select(
        F.col("s").alias("rs"), F.col("v").alias("rv"),
        F.col("d").alias("rd"), F.col("sig").alias("rsig"),
    )
    st = reach.select(
        F.col("s").alias("ts"), F.col("v").alias("tv"),
        F.col("d").alias("td"), F.col("sig").alias("tsig"),
    )
    terms = (
        left.join(right, F.col("lv") == F.col("rs"))
        .join(
            st,
            (F.col("ts") == F.col("ls")) & (F.col("tv") == F.col("rv")),
        )
        .where(
            (F.col("ls") < F.col("rv"))
            & (F.col("lv") != F.col("ls"))
            & (F.col("lv") != F.col("rv"))
            & (F.col("ld") + F.col("rd") == F.col("td"))
        )
        .select(
            F.col("lv").alias("node"),
            F.expr("CAST(lsig * rsig * 1000000000 DIV tsig AS BIGINT)").alias(
                "t_e9"
            ),
        )
    )
    return (
        nation.select(F.col("n_nationkey").alias("node"), "n_name")
        .join(terms, "node", "left")
        .groupBy("n_name")
        .agg(
            F.coalesce(F.sum("t_e9"), F.lit(0))
            .cast("long")
            .alias("betweenness_e9")
        )
    )


graph_betweenness_nations.__doc__ = graph_betweenness_nations.__doc__.format(
    k=_BFS_FANOUT, n=25, h=_BC_MAX_HOPS
)


# ---------------------------------------------------------------------------
# Girvan-Newman edge betweenness (first-split driver) — round 11.
# ---------------------------------------------------------------------------

_GN_TOPK = 10


def _gn_oracle() -> str:
    return f"""
    WITH RECURSIVE flows AS MATERIALIZED ({_EDGES_SQL}),
    sel AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
        FROM flows WHERE src <> dst
      ) t WHERE rn <= {_BFS_FANOUT}
    ),
    und AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM sel
    ),
    ed AS MATERIALIZED (
      SELECT a, b FROM und UNION ALL SELECT b, a FROM und
    ),
    walk(s, v, len) AS (
      SELECT n_nationkey, n_nationkey, 0 FROM nation
      UNION ALL
      SELECT w.s, e.b, w.len + 1
      FROM walk w JOIN ed e ON e.a = w.v
      WHERE w.len < {_BC_MAX_HOPS}
    ),
    sp AS MATERIALIZED (
      SELECT s, v, CAST(min(len) AS BIGINT) AS d FROM walk GROUP BY s, v
    ),
    sigma AS MATERIALIZED (
      SELECT w.s, w.v, p.d, CAST(count(*) AS BIGINT) AS sig
      FROM walk w JOIN sp p ON p.s = w.s AND p.v = w.v AND p.d = w.len
      GROUP BY w.s, w.v, p.d
    ),
    terms AS (
      SELECT least(e.a, e.b) AS ea, greatest(e.a, e.b) AS eb,
             CAST(l.sig * r.sig * 1000000000 // st.sig AS BIGINT) AS t_e9
      FROM ed e
      JOIN sigma l ON l.v = e.a
      JOIN sigma r ON r.s = e.b
      JOIN sigma st ON st.s = l.s AND st.v = r.v
      WHERE l.s < r.v AND l.d + 1 + r.d = st.d
    ),
    ebc AS (
      SELECT ea, eb, CAST(sum(t_e9) AS BIGINT) AS ebc_e9
      FROM terms GROUP BY ea, eb
    ),
    cut AS (
      SELECT ea, eb FROM ebc ORDER BY ebc_e9 DESC, ea, eb LIMIT 1
    ),
    top AS (
      SELECT ea, eb, ebc_e9 FROM ebc ORDER BY ebc_e9 DESC, ea, eb
      LIMIT {_GN_TOPK}
    )
    SELECT na.n_name AS a_name, nb.n_name AS b_name, t.ebc_e9,
           (t.ea = c.ea AND t.eb = c.eb) AS is_first_cut
    FROM top t
    JOIN nation na ON na.n_nationkey = t.ea
    JOIN nation nb ON nb.n_nationkey = t.eb
    CROSS JOIN cut c
    """


@query("graph_girvan_newman_edges", oracle=_gn_oracle())
def graph_girvan_newman_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Girvan-Newman FIRST SPLIT driver: exact edge betweenness over
    the sparsified undirected nation trade graph — for every edge
    {{u, v}}, the sum over node pairs s < t of the fraction of
    shortest s-t paths that traverse the edge. The community
    structure question node betweenness (graph_betweenness_nations)
    cannot answer: GN peels a graph into communities by repeatedly
    REMOVING the highest-betweenness EDGE, and this op computes that
    removal target (is_first_cut) plus the top-{k} cut candidates —
    the inter-community bridges that carry traffic precisely because
    no intra-community shortcut bypasses them.

    Algorithm: reuses _nation_bfs_sigma's all-pairs BFS table —
    distances d and path counts sigma for all {n} sources at once —
    then the EDGE-keyed path identity: a shortest s-t path uses
    directed edge (u, v) iff d(s,u) + 1 + d(v,t) = d(s,t), with
    exactly sigma_su * sigma_vt such paths (the s-u prefix and v-t
    suffix choose independently; the u-v hop is forced). Each term is
    the exact integer sigma_su*sigma_vt*1e9 DIV sigma_st, summed per
    undirected edge over both orientations (for a fixed (s, t) only
    one orientation can satisfy the distance identity, so nothing
    double-counts). The DuckDB oracle derives sigma from a capped
    recursive WALK enumeration — a genuinely different algorithm
    agreeing on every count (the round-10 betweenness convention).

    Scale: the fact-sized flows aggregation runs once (checkpointed
    inside the shared helper); the edge-term join is ed ⋈ reach ⋈
    reach ⋈ reach — O(|E| * n^2) candidate triples on a
    dimension-bounded graph (~75 directed edges * 625 pairs); top-k
    selection is TakeOrderedAndProject, and the 1-row argmax cut
    frame broadcasts. At web-graph scale, GN itself is abandoned for
    modularity methods (graph_label_propagation is the repo's
    scale-path community op); edge betweenness stays exact only while
    n is dimension-bounded, the same stated domain as node
    betweenness.

    Reference parity: the reference (j0shgrant/gotsdb) has no graph
    surface (internal/storage/types.go:3); this is [TARGET] graph
    machinery.
    """
    nation, ed, reach = _nation_bfs_sigma(spark, sf_dir)

    left = reach.select(
        F.col("s").alias("ls"), F.col("v").alias("lv"),
        F.col("d").alias("ld"), F.col("sig").alias("lsig"),
    )
    right = reach.select(
        F.col("s").alias("rs"), F.col("v").alias("rv"),
        F.col("d").alias("rd"), F.col("sig").alias("rsig"),
    )
    st = reach.select(
        F.col("s").alias("ts"), F.col("v").alias("tv"),
        F.col("d").alias("td"), F.col("sig").alias("tsig"),
    )
    terms = (
        ed.join(left, F.col("lv") == F.col("a"))
        .join(right, F.col("rs") == F.col("b"))
        .join(
            st,
            (F.col("ts") == F.col("ls")) & (F.col("tv") == F.col("rv")),
        )
        .where(
            (F.col("ls") < F.col("rv"))
            & (F.col("ld") + 1 + F.col("rd") == F.col("td"))
        )
        .select(
            F.least("a", "b").alias("ea"),
            F.greatest("a", "b").alias("eb"),
            F.expr("CAST(lsig * rsig * 1000000000 DIV tsig AS BIGINT)").alias(
                "t_e9"
            ),
        )
    )
    ebc = (
        terms.groupBy("ea", "eb")
        .agg(F.sum("t_e9").cast("long").alias("ebc_e9"))
        # two consumers: the argmax cut and the top-k report
        .localCheckpoint(eager=False)
    )
    cut = (
        ebc.orderBy(F.desc("ebc_e9"), "ea", "eb")
        .limit(1)
        .select(F.col("ea").alias("ca"), F.col("eb").alias("cb"))
    )
    top = ebc.orderBy(F.desc("ebc_e9"), "ea", "eb").limit(_GN_TOPK)
    return (
        top.join(
            nation.select(
                F.col("n_nationkey").alias("ea"), F.col("n_name").alias("a_name")
            ),
            "ea",
        )
        .join(
            nation.select(
                F.col("n_nationkey").alias("eb"), F.col("n_name").alias("b_name")
            ),
            "eb",
        )
        .crossJoin(F.broadcast(cut))
        .select(
            "a_name",
            "b_name",
            "ebc_e9",
            (
                (F.col("ea") == F.col("ca")) & (F.col("eb") == F.col("cb"))
            ).alias("is_first_cut"),
        )
    )


graph_girvan_newman_edges.__doc__ = graph_girvan_newman_edges.__doc__.format(
    k=_GN_TOPK, n=25
)


# ---------------------------------------------------------------------------
# Trade-backbone shared frame (round 11): top-decile heaviest undirected
# edges. Node/edge domain is the 25-nation dictionary (<= 300 pairs), so
# the ranking window is schema-bounded, not data-sized.
# ---------------------------------------------------------------------------

_BACKBONE_SQL = f"""
    flows AS MATERIALIZED ({_EDGES_SQL}),
    ue_all AS (
      SELECT least(src, dst) AS a, greatest(src, dst) AS b,
             CAST(sum(w) AS BIGINT) AS w
      FROM flows WHERE src <> dst GROUP BY 1, 2
    ), ranked AS (
      SELECT a, b, w,
             row_number() OVER (ORDER BY w DESC, a, b) AS rk,
             count(*) OVER () AS ne
      FROM ue_all
    ), ue AS MATERIALIZED (
      SELECT a, b, w FROM ranked
      WHERE rk <= CAST(ceil(ne / 10.0) AS BIGINT)
    )
"""


def _backbone_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected weighted trade edges (a < b, w = lineitem count both
    directions, self-loops dropped), sparsified to the top ~10%
    heaviest pairs (ties broken by (a, b)). The full pair domain is
    bounded by the nation dictionary (25*24/2 = 300 rows forever), so
    the ranking window is a schema-bounded single partition — the
    documented exception class, not a data-sized window."""
    from pyspark.sql.window import Window as W

    lineitem = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    flows = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .select(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
    )
    ue_all = (
        flows.where(F.col("src") != F.col("dst"))
        .groupBy(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    ne = ue_all.agg(F.count(F.lit(1)).alias("ne"))
    ranked = ue_all.crossJoin(F.broadcast(ne)).withColumn(
        "rk",
        F.row_number().over(W.orderBy(F.desc("w"), "a", "b")),
    )
    return (
        ranked.where(
            F.col("rk") <= F.ceil(F.col("ne") / 10.0).cast("long")
        )
        .select("a", "b", "w")
        # consumed by adjacency, degree, internal-weight and total-mass
        # branches downstream — freeze the top-decile cut once.
        .localCheckpoint(eager=False)
    )


MODULARITY_ORACLE = f"""
    WITH flows AS MATERIALIZED ({_EDGES_SQL}),
    ue AS MATERIALIZED (
      SELECT least(src, dst) AS a, greatest(src, dst) AS b,
             CAST(sum(w) AS BIGINT) AS w
      FROM flows WHERE src <> dst GROUP BY 1, 2
    ), lab AS MATERIALIZED (
      SELECT n_nationkey AS v, n_regionkey AS community FROM nation
    ), mm AS (
      SELECT CAST(sum(w) AS BIGINT) AS m FROM ue
    ), deg AS (
      SELECT v, CAST(sum(w) AS BIGINT) AS k FROM (
        SELECT a AS v, w FROM ue UNION ALL SELECT b, w FROM ue) t
      GROUP BY v
    ), comm AS (
      SELECT l.community, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d.k) AS BIGINT) AS degree_w
      FROM deg d JOIN lab l ON l.v = d.v GROUP BY 1
    ), intw AS (
      SELECT la.community, CAST(sum(e.w) AS BIGINT) AS internal_w
      FROM ue e JOIN lab la ON la.v = e.a JOIN lab lb ON lb.v = e.b
      WHERE la.community = lb.community GROUP BY 1
    )
    SELECT r.r_name AS region, c.n_nodes,
           CAST(coalesce(i.internal_w, 0) AS BIGINT) AS internal_w,
           c.degree_w,
           CAST(4 * CAST(mm.m AS HUGEINT) * coalesce(i.internal_w, 0)
                - CAST(c.degree_w AS HUGEINT) * c.degree_w AS BIGINT)
             AS q_contrib_scaled,
           CAST(floor((4.0 * mm.m * coalesce(i.internal_w, 0)
                       - 1.0 * c.degree_w * c.degree_w)
                      / (4.0 * mm.m * mm.m) * 1e9 + 0.5001) AS BIGINT)
             AS q_contrib_e9
    FROM comm c
    JOIN region r ON r.r_regionkey = c.community
    LEFT JOIN intw i USING (community) CROSS JOIN mm
    ORDER BY region
"""


@query("graph_modularity_communities", oracle=MODULARITY_ORACLE)
def graph_modularity_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted Newman modularity of the REGION partition over
    the full weighted trade graph — the community-quality score that
    answers "does trade cluster within geographic regions more than a
    degree-preserving random rewiring would?". Girvan-Newman
    (graph_girvan_newman_edges) proposes where to cut and
    graph_label_propagation grows bottom-up communities; modularity is
    the standard objective that SCORES any such partition, evaluated
    here on the one ground-truth partition the schema carries
    (nation -> region).

    Exact integers end to end: with m = total undirected trade weight,
    in_c = internal edge weight and deg_c = community degree mass,
    each community's contribution to 4m^2*Q is the exact integer
    4m*in_c - deg_c^2 (HUGEINT/DECIMAL(38,0) — ~1e20 at sf1000, far
    inside 38 digits); the e9 readout divides the same integers in an
    identical double expression in both engines. A whole-graph
    community scores exactly 0; regions trading mostly internally
    score positive — no epsilon anywhere.

    Scale: the only data-sized work is the Q7-shape join down to the
    (src, dst) nation-pair dictionary (one map-side-combinable
    shuffle); the partition labels are the 25-row nation dimension
    (broadcast), and degree/internal sums run on <= 300 dictionary
    rows.

    Reference parity: the reference (j0shgrant/gotsdb) has no graph
    surface (internal/storage/types.go:3); this is [TARGET] graph
    machinery.
    """
    dec = "decimal(38,0)"
    lineitem = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    flows = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .select(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
    )
    ue = (
        flows.where(F.col("src") != F.col("dst"))
        .groupBy(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        # consumed by the degree, internal-weight and total-mass branches
        .localCheckpoint(eager=False)
    )
    lab = nation.select(
        F.col("n_nationkey").alias("v"), F.col("n_regionkey").alias("community")
    )
    mm = ue.agg(F.sum("w").cast("long").alias("m"))
    deg = (
        ue.select(F.col("a").alias("v"), "w")
        .unionAll(ue.select(F.col("b").alias("v"), "w"))
        .groupBy("v")
        .agg(F.sum("w").cast("long").alias("k"))
    )
    comm = (
        deg.join(F.broadcast(lab), "v")
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("k").cast("long").alias("degree_w"),
        )
    )
    la = lab.select(F.col("v").alias("a"), F.col("community").alias("ca"))
    lb = lab.select(F.col("v").alias("b"), F.col("community").alias("cb"))
    intw = (
        ue.join(F.broadcast(la), "a")
        .join(F.broadcast(lb), "b")
        .where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.sum("w").cast("long").alias("internal_w"))
    )
    iw = F.coalesce(F.col("internal_w"), F.lit(0))
    m, dw = F.col("m"), F.col("degree_w")
    return (
        comm.join(intw, "community", "left")
        .join(
            F.broadcast(
                region.select(
                    F.col("r_regionkey").alias("community"),
                    F.col("r_name").alias("region"),
                )
            ),
            "community",
        )
        .crossJoin(F.broadcast(mm))
        .select(
            "region",
            "n_nodes",
            iw.cast("bigint").alias("internal_w"),
            "degree_w",
            (
                F.lit(4).cast(dec) * m.cast(dec) * iw
                - dw.cast(dec) * dw
            )
            .cast("bigint")
            .alias("q_contrib_scaled"),
            F.floor(
                (F.lit(4.0) * m * iw - F.lit(1.0) * dw * dw)
                / (F.lit(4.0) * m * m)
                * 1e9
                + 0.5001
            )
            .cast("bigint")
            .alias("q_contrib_e9"),
        )
        .orderBy("region")
    )


ASSORTATIVITY_ORACLE = f"""
    WITH {_BACKBONE_SQL},
    deg AS MATERIALIZED (
      SELECT v, CAST(count(*) AS BIGINT) AS k FROM (
        SELECT a AS v FROM ue UNION ALL SELECT b FROM ue) t
      GROUP BY v
    ), arcs AS (
      SELECT a AS x, b AS y FROM ue
      UNION ALL SELECT b, a FROM ue
    ), pairs AS (
      SELECT dx.k AS kx, dy.k AS ky
      FROM arcs JOIN deg dx ON dx.v = arcs.x
                JOIN deg dy ON dy.v = arcs.y
    ), suff AS (
      SELECT CAST(count(*) AS BIGINT) AS n_arcs,
             CAST(sum(kx) AS BIGINT) AS sx,
             CAST(sum(kx * kx) AS BIGINT) AS sxx,
             CAST(sum(kx * ky) AS BIGINT) AS sxy
      FROM pairs
    )
    SELECT n_arcs, sx AS sum_k, sxx AS sum_k2, sxy AS sum_kxky,
           CAST((CAST(n_arcs AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sx)
                * 1000000
                // NULLIF(CAST(n_arcs AS HUGEINT) * sxx
                          - CAST(sx AS HUGEINT) * sx, 0) AS BIGINT)
             AS assortativity_e6
    FROM suff
"""


@query("graph_degree_assortativity", oracle=ASSORTATIVITY_ORACLE)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity of the trade backbone — the Pearson
    correlation of endpoint degrees over all directed arcs, THE
    one-number answer to "do hubs trade with hubs (assortative, r > 0)
    or with spokes (disassortative, r < 0)?". Infrastructure and trade
    networks are famously disassortative; this measures ours instead
    of assuming it.

    Exact integers with NO sqrt: over the symmetrized arc list the two
    marginals coincide (sy = sx, syy = sxx), so Pearson's denominator
    sqrt((n*sxx - sx^2)(n*syy - sy^2)) collapses to the integer
    n*sxx - sx^2 and r is the exact rational
    (n*sxy - sx^2) / (n*sxx - sx^2), reported as an e6 integer
    quotient (HUGEINT/DECIMAL(38,0) intermediates; NULL on the
    degenerate regular graph where the variance is 0, identically in
    both engines).

    Scale: the data-sized work is the same one-shuffle nation-pair
    collapse the backbone helper does; degrees, arcs, and the
    sufficient statistics are dictionary-sized (<= 600 arc rows).

    Reference parity: the reference (j0shgrant/gotsdb) has no graph
    surface (internal/storage/types.go:3); this is [TARGET] graph
    machinery.
    """
    dec = "decimal(38,0)"
    ue = _backbone_edges(spark, sf_dir)
    deg = (
        ue.select(F.col("a").alias("v"))
        .unionAll(ue.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    arcs = ue.select(F.col("a").alias("x"), F.col("b").alias("y")).unionAll(
        ue.select(F.col("b").alias("x"), F.col("a").alias("y"))
    )
    pairs = (
        arcs.join(deg.select(F.col("v").alias("x"), F.col("k").alias("kx")), "x")
        .join(deg.select(F.col("v").alias("y"), F.col("k").alias("ky")), "y")
    )
    suff = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_arcs"),
        F.sum("kx").cast("long").alias("sx"),
        F.sum(F.col("kx") * F.col("kx")).cast("long").alias("sxx"),
        F.sum(F.col("kx") * F.col("ky")).cast("long").alias("sxy"),
    )
    return suff.select(
        "n_arcs",
        F.col("sx").alias("sum_k"),
        F.col("sxx").alias("sum_k2"),
        F.col("sxy").alias("sum_kxky"),
        F.expr(
            f"CAST((CAST(n_arcs AS {dec}) * sxy - CAST(sx AS {dec}) * sx)"
            " * 1000000"
            f" DIV NULLIF(CAST(n_arcs AS {dec}) * sxx"
            f" - CAST(sx AS {dec}) * sx, 0) AS BIGINT)"
        ).alias("assortativity_e6"),
    )


# ---------------------------------------------------------------------------
# Personalized (seeded-restart) PageRank — round 11.
# ---------------------------------------------------------------------------

_PPR_REGION = 2  # seed set: nations of region ASIA (key 2), fixed dimension


def _ppr_oracle() -> str:
    cte = [
        f"flows AS ({_EDGES_SQL})",
        """e AS (
          SELECT src, dst, w * 1.0 / sum(w) OVER (PARTITION BY src) AS p
          FROM flows
        )""",
        "n AS (SELECT n_nationkey AS node, n_name, n_regionkey FROM nation)",
        f"""s AS (
          SELECT node, 1.0 / (SELECT count(*) FROM n
                              WHERE n_regionkey = {_PPR_REGION}) AS restart
          FROM n WHERE n_regionkey = {_PPR_REGION}
        )""",
        "r0 AS (SELECT node, restart AS pr FROM s)",
    ]
    for i in range(_ITERATIONS):
        cte.append(
            f"""r{i + 1} AS (
              SELECT n.node,
                     floor((0.15 * coalesce(se.restart, 0)
                            + {_DAMPING} * coalesce(c.c, 0)) * 1e9 + 0.5)
                       / 1e9 AS pr
              FROM n
              LEFT JOIN s se ON se.node = n.node
              LEFT JOIN (
                SELECT e.dst AS node, sum(r.pr * e.p) AS c
                FROM e JOIN r{i} r ON r.node = e.src
                GROUP BY e.dst
              ) c ON c.node = n.node
            )"""
        )
    return (
        "WITH "
        + ",\n".join(cte)
        + f"""
    SELECT n.n_name, r.pr
    FROM n JOIN r{_ITERATIONS} r ON r.node = n.node
    WHERE r.pr > 0
    ORDER BY n.n_name
    """
    )


@query("graph_personalized_pagerank", oracle=_ppr_oracle())
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank seeded on one region's nations ({it}
    power iterations, damping {d}) — the "importance RELATIVE TO a
    query set" variant that drives related-item and local-influence
    ranking: teleport mass returns only to the seed set (region key
    {seed}), so scores measure proximity to those seeds through trade
    flow, not global centrality (graph_pagerank_nations).

    Same engine-parity discipline as the global op: the normalized
    edge table is built once (checkpointed, <= 625 rows); each
    iteration is one equi-join + destination aggregate; ranks are
    half-up rounded to 1e-9 per iteration so both engines walk
    identical trajectories. Rows with pr = 0 (unreached nodes) are
    filtered in both engines, keeping the output support-only.

    Scale: identical to PageRank — the rank vector is the only moving
    data; restart is a broadcast of the seed dimension; at 100 TB the
    edge list partitions by src and nothing iterates on the driver
    but the loop counter.

    Reference parity: the reference (j0shgrant/gotsdb) has no graph
    surface (internal/storage/types.go:3); this is [TARGET] graph
    machinery.
    """
    from pyspark.sql.window import Window

    lineitem = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    flows = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count("*").alias("w"))
    )
    e = flows.select(
        "src",
        "dst",
        (F.col("w") / F.sum("w").over(Window.partitionBy("src"))).alias("p"),
    ).localCheckpoint(eager=False)
    nodes = nation.select(F.col("n_nationkey").alias("node"), "n_name",
                          "n_regionkey")
    n_seed = nodes.where(F.col("n_regionkey") == _PPR_REGION).count()
    seeds = nodes.where(F.col("n_regionkey") == _PPR_REGION).select(
        "node", F.lit(1.0 / n_seed).alias("restart")
    )
    r = seeds.select("node", F.col("restart").alias("pr"))
    for _ in range(_ITERATIONS):
        contrib = (
            e.join(
                r.withColumnRenamed("node", "src_node"),
                F.col("src") == F.col("src_node"),
            )
            .groupBy(F.col("dst").alias("cnode"))
            .agg(F.sum(F.col("pr") * F.col("p")).alias("c"))
        )
        r = (
            nodes.join(F.broadcast(seeds), "node", "left")
            .join(F.broadcast(contrib), nodes.node == F.col("cnode"), "left")
            .select(
                "node",
                (
                    F.floor(
                        (
                            F.lit(0.15)
                            * F.coalesce(F.col("restart"), F.lit(0.0))
                            + _DAMPING * F.coalesce(F.col("c"), F.lit(0.0))
                        )
                        * 1e9
                        + 0.5
                    )
                    / 1e9
                ).alias("pr"),
            )
        )
    return (
        nodes.join(F.broadcast(r), "node")
        .where(F.col("pr") > 0)
        .select("n_name", "pr")
        .orderBy("n_name")
    )


graph_personalized_pagerank.__doc__ = graph_personalized_pagerank.__doc__.format(
    it=_ITERATIONS, d=_DAMPING, seed=_PPR_REGION
)


LOCAL_CLUSTERING_ORACLE = f"""
    WITH {_BACKBONE_SQL},
    pe AS MATERIALIZED (SELECT a, b FROM ue),
    tri AS MATERIALIZED (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM pe e1
      JOIN pe e2 ON e2.a = e1.b
      JOIN pe e3 ON e3.a = e1.a AND e3.b = e2.b
    ), tcnt AS (
      SELECT node, CAST(count(*) AS BIGINT) AS t FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      ) u GROUP BY node
    ), deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS k FROM (
        SELECT a AS node FROM pe UNION ALL SELECT b FROM pe
      ) t GROUP BY node
    )
    SELECT n.n_name, d.k AS degree,
           CAST(coalesce(t.t, 0) AS BIGINT) AS triangles,
           CAST(2 * coalesce(t.t, 0) * 1000000
                // NULLIF(d.k * (d.k - 1), 0) AS BIGINT) AS lcc_e6
    FROM deg d
    JOIN nation n ON n.n_nationkey = d.node
    LEFT JOIN tcnt t ON t.node = d.node
    ORDER BY n.n_name
"""


@query("graph_local_clustering", oracle=LOCAL_CLUSTERING_ORACLE)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the trade BACKBONE
    (top-decile heaviest pairs) — where graph_triangle_stats reports
    the single global coefficient, this ranks each nation by how
    interconnected its own neighborhood is: lcc(v) = 2*t_v /
    (k_v*(k_v-1)), the fraction of v's neighbor pairs that are
    themselves edges. Run on the sparsified backbone because the full
    trade graph is near-complete (every lcc would be 1); the backbone
    is where the hub-vs-clique structure lives.

    Determinism: triangles enumerate exactly once as ordered triples
    a < b < c (the triangle_stats join shape) and fan out to their 3
    corners with a union — integer counts; the coefficient is the
    exact e6 integer quotient with a NULLIF on degree-1 nodes
    (identical NULL in both engines).

    Scale: the data-sized work is the one-shuffle backbone collapse
    (checkpointed, <= 300 rows); the triple self-join and corner
    explosion are dictionary-sized equi-joins.

    Reference parity: the reference (j0shgrant/gotsdb) has no graph
    surface (internal/storage/types.go:3); this is [TARGET] graph
    machinery.
    """
    ue = _backbone_edges(spark, sf_dir).select("a", "b").localCheckpoint(
        eager=False
    )
    nation = load_table(spark, "nation", sf_dir)
    e1 = ue
    e2 = ue.select(F.col("a").alias("b2a"), F.col("b").alias("c"))
    e3 = ue.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (
        e1.join(F.broadcast(e2), e1.b == e2.b2a)
        .join(
            F.broadcast(e3),
            (e1.a == e3.a3) & (F.col("c") == F.col("c3")),
            "left_semi",
        )
        .select(F.col("a").alias("x"), F.col("b").alias("y"), F.col("c").alias("z"))
        .localCheckpoint(eager=False)
    )
    tcnt = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    deg = (
        ue.select(F.col("a").alias("node"))
        .unionAll(ue.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    return (
        deg.join(tcnt, "node", "left")
        .join(
            F.broadcast(
                nation.select(F.col("n_nationkey").alias("node"), "n_name")
            ),
            "node",
        )
        .select(
            "n_name",
            F.col("k").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("bigint").alias("triangles"),
            F.expr(
                "CAST(2 * coalesce(t, 0) * 1000000"
                " DIV NULLIF(k * (k - 1), 0) AS BIGINT)"
            ).alias("lcc_e6"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Graph eccentricity / diameter / center — round 11.
# ---------------------------------------------------------------------------

ECCENTRICITY_ORACLE = f"""
    WITH RECURSIVE flows AS MATERIALIZED ({_EDGES_SQL}),
    sel AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
        FROM flows WHERE src <> dst
      ) t WHERE rn <= {_BFS_FANOUT}
    ),
    und AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM sel
    ),
    ed AS MATERIALIZED (
      SELECT a, b FROM und UNION ALL SELECT b, a FROM und
    ),
    walk(s, v, len) AS (
      SELECT n_nationkey, n_nationkey, 0 FROM nation
      UNION ALL
      SELECT w.s, e.b, w.len + 1
      FROM walk w JOIN ed e ON e.a = w.v
      WHERE w.len < {_BC_MAX_HOPS}
    ),
    sp AS MATERIALIZED (
      SELECT s, v, CAST(min(len) AS BIGINT) AS d FROM walk GROUP BY s, v
    ),
    ecc AS MATERIALIZED (
      SELECT s, CAST(max(d) AS BIGINT) AS eccentricity,
             CAST(count(*) AS BIGINT) AS n_reachable
      FROM sp GROUP BY s
    ),
    gd AS (
      SELECT CAST(min(eccentricity) AS BIGINT) AS radius,
             CAST(max(eccentricity) AS BIGINT) AS diameter
      FROM ecc
    )
    SELECT n.n_name, e.eccentricity, e.n_reachable, g.radius, g.diameter,
           CAST(CASE WHEN e.eccentricity = g.radius THEN 1 ELSE 0 END
                AS BIGINT) AS is_center,
           CAST(CASE WHEN e.eccentricity = g.diameter THEN 1 ELSE 0 END
                AS BIGINT) AS is_peripheral
    FROM ecc e
    JOIN nation n ON n.n_nationkey = e.s
    CROSS JOIN gd g
    ORDER BY n.n_name
"""


@query("graph_eccentricity_nations", oracle=ECCENTRICITY_ORACLE)
def graph_eccentricity_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eccentricity, radius, diameter, center and periphery of the
    sparsified nation trade graph — the distance-profile summary the
    betweenness family doesn't give: eccentricity(v) = the longest
    shortest path OUT of v (within the {h}-hop BFS cap), the diameter
    is the worst such distance anywhere, and the center (ecc = radius)
    is where a coordinator or a cache belongs. Reuses the shared
    all-pairs BFS table (_nation_bfs_sigma) that betweenness and
    Girvan-Newman consume, so the fact-sized flows aggregation still
    runs exactly once.

    Determinism: distances and counts are exact BFS integers; the
    min/max/flag comparisons never round anything. n_reachable (self
    included) exposes disconnection honestly instead of an infinite
    eccentricity: a node's ecc is over its reachable set within the
    cap, identically in both engines (the DuckDB oracle enumerates
    capped minimal walks — a different algorithm agreeing on every
    distance).

    Scale: the BFS is the betweenness dataflow (one equi-join + one
    anti-join per level against the checkpointed <= n^2-row reach
    table); eccentricity is one groupBy over it; radius/diameter a
    1-row broadcast.

    Reference parity: the reference (j0shgrant/gotsdb) has no graph
    surface (internal/storage/types.go:3); this is [TARGET] graph
    machinery.
    """
    nation, ed, reach = _nation_bfs_sigma(spark, sf_dir)
    ecc = reach.groupBy("s").agg(
        F.max("d").cast("long").alias("eccentricity"),
        F.count(F.lit(1)).cast("long").alias("n_reachable"),
    )
    glob = ecc.agg(
        F.min("eccentricity").cast("long").alias("radius"),
        F.max("eccentricity").cast("long").alias("diameter"),
    )
    return (
        ecc.join(
            F.broadcast(
                nation.select(F.col("n_nationkey").alias("s"), "n_name")
            ),
            "s",
        )
        .crossJoin(F.broadcast(glob))
        .select(
            "n_name",
            "eccentricity",
            "n_reachable",
            "radius",
            "diameter",
            (F.col("eccentricity") == F.col("radius"))
            .cast("long")
            .alias("is_center"),
            (F.col("eccentricity") == F.col("diameter"))
            .cast("long")
            .alias("is_peripheral"),
        )
        .orderBy("n_name")
    )


graph_eccentricity_nations.__doc__ = graph_eccentricity_nations.__doc__.format(
    h=_BC_MAX_HOPS
)


# ---------------------------------------------------------------------------
# Rich-club coefficient curve — round 11.
# ---------------------------------------------------------------------------

_RICH_CLUB_KS = (1, 2, 3, 4, 5)

RICH_CLUB_ORACLE = f"""
    WITH {_BACKBONE_SQL},
    deg AS MATERIALIZED (
      SELECT v, CAST(count(*) AS BIGINT) AS k FROM (
        SELECT a AS v FROM ue UNION ALL SELECT b FROM ue) t
      GROUP BY v
    ), ks AS (
      SELECT unnest([{", ".join(str(k) for k in _RICH_CLUB_KS)}]) AS kmin
    ), club AS (
      SELECT ks.kmin, d.v
      FROM ks JOIN deg d ON d.k > ks.kmin
    ), cnt AS (
      SELECT kmin, CAST(count(*) AS BIGINT) AS n_nodes
      FROM club GROUP BY kmin
    ), ce AS (
      SELECT c1.kmin, CAST(count(*) AS BIGINT) AS n_edges
      FROM ue e
      JOIN club c1 ON c1.v = e.a
      JOIN club c2 ON c2.v = e.b AND c2.kmin = c1.kmin
      GROUP BY c1.kmin
    )
    SELECT CAST(c.kmin AS BIGINT) AS k_min, c.n_nodes,
           CAST(coalesce(e.n_edges, 0) AS BIGINT) AS n_edges,
           CAST(2 * coalesce(e.n_edges, 0) * 1000000
                // NULLIF(c.n_nodes * (c.n_nodes - 1), 0) AS BIGINT)
             AS phi_e6
    FROM cnt c LEFT JOIN ce e USING (kmin)
    ORDER BY k_min
"""


@query("graph_rich_club", oracle=RICH_CLUB_ORACLE)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient curve of the trade backbone: for each
    degree threshold k, the edge density phi(k) = 2*E_k /
    (N_k*(N_k-1)) among nodes of degree > k — the do-hubs-form-a-
    closed-club question that assortativity (one global correlation)
    and k-core (membership only) both blur: a rising phi(k) curve
    means the elite trades preferentially with itself.

    Determinism: degrees, club membership (strict k > threshold),
    club-internal edge counts, and the e6 density are all exact
    integers; thresholds where the club has < 2 members yield NULL in
    both engines.

    Scale: one backbone collapse (checkpointed, <= 300 rows); the
    threshold spine is a 5-row broadcast; club joins are
    dictionary-sized equi-joins on the node key.

    Reference parity: the reference (j0shgrant/gotsdb) has no graph
    surface (internal/storage/types.go:3); this is [TARGET] graph
    machinery.
    """
    ue = _backbone_edges(spark, sf_dir).select("a", "b").localCheckpoint(
        eager=False
    )
    deg = (
        ue.select(F.col("a").alias("v"))
        .unionAll(ue.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    ks = ue.sparkSession.createDataFrame(
        [(k,) for k in _RICH_CLUB_KS], "kmin INT"
    )
    club = (
        deg.crossJoin(F.broadcast(ks))
        .where(F.col("k") > F.col("kmin"))
        .select("kmin", "v")
        .localCheckpoint(eager=False)
    )
    cnt = club.groupBy("kmin").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    c1 = club.select(F.col("kmin"), F.col("v").alias("a"))
    c2 = club.select(F.col("kmin").alias("kmin2"), F.col("v").alias("b2"))
    ce = (
        ue.join(c1, "a")
        .join(
            c2,
            (F.col("b") == F.col("b2")) & (F.col("kmin") == F.col("kmin2")),
        )
        .groupBy("kmin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    )
    return (
        cnt.join(ce, "kmin", "left")
        .select(
            F.col("kmin").cast("bigint").alias("k_min"),
            "n_nodes",
            F.coalesce(F.col("n_edges"), F.lit(0))
            .cast("bigint")
            .alias("n_edges"),
            F.expr(
                "CAST(2 * coalesce(n_edges, 0) * 1000000"
                " DIV NULLIF(n_nodes * (n_nodes - 1), 0) AS BIGINT)"
            ).alias("phi_e6"),
        )
        .orderBy("k_min")
    )


# ---------------------------------------------------------------------------
# Connected components per deletion scenario (articulation points, bridges).
# ---------------------------------------------------------------------------


def _components_per_scenario(
    edges: DataFrame, labels: DataFrame, keys: list[str]
) -> DataFrame:
    """Count the connected components of many small graphs at once.

    Each scenario, named by its `keys` columns, is one graph: `edges`
    holds its directed edges (keys..., a, b) with both directions
    present, `labels` its nodes (keys..., v, lbl) with lbl = v. One
    data-parallel min-label propagation runs every scenario to its
    fixpoint, where each node carries its component's smallest id;
    the result is (keys..., n_comp).

    Dictionary bound: the callers' scenarios come from the nation
    backbone, at most 31 scenarios (<= 30 backbone edges + the
    baseline) x 25 nations, so `labels` and each round's candidate
    frame hold <= 775 rows whatever the data scale. That bound is what
    makes the two per-round broadcasts safe ("dim" in
    tests/test_broadcast_guard.py). The hints are needed because
    localCheckpoint frames carry no size statistics: without them the
    planner sort-merge-joins both sides, 4 Exchanges and 4 Sorts per
    round instead of the one aggregate Exchange.

    Convergence: the key set is fixed and each lbl only decreases
    (F.least), so sum(lbl) strictly drops whenever any label changes
    and an unchanged (count, sum(lbl)) is exactly an unchanged frame.
    That is one driver action per round, which also materialises the
    round's checkpoint. Labels settle within a component's diameter,
    at most 24 hops over 25 nations, so 26 rounds include the
    confirming one; running out raises rather than return wrong counts.
    """
    prev_sig = None
    for _ in range(_N_NATIONS + 1):
        on = [labels[k] == edges[k] for k in keys] + [labels.v == edges.a]
        cand = (
            F.broadcast(labels)
            .join(edges, reduce(operator.and_, on))
            .groupBy(*[labels[k] for k in keys], F.col("b").alias("v"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        labels = (
            labels.join(F.broadcast(cand), [*keys, "v"], "left")
            .select(
                *keys,
                "v",
                F.least(
                    F.col("lbl"), F.coalesce("nlbl", F.col("lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint(eager=False)
        )
        sig = tuple(
            labels.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s"),
            ).collect()[0]
        )
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"per-scenario label propagation did not reach a fixpoint "
            f"within {_N_NATIONS + 1} rounds: the label frame is still "
            "changing, so component counts would be wrong"
        )
    return labels.groupBy(*keys).agg(
        F.countDistinct("lbl").cast("long").alias("n_comp")
    ).localCheckpoint(eager=False)


# ---------------------------------------------------------------------------
# Articulation points (cut vertices).
# ---------------------------------------------------------------------------

ARTICULATION_ORACLE = f"""
    WITH RECURSIVE {_BACKBONE_SQL},
    edb AS MATERIALIZED (
      SELECT a, b FROM ue UNION ALL SELECT b, a FROM ue
    ),
    nodes AS MATERIALIZED (
      SELECT DISTINCT a AS v FROM edb
    ),
    excl AS (
      SELECT v AS x FROM nodes UNION ALL SELECT -1
    ),
    reach(x, s, v) AS (
      SELECT e.x, n.v, n.v FROM excl e JOIN nodes n ON n.v <> e.x
      UNION
      SELECT r.x, r.s, d.b
      FROM reach r JOIN edb d ON d.a = r.v
      WHERE d.b <> r.x
    ),
    comp AS (
      SELECT x, s, min(v) AS lbl FROM reach GROUP BY x, s
    ),
    cnt AS (
      SELECT x, CAST(count(DISTINCT lbl) AS BIGINT) AS n_comp
      FROM comp GROUP BY x
    ),
    base AS (
      SELECT n_comp AS base_comp FROM cnt WHERE x = -1
    )
    SELECT nn.n_name,
           c.n_comp AS components_without,
           b.base_comp AS components_base,
           c.n_comp > b.base_comp AS is_articulation
    FROM cnt c CROSS JOIN base b
    JOIN nation nn ON nn.n_nationkey = c.x
    WHERE c.x >= 0
    ORDER BY nn.n_name
"""


@query("graph_articulation_points", oracle=ARTICULATION_ORACLE)
def graph_articulation_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Articulation points (cut vertices) of the sparsified trade
    backbone: for every backbone nation v, the number of connected
    components of G - v, and whether removing v DISCONNECTS part of
    the graph — the single-point-of-failure audit that complements
    graph_girvan_newman_edges (its cut candidates are EDGES; an
    articulation point is the node-level bottleneck whose loss
    partitions the trade network).

    Exact by definition, not Tarjan: the node domain is the nation
    dictionary (<= 25 nodes forever, the betweenness-family bound), so
    all |V|+1 vertex-deletion scenarios — each backbone node, plus the
    sentinel x = -1 for the unmodified baseline — run as ONE
    data-parallel min-label-propagation fixpoint
    (`_components_per_scenario`) over an (excl, node, label) frame of
    <= 26 x 25 rows, edges replicated per scenario with both endpoints
    != excl.

    Determinism: labels are integer minima over integer node ids;
    component counts are exact; the boolean compares two exact
    integers. No floats anywhere.

    Scale: ONE fact-table collapse builds the backbone (checkpointed,
    shared shape with the modularity/assortativity family); everything
    after is dictionary-sized (<= 26 x 600-row joins per round,
    rounds bounded by graph diameter <= |V|). For million-node graphs
    the same scenario-replicated label propagation applies with
    sampled vertex batches; the exhaustive per-vertex sweep is the
    dimension-bounded-domain variant.

    Reference parity: the reference (j0shgrant/gotsdb) has no graph
    surface (internal/storage/types.go:3); this is [TARGET] graph
    machinery.
    """
    ue = _backbone_edges(spark, sf_dir)
    edb = ue.select("a", "b").unionByName(
        ue.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    nodes = edb.select(F.col("a").alias("v")).distinct().localCheckpoint(
        eager=False
    )
    excl = nodes.select(F.col("v").alias("x")).unionByName(
        nodes.sparkSession.range(1).select(F.lit(-1).alias("x"))
    )
    edx = (
        edb.crossJoin(F.broadcast(excl))
        .where((F.col("a") != F.col("x")) & (F.col("b") != F.col("x")))
        .select("x", "a", "b")
        .localCheckpoint(eager=False)
    )
    labels = (
        nodes.crossJoin(F.broadcast(excl))
        .where(F.col("v") != F.col("x"))
        .select("x", "v", F.col("v").alias("lbl"))
        .localCheckpoint(eager=False)
    )
    cnt = _components_per_scenario(edx, labels, ["x"])
    base = cnt.where(F.col("x") == -1).select(
        F.col("n_comp").alias("base_comp")
    )
    nation = load_table(spark, "nation", sf_dir)
    return (
        cnt.where(F.col("x") >= 0)
        .crossJoin(F.broadcast(base))
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("x") == F.col("n_nationkey"),
        )
        .select(
            "n_name",
            F.col("n_comp").alias("components_without"),
            F.col("base_comp").alias("components_base"),
            (F.col("n_comp") > F.col("base_comp")).alias("is_articulation"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Bridges (cut edges).
# ---------------------------------------------------------------------------

BRIDGES_ORACLE = f"""
    WITH RECURSIVE {_BACKBONE_SQL},
    edb AS MATERIALIZED (
      SELECT a, b FROM ue UNION ALL SELECT b, a FROM ue
    ),
    nodes AS MATERIALIZED (
      SELECT DISTINCT a AS v FROM edb
    ),
    excl AS (
      SELECT a AS xa, b AS xb FROM ue UNION ALL SELECT -1, -1
    ),
    reach(xa, xb, s, v) AS (
      SELECT e.xa, e.xb, n.v, n.v FROM excl e CROSS JOIN nodes n
      UNION
      SELECT r.xa, r.xb, r.s, d.b
      FROM reach r JOIN edb d ON d.a = r.v
      WHERE NOT (least(d.a, d.b) = r.xa AND greatest(d.a, d.b) = r.xb)
    ),
    comp AS (
      SELECT xa, xb, s, min(v) AS lbl FROM reach GROUP BY xa, xb, s
    ),
    cnt AS (
      SELECT xa, xb, CAST(count(DISTINCT lbl) AS BIGINT) AS n_comp
      FROM comp GROUP BY xa, xb
    ),
    base AS (
      SELECT n_comp AS base_comp FROM cnt WHERE xa = -1
    )
    SELECT na.n_name AS a_name, nb.n_name AS b_name, u.w,
           c.n_comp AS components_without,
           bb.base_comp AS components_base,
           c.n_comp > bb.base_comp AS is_bridge
    FROM cnt c
    JOIN ue u ON u.a = c.xa AND u.b = c.xb
    CROSS JOIN base bb
    JOIN nation na ON na.n_nationkey = c.xa
    JOIN nation nb ON nb.n_nationkey = c.xb
    WHERE c.xa >= 0
    ORDER BY a_name, b_name
"""


@query("graph_bridges", oracle=BRIDGES_ORACLE)
def graph_bridges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bridges (cut edges) of the sparsified trade backbone: for every
    backbone edge (a, b), the number of connected components of
    G - {{(a,b)}}, and whether deleting that single trade corridor
    DISCONNECTS part of the network — the edge-level
    single-point-of-failure audit that completes the cut family
    (graph_articulation_points removes NODES; Girvan-Newman ranks
    edges by betweenness, which flags bottlenecks but not whether the
    graph actually splits).

    Exact by definition, not Tarjan low-link: the edge domain is the
    sparsified nation-pair backbone (<= 30 edges forever, bounded by
    the 300-pair dictionary), so all |E|+1 edge-deletion scenarios —
    each backbone edge, plus the sentinel (xa, xb) = (-1, -1) for the
    unmodified baseline — run as ONE data-parallel
    min-label-propagation fixpoint (`_components_per_scenario`) over a
    (xa, xb, node, label) frame of <= 31 x 25 rows, directed edges
    replicated per scenario with the excluded undirected pair dropped
    in both directions.

    Determinism: labels are integer minima over integer node ids;
    component counts are exact; the boolean compares two exact
    integers; edge weights are exact lineitem counts. No floats.

    Scale: ONE fact-table collapse builds the backbone (checkpointed,
    shared shape with the articulation/modularity family); everything
    after is dictionary-sized (<= 31 x 600-row joins per round,
    rounds bounded by graph diameter <= |V|). For billion-edge graphs
    the same scenario-replicated propagation applies to a CANDIDATE
    edge set (e.g. Girvan-Newman's top-k betweenness edges) rather
    than every edge; the exhaustive per-edge sweep is the
    dimension-bounded-domain variant.

    Reference parity: the reference (j0shgrant/gotsdb) has no graph
    surface (internal/storage/types.go:3); this is [TARGET] graph
    machinery.
    """
    ue = _backbone_edges(spark, sf_dir)
    edb = ue.select("a", "b").unionByName(
        ue.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    nodes = edb.select(F.col("a").alias("v")).distinct().localCheckpoint(
        eager=False
    )
    excl = ue.select(
        F.col("a").alias("xa"), F.col("b").alias("xb")
    ).unionByName(
        ue.sparkSession.range(1).select(
            F.lit(-1).alias("xa"), F.lit(-1).alias("xb")
        )
    )
    edx = (
        edb.crossJoin(F.broadcast(excl))
        .where(
            ~(
                (F.least("a", "b") == F.col("xa"))
                & (F.greatest("a", "b") == F.col("xb"))
            )
        )
        .select("xa", "xb", "a", "b")
        .localCheckpoint(eager=False)
    )
    labels = (
        nodes.crossJoin(F.broadcast(excl))
        .select("xa", "xb", "v", F.col("v").alias("lbl"))
        .localCheckpoint(eager=False)
    )
    cnt = _components_per_scenario(edx, labels, ["xa", "xb"])
    base = cnt.where(F.col("xa") == -1).select(
        F.col("n_comp").alias("base_comp")
    )
    nation = load_table(spark, "nation", sf_dir)
    return (
        cnt.where(F.col("xa") >= 0)
        .join(
            ue.select("a", "b", "w"),
            (F.col("xa") == F.col("a")) & (F.col("xb") == F.col("b")),
        )
        .crossJoin(F.broadcast(base))
        .join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("xa"),
                    F.col("n_name").alias("a_name"),
                )
            ),
            "xa",
        )
        .join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("xb"),
                    F.col("n_name").alias("b_name"),
                )
            ),
            "xb",
        )
        .select(
            "a_name",
            "b_name",
            "w",
            F.col("n_comp").alias("components_without"),
            F.col("base_comp").alias("components_base"),
            (F.col("n_comp") > F.col("base_comp")).alias("is_bridge"),
        )
        .orderBy("a_name", "b_name")
    )
