"""Round-8 operator tests: independent Python reference
implementations and structural properties for the twelve new
registered queries (the DuckDB hash gate is the primary check; these
pin semantics against a second, non-SQL implementation)."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from gotsdb_spark.operators.registry import QUERIES
from gotsdb_spark.sources.registry import load_table

SF = "/root/testdata/sf0.001"


def _r9(v: float) -> float:
    return math.floor(v * 1e9 + 0.5) / 1e9


def _e6(v: float) -> int:
    return math.floor(v * 1e6 + 0.5001)


def _e9(v: float) -> int:
    return math.floor(v * 1e9 + 0.5001)


def _parity(key) -> int:
    return int(hashlib.md5(str(key).encode()).hexdigest()[:4], 16) % 2


def _daily_series(spark):
    rows = (
        load_table(spark, "events", SF)
        .select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2025-01-01").cast("date")
            ).alias("x"),
            F.floor(F.col("value") * 1000).cast("bigint").alias("v_e3"),
        )
        .groupBy("event_type", "x")
        .agg(F.expr("CAST(sum(v_e3) DIV count(*) AS BIGINT)").alias("y_e3"))
        .collect()
    )
    out: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["event_type"], r["x"])):
        out.setdefault(r["event_type"], []).append(r["y_e3"])
    return out


def _midranks_x2(values: list[int]) -> dict[int, int]:
    """value -> doubled tie-averaged midrank (2*cc - c + 1)."""
    from collections import Counter

    cnt = Counter(values)
    out, cc = {}, 0
    for v in sorted(cnt):
        c = cnt[v]
        cc += c
        out[v] = 2 * cc - c + 1
    return out


def _decile_edges(values: list[int]) -> list[int]:
    """Nine smallest-value-with-cc*10>=k*n edges (the helper's rule)."""
    from collections import Counter

    cnt = Counter(values)
    n = len(values)
    edges = []
    for k in range(1, 10):
        cc = 0
        for v in sorted(cnt):
            cc += cnt[v]
            if cc * 10 >= k * n:
                edges.append(v)
                break
    return edges


def _bin(v: int, edges: list[int]) -> int:
    return 1 + sum(1 for e in edges if v > e)


def test_holt_damped_matches_python_reference(spark):
    series = _daily_series(spark)
    got = {
        r["event_type"]: r
        for r in QUERIES["ts_holt_winters_damped"](spark, SF).collect()
    }
    a, b, ph = 0.5, 0.3, 0.9
    hsum = sum(ph**k for k in range(1, 8))
    for etype, ys in series.items():
        assert len(ys) >= 3
        level = _r9(ys[0] / 1000.0)
        trend = _r9((ys[1] - ys[0]) / 1000.0)
        for y_e3 in ys[1:]:
            y = y_e3 / 1000.0
            lnew = _r9(a * y + (1 - a) * (level + ph * trend))
            trend = _r9(b * (lnew - level) + (1 - b) * ph * trend)
            level = lnew
        row = got[etype]
        assert row["n_days"] == len(ys)
        assert row["level_e6"] == _e6(level)
        assert row["trend_e6"] == _e6(trend)
        assert row["forecast_h7_e6"] == _e6(level + hsum * trend)


def test_markov_matches_python_reference(spark):
    ev = (
        load_table(spark, "events", SF)
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    seqs: dict = {}
    for r in ev:
        seqs.setdefault(r["user_id"], []).append(
            (r["ts"], r["event_id"], r["event_type"])
        )
    trans: dict = {}
    for rows in seqs.values():
        rows.sort()
        for (_, _, cur), (_, _, nxt) in zip(rows, rows[1:]):
            trans[(cur, nxt)] = trans.get((cur, nxt), 0) + 1
    marg: dict = {}
    for (cur, _), n in trans.items():
        marg[cur] = marg.get(cur, 0) + n
    got = QUERIES["events_markov_transitions"](spark, SF).collect()
    assert {(r["from_type"], r["to_type"]) for r in got} == set(trans)
    for r in got:
        key = (r["from_type"], r["to_type"])
        assert r["n_transitions"] == trans[key]
        assert r["p_e6"] == trans[key] * 1_000_000 // marg[key[0]]


def test_mann_whitney_matches_python_reference(spark):
    rows = (
        load_table(spark, "lineitem", SF)
        .where(F.col("l_returnflag").isin("A", "R"))
        .select(
            F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("c"),
            "l_returnflag",
        )
        .collect()
    )
    a_vals = [r["c"] for r in rows if r["l_returnflag"] == "A"]
    all_vals = [r["c"] for r in rows]
    ranks = _midranks_x2(all_vals)
    n_a, n_r = len(a_vals), len(all_vals) - len(a_vals)
    r_a_x2 = sum(ranks[v] for v in a_vals)
    u_a_x2 = r_a_x2 - n_a * (n_a + 1)
    from collections import Counter

    tie3 = sum(c**3 - c for c in Counter(all_vals).values())
    row = QUERIES["stats_mann_whitney_u"](spark, SF).collect()[0]
    assert (row["n_a"], row["n_r"]) == (n_a, n_r)
    assert row["u_a_x2"] == u_a_x2
    assert row["tie_term_div_n"] == tie3 // (n_a + n_r)
    assert row["auc_e6"] == u_a_x2 * 1_000_000 // (2 * n_a * n_r)
    # U + U(complement) identity: U_A + U_R = n_a*n_r
    assert 0 <= u_a_x2 <= 2 * n_a * n_r


def test_ab_ztest_matches_python_reference(spark):
    ev = (
        load_table(spark, "events", SF)
        .select("user_id", F.col("ts").cast("date").alias("d"), "event_type")
        .collect()
    )
    units: dict = {}
    for r in ev:
        key = (r["user_id"], r["d"])
        units[key] = units.get(key, 0) | (
            1 if r["event_type"] == "purchase" else 0
        )
    n = [0, 0]
    conv = [0, 0]
    for (uid, _), c in units.items():
        arm = _parity(uid)
        n[arm] += 1
        conv[arm] += c
    row = QUERIES["stats_ab_conversion_ztest"](spark, SF).collect()[0]
    assert (row["n_a"], row["n_b"]) == (n[0], n[1])
    assert (row["conv_a"], row["conv_b"]) == (conv[0], conv[1])
    assert row["p_a_e6"] == conv[0] * 1_000_000 // n[0]
    d = conv[0] * n[1] - conv[1] * n[0]
    N, c = n[0] + n[1], conv[0] + conv[1]
    if c == 0 or c == N:
        # Degenerate all-convert/none-convert corpus (true at sf0.001):
        # the NULLIF guard must yield NULL, not divide by zero.
        assert row["z2_e6"] is None
    else:
        assert row["z2_e6"] == d * d * N * 1_000_000 // (
            n[0] * n[1] * c * (N - c)
        )


def test_spearman_matches_python_reference(spark):
    rows = (
        load_table(spark, "lineitem", SF)
        .select(
            F.col("l_quantity").cast("bigint").alias("q"),
            F.floor(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .collect()
    )
    qr = _midranks_x2([r["q"] for r in rows])
    pr = _midranks_x2([r["cents"] for r in rows])
    xs = [qr[r["q"]] for r in rows]
    ys = [pr[r["cents"]] for r in rows]
    n = len(rows)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    want = math.floor(
        float(n * sxy - sx * sy)
        / math.sqrt(float(n * sxx - sx * sx))
        / math.sqrt(float(n * syy - sy * sy))
        * 1e9
        + 0.5001
    )
    row = QUERIES["stats_spearman_corr"](spark, SF).collect()[0]
    assert row["n"] == n
    assert row["rho_e9"] == want
    assert -1_000_000_000 <= row["rho_e9"] <= 1_000_000_000


def test_abc_pareto_matches_python_reference(spark):
    rows = (
        load_table(spark, "lineitem", SF)
        .select(
            "l_partkey",
            F.floor(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .collect()
    )
    rev: dict = {}
    for r in rows:
        rev[r["l_partkey"]] = rev.get(r["l_partkey"], 0) + r["cents"]
    t = sum(rev.values())
    want = {"A": [0, 0], "B": [0, 0], "C": [0, 0]}
    cum = 0
    for pk in sorted(rev, key=lambda k: (-rev[k], k)):
        cum += rev[pk]
        cls = "A" if cum * 5 <= 4 * t else ("B" if cum * 20 <= 19 * t else "C")
        want[cls][0] += 1
        want[cls][1] += rev[pk]
    got = {r["abc_class"]: r for r in QUERIES["lineitem_abc_pareto"](spark, SF).collect()}
    for cls, (n_parts, cents) in want.items():
        if n_parts == 0:
            assert cls not in got
            continue
        assert got[cls]["n_parts"] == n_parts
        assert got[cls]["revenue_cents"] == cents
        assert got[cls]["share_e6"] == cents * 1_000_000 // t
    # Band mass invariant: A stops at <=80% of revenue, A+B at <=95%
    # (the crossing part starts the next band), C holds the rest.
    assert want["A"][1] * 5 <= 4 * t
    assert (want["A"][1] + want["B"][1]) * 20 <= 19 * t
    assert want["A"][1] + want["B"][1] + want["C"][1] == t


def test_js_divergence_matches_python_reference(spark):
    docs = load_table(spark, "documents", SF).select("source", "lang").collect()
    n = len(docs)
    from collections import Counter

    cl = Counter(r["lang"] for r in docs)
    ns = Counter(r["source"] for r in docs)
    csl = Counter((r["source"], r["lang"]) for r in docs)
    got = {
        r["source"]: r
        for r in QUERIES["quality_js_divergence_sources"](spark, SF).collect()
    }
    assert set(got) == set(ns)
    for src in ns:
        total = 0
        for lang in cl:
            c = csl.get((src, lang), 0)
            p = c * 1.0 / ns[src]
            q = cl[lang] * 1.0 / n
            term = (
                0.5 * p * math.log(2.0 * p / (p + q)) if c > 0 else 0.0
            ) + 0.5 * q * math.log(2.0 * q / (p + q))
            total += _e9(term)
        assert got[src]["n_docs"] == ns[src]
        assert got[src]["jsd_e9"] == total
        # JSD is bounded by ln 2 (up to per-cell flooring slack).
        assert -100 <= got[src]["jsd_e9"] <= _e9(math.log(2.0)) + 100


def test_rfm_matches_python_reference(spark):
    orders = (
        load_table(spark, "orders", SF)
        .select("o_custkey", "o_orderdate", "o_totalprice")
        .collect()
    )
    gmax = max(r["o_orderdate"] for r in orders)
    cust: dict = {}
    for r in orders:
        ck = r["o_custkey"]
        last, f, m = cust.get(ck, (None, 0, 0))
        last = r["o_orderdate"] if last is None else max(last, r["o_orderdate"])
        cust[ck] = (last, f + 1, m + math.floor(r["o_totalprice"] * 100))
    rs = [(gmax - last).days for last, _, _ in cust.values()]
    fs = [f for _, f, _ in cust.values()]
    ms = [m for _, _, m in cust.values()]
    re_, fe, me = _decile_edges(rs), _decile_edges(fs), _decile_edges(ms)
    want: dict = {}
    for (last, f, m) in cust.values():
        key = (_bin((gmax - last).days, re_), _bin(f, fe), _bin(m, me))
        n, tot = want.get(key, (0, 0))
        want[key] = (n + 1, tot + m)
    got = {
        (r["r_score"], r["f_score"], r["m_score"]): r
        for r in QUERIES["customer_rfm_segments"](spark, SF).collect()
    }
    assert set(got) == set(want)
    for key, (n, tot) in want.items():
        assert got[key]["n_customers"] == n
        assert got[key]["monetary_cents"] == tot
        assert got[key]["avg_monetary_cents"] == tot // n


def test_ttr_hapax_matches_python_reference(spark):
    docs = load_table(spark, "documents", SF).select("source", "text").collect()
    from collections import Counter

    per_src: dict = {}
    for r in docs:
        per_src.setdefault(r["source"], Counter()).update(
            r["text"].split(" ")
        )
    got = {
        r["source"]: r
        for r in QUERIES["text_ttr_hapax_profile"](spark, SF).collect()
    }
    assert set(got) == set(per_src)
    for src, cnt in per_src.items():
        n_tok = sum(cnt.values())
        n_typ = len(cnt)
        n_hap = sum(1 for c in cnt.values() if c == 1)
        row = got[src]
        assert row["n_tokens"] == n_tok
        assert row["n_types"] == n_typ
        assert row["n_hapax"] == n_hap
        assert row["ttr_e6"] == n_typ * 1_000_000 // n_tok
        assert row["hapax_share_e6"] == n_hap * 1_000_000 // n_typ


def test_label_propagation_matches_python_reference(spark):
    li = load_table(spark, "lineitem", SF).select("l_orderkey", "l_suppkey").collect()
    orders = {
        r["o_orderkey"]: r["o_custkey"]
        for r in load_table(spark, "orders", SF).collect()
    }
    cnat = {
        r["c_custkey"]: r["c_nationkey"]
        for r in load_table(spark, "customer", SF).collect()
    }
    snat = {
        r["s_suppkey"]: r["s_nationkey"]
        for r in load_table(spark, "supplier", SF).collect()
    }
    edges = set()
    for r in li:
        src = cnat[orders[r["l_orderkey"]]]
        dst = snat[r["l_suppkey"]]
        if src != dst:
            edges.add((min(src, dst), max(src, dst)))
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {v: v for v in adj}
    for _ in range(3):
        labels = {
            v: min([labels[v]] + [labels[u] for u in adj[v]]) for v in adj
        }
    got = {
        r["node"]: r["community"]
        for r in QUERIES["graph_label_propagation"](spark, SF).collect()
    }
    assert got == labels


def test_dedup_savings_consistent_with_star_cc(spark):
    """Histogram must be the exact rollup of the star-CC component
    sizes, removable = (size-1) per cluster, and char mass positive."""
    comp = QUERIES["graph_components_star_contraction"](spark, SF).collect()
    from collections import Counter

    size_hist = Counter(r["n_members"] for r in comp)
    got = {
        r["cluster_size"]: r
        for r in QUERIES["dedup_savings_by_cluster_size"](spark, SF).collect()
    }
    assert set(got) == set(size_hist)
    for size, n_clusters in size_hist.items():
        row = got[size]
        assert row["n_clusters"] == n_clusters
        assert row["n_removable"] == (size - 1) * n_clusters
        assert row["chars_removable"] > 0


def test_knn_classify_matches_python_reference(spark):
    emb = load_table(spark, "embeddings", SF).collect()
    test = [
        r
        for r in emb
        if _parity(r["vec_id"]) == 1 and r["vec_id"] % 5 == 0
    ]
    train = [r for r in emb if _parity(r["vec_id"]) == 0]
    assert test and train

    def cos(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot += float(x) * float(y)
        na = 0.0
        nb = 0.0
        for x in a:
            na += float(x) * float(x)
        for y in b:
            nb += float(y) * float(y)
        return dot / (math.sqrt(na) * math.sqrt(nb))

    stats: dict = {}
    for q in test:
        scored = sorted(
            ((-cos(q["embedding"], t["embedding"]), t["vec_id"], t["label"]) for t in train),
        )[:3]
        votes: dict = {}
        for _, _, lab in scored:
            votes[lab] = votes.get(lab, 0) + 1
        pred = sorted(votes, key=lambda L: (-votes[L], L))[0]
        n, c = stats.get(q["label"], (0, 0))
        stats[q["label"]] = (n + 1, c + (1 if pred == q["label"] else 0))
    got = {
        r["true_label"]: r
        for r in QUERIES["sim_knn_classify"](spark, SF).collect()
    }
    assert set(got) == set(stats)
    for lab, (n, c) in stats.items():
        assert got[lab]["n_test"] == n
        assert got[lab]["n_correct"] == c
        assert got[lab]["acc_e6"] == c * 1_000_000 // n


def test_holt_multiplicative_matches_python_reference(spark):
    series = _daily_series(spark)
    got = {
        r["event_type"]: r
        for r in QUERIES["ts_holt_winters_multiplicative"](spark, SF).collect()
    }
    a, b, g = 0.5, 0.3, 0.2
    for etype, ys in series.items():
        if len(ys) < 15 or min(ys) <= 0:
            assert etype not in got
            continue
        s7a, s7b = sum(ys[:7]), sum(ys[7:14])
        level = _r9(s7a / 7000.0)
        trend = _r9((s7b - s7a) / 49000.0)
        seas = [_r9((y / 1000.0) / level) for y in ys[:7]]
        for y_e3 in ys[7:]:
            y = y_e3 / 1000.0
            s1 = seas[0]
            lnew = _r9(a * (y / s1) + (1 - a) * (level + trend))
            tnew = _r9(b * (lnew - level) + (1 - b) * trend)
            seas = seas[1:] + [_r9(g * (y / lnew) + (1 - g) * s1)]
            level, trend = lnew, tnew
        row = got[etype]
        assert row["level_e6"] == _e6(level)
        assert row["trend_e6"] == _e6(trend)
        assert row["season_e6"] == _e6(seas[0])
        assert row["forecast_e6"] == _e6((level + trend) * seas[0])
        # Multiplicative ratios hover around 1.0 for a stable series.
        assert 0 < row["season_e6"] < 3_000_000


def test_link_prediction_matches_python_reference(spark):
    li = load_table(spark, "lineitem", SF).select("l_orderkey", "l_suppkey").collect()
    orders = {
        r["o_orderkey"]: r["o_custkey"]
        for r in load_table(spark, "orders", SF).collect()
    }
    cnat = {
        r["c_custkey"]: r["c_nationkey"]
        for r in load_table(spark, "customer", SF).collect()
    }
    snat = {
        r["s_suppkey"]: r["s_nationkey"]
        for r in load_table(spark, "supplier", SF).collect()
    }
    from collections import Counter

    flows = Counter(
        (cnat[orders[r["l_orderkey"]]], snat[r["l_suppkey"]]) for r in li
    )
    t, n = sum(flows.values()), len(flows)
    edges = {
        (min(s, d), max(s, d))
        for (s, d), w in flows.items()
        if w * n > t and s != d
    }
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    nodes = sorted(adj)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1 :]:
            if (a, b) in edges:
                continue
            common = len(adj[a] & adj[b])
            if common:
                union = len(adj[a]) + len(adj[b]) - common
                want[(a, b)] = (common, common * 1_000_000 // union)
    got = {
        (r["node_a"], r["node_b"]): (r["common_neighbors"], r["jaccard_e6"])
        for r in QUERIES["graph_link_prediction_jaccard"](spark, SF).collect()
    }
    assert got == want and want, "candidate set must be non-empty"


def test_streaming_ab_matches_batch_operator(spark):
    """Cross-mode equivalence: the incrementally-maintained streaming
    dashboard must equal the one-shot batch z-test row for row — the
    upsert store provably converges to the batch answer under the
    shuffled replay."""
    got_stream = QUERIES["streaming_ab_conversion_live"](spark, SF).collect()
    got_batch = QUERIES["stats_ab_conversion_ztest"](spark, SF).collect()
    assert len(got_stream) == len(got_batch) == 1
    assert got_stream[0].asDict() == got_batch[0].asDict()


def test_streaming_ab_sink_is_executor_side():
    """Scale-design structure pin: the foreachBatch sink must MERGE
    each micro-batch into a keyed parquet state table executor-side —
    never batch_df.collect() into a driver-side dict, which grows with
    users x days and is a driver OOM at scale. The only driver-held
    state is the store path string. The query runs on the shared
    keyed-upsert sink, so both are pinned."""
    import inspect

    from gotsdb_spark.operators import integration

    query_src = inspect.getsource(integration.streaming_ab_conversion_live)
    sink_src = inspect.getsource(integration._replay_upsert)
    assert "_replay_upsert(" in query_src
    for src in (query_src, sink_src):
        assert ".collect()" not in src, (
            "streaming_ab_conversion_live must not collect batch rows to "
            "the driver"
        )
    # The sink performs the delta-wins keyed MERGE and persists it.
    assert "full_outer" in sink_src and ".parquet(" in sink_src
    # And the final readout is loaded back from the executor-side
    # store, not rebuilt from driver memory.
    assert "spark.read.parquet(state_path[0])" in sink_src


# ---------------------------------------------------------------------------
# Round-8 late registrations (Kendall / Kruskal-Wallis / ANOVA) —
# Python-reference tests added round 9 (ADVICE r8: the three ops
# registered in the final round-8 commit shipped with driver-oracle
# coverage only).
# ---------------------------------------------------------------------------


def test_kendall_tau_b_matches_python_reference(spark):
    from collections import Counter

    rows = (
        load_table(spark, "lineitem", SF)
        .select(
            F.col("l_quantity").cast("bigint").alias("q"),
            F.floor(F.col("l_discount") * 100 + 0.5).cast("bigint").alias("d"),
        )
        .collect()
    )
    cells = Counter((r["q"], r["d"]) for r in rows)
    items = list(cells.items())
    conc = disc = 0
    for (qa, da), ca in items:
        for (qb, db), cb in items:
            if qa < qb:
                if da < db:
                    conc += ca * cb
                elif da > db:
                    disc += ca * cb
    tx = Counter()
    ty = Counter()
    for (q, d), c in cells.items():
        tx[q] += c
        ty[d] += c
    n = sum(cells.values())
    n1_x2 = sum(t * (t - 1) for t in tx.values())
    n2_x2 = sum(t * (t - 1) for t in ty.values())
    # identical float op sequence as the op/oracle pair
    tau = (
        float(conc - disc)
        / math.sqrt(float(n * (n - 1) - n1_x2) / 2.0)
        / math.sqrt(float(n * (n - 1) - n2_x2) / 2.0)
    )
    row = QUERIES["stats_kendall_tau_b"](spark, SF).collect()[0]
    assert row["n"] == n
    assert row["conc_pairs"] == conc
    assert row["disc_pairs"] == disc
    assert row["tau_b_e9"] == _e9(tau)
    # grid identity: conc + disc + ties <= n(n-1)/2 pairs total
    assert conc + disc <= n * (n - 1) // 2


def test_kruskal_wallis_matches_python_reference(spark):
    from collections import Counter

    rows = (
        load_table(spark, "lineitem", SF)
        .select(
            F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("c"),
            F.col("l_returnflag").alias("flag"),
        )
        .collect()
    )
    ranks = _midranks_x2([r["c"] for r in rows])
    groups = {"A": [], "N": [], "R": []}
    for r in rows:
        groups[r["flag"]].append(r["c"])
    n = {g: len(v) for g, v in groups.items()}
    s = {g: sum(ranks[c] for c in v) for g, v in groups.items()}
    nn = n["A"] + n["N"] + n["R"]
    tie3 = sum(c**3 - c for c in Counter(r["c"] for r in rows).values())
    # identical float op sequence as the op/oracle pair
    h = (
        3.0
        * (
            float(s["A"]) * float(s["A"]) / float(n["A"])
            + float(s["N"]) * float(s["N"]) / float(n["N"])
            + float(s["R"]) * float(s["R"]) / float(n["R"])
        )
        / (float(nn) * float(nn + 1))
        - 3.0 * float(nn + 1)
    )
    h_adj = h / (
        1.0 - float(tie3) / (float(nn) * float(nn) * float(nn) - float(nn))
    )
    row = QUERIES["stats_kruskal_wallis"](spark, SF).collect()[0]
    assert (row["n_a"], row["n_n"], row["n_r"]) == (n["A"], n["N"], n["R"])
    assert row["h_e6"] == _e6(h)
    assert row["h_adj_e6"] == _e6(h_adj)
    # with ties present the correction must not shrink H
    assert row["h_adj_e6"] >= row["h_e6"]


def test_anova_f_matches_python_reference(spark):
    rows = (
        load_table(spark, "orders", SF)
        .select(
            F.substring("o_orderpriority", 1, 1).cast("bigint").alias("p"),
            F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .collect()
    )
    n = {j: 0 for j in range(1, 6)}
    s = {j: 0 for j in range(1, 6)}
    qq = nn = ss = 0
    for r in rows:
        j, c = r["p"], r["cents"]
        n[j] += 1
        s[j] += c
        qq += c * c
        nn += 1
        ss += c
    # identical float op sequence as the shared _ANOVA_* SQL fragments
    a = (
        float(s[1]) * float(s[1]) / float(n[1])
        + float(s[2]) * float(s[2]) / float(n[2])
        + float(s[3]) * float(s[3]) / float(n[3])
        + float(s[4]) * float(s[4]) / float(n[4])
        + float(s[5]) * float(s[5]) / float(n[5])
    )
    grand = float(ss) * float(ss) / float(nn)
    f_stat = ((a - grand) / 4.0) / ((float(qq) - a) / (float(nn) - 5.0))
    eta2 = (a - grand) / (float(qq) - grand)
    row = QUERIES["stats_anova_f_oneway"](spark, SF).collect()[0]
    assert row["n"] == nn
    assert tuple(row[f"n{j}"] for j in range(1, 6)) == tuple(
        n[j] for j in range(1, 6)
    )
    assert row["f_e6"] == _e6(f_stat)
    assert row["eta2_e9"] == _e9(eta2)
    # eta^2 is a variance share
    assert 0 <= row["eta2_e9"] <= 1_000_000_000
