"""Round-13 operator tests: independent Python reference
implementations for the new registered queries (the DuckDB hash gate
is the primary check; these pin semantics against a second, non-SQL
implementation — the round-7 convention)."""

from __future__ import annotations

import pytest

import math
from collections import defaultdict

from pyspark.sql import functions as F

from gotsdb_spark.operators.registry import QUERIES
from gotsdb_spark.sources.registry import load_table

SF = "/root/testdata/sf0.001"


def tdiv(a: int, b: int) -> int:
    """Integer division truncating toward zero (Spark DIV, DuckDB //)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _daily_means(spark):
    agg = defaultdict(lambda: [0, 0])
    for r in (
        load_table(spark, "events", SF)
        .select(
            "event_type",
            F.datediff(F.col("ts").cast("date"),
                       F.lit("2025-01-01").cast("date")).alias("day"),
            F.floor(F.col("value") * 1000).cast("bigint").alias("v"),
        )
        .collect()
    ):
        a = agg[(r["event_type"], r["day"])]
        a[0] += r["v"]
        a[1] += 1
    series = defaultdict(dict)
    for (et, d), (s, c) in agg.items():
        series[et][d] = tdiv(s, c)
    return series


# ------------------------------------------- seasonal Mann-Kendall


def test_seasonal_mann_kendall_matches_python_reference(spark):
    series = _daily_means(spark)
    got = {
        r["event_type"]: r
        for r in QUERIES["stats_seasonal_mann_kendall"](spark, SF).collect()
    }
    for et, days in series.items():
        by_season = defaultdict(list)
        for d in sorted(days):
            by_season[d % 7].append(days[d])
        s = 0
        vnum = 0
        n_days = 0
        for ys in by_season.values():
            m = len(ys)
            n_days += m
            for i in range(m):
                for j in range(i + 1, m):
                    s += (ys[j] > ys[i]) - (ys[j] < ys[i])
            tie_counts = defaultdict(int)
            for y in ys:
                tie_counts[y] += 1
            tie_term = sum(
                t * (t - 1) * (2 * t + 5)
                for t in tie_counts.values()
                if t > 1
            )
            vnum += m * (m - 1) * (2 * m + 5) - tie_term
        r = got[et]
        assert r["n_days"] == n_days
        assert r["n_seasons"] == len(by_season)
        assert r["kendall_s_seasonal"] == s
        assert r["var_s"] == tdiv(vnum, 18)
        if vnum == 0:
            assert r["z2_signed_e6"] is None
        else:
            sign = 1 if s >= 0 else -1
            assert r["z2_signed_e6"] == tdiv(
                sign * s * s * 18 * 10**6, vnum
            )
        # a pure weekday cycle contributes nothing within-season, so
        # the seasonal S never exceeds the unrestricted pair count
        assert abs(s) <= sum(
            len(ys) * (len(ys) - 1) // 2 for ys in by_season.values()
        )


# ------------------------------------------------ weekly periodogram


def test_periodogram_matches_python_reference(spark):
    series = _daily_means(spark)
    trig_c = {
        m: math.floor(math.cos(2 * math.pi * m / 7) * 1e9 + 0.5001)
        for m in range(7)
    }
    trig_s = {
        m: math.floor(math.sin(2 * math.pi * m / 7) * 1e9 + 0.5001)
        for m in range(7)
    }
    got = {
        (r["event_type"], r["harmonic"]): r
        for r in QUERIES["ts_periodogram_weekly"](spark, SF).collect()
    }
    for et, days in series.items():
        n = len(days)
        s_tot = sum(days.values())
        ybar = tdiv(s_tot, n)
        yc = {x: y - ybar for x, y in days.items()}
        syy = sum(v * v for v in yc.values())
        for k in (1, 2, 3):
            c = sum(v * trig_c[(k * x) % 7] for x, v in yc.items())
            s = sum(v * trig_s[(k * x) % 7] for x, v in yc.items())
            cr, sr = tdiv(c, 1000), tdiv(s, 1000)
            r = got[(et, k)]
            assert r["period_days_x10"] == 70 // k
            assert r["n_days"] == n
            if syy == 0:
                assert r["power_share_e6"] is None
            else:
                assert r["power_share_e6"] == tdiv(
                    2 * (cr * cr + sr * sr) * 10**6, n * syy * 10**12
                )
    # Parseval sanity: no harmonic can carry more than the whole
    # detrended variance (a loose bound that catches scale mistakes).
    assert all(
        r["power_share_e6"] is None or 0 <= r["power_share_e6"] <= 10**6
        for r in got.values()
    )


# ------------------------------------- checkpoint-restart exactly-once


@pytest.mark.slow
def test_checkpoint_restart_replay_matches_batch(spark):
    """The registered query performs a REAL stop + restart from the
    checkpoint (two query instances, one sink transaction log); its
    output must equal the batch hourly aggregation — nothing lost from
    the state store across the restart, nothing re-exposed by the sink,
    and the cutoff hour (straddling the stop point at every sf) merges
    contributions from both epochs."""
    import datetime

    agg = defaultdict(lambda: [0, 0])
    straddle = [0, 0]
    cutoff = datetime.datetime(2024, 1, 15, 11, 30)
    for r in (
        load_table(spark, "events", SF)
        .where(F.col("event_type").isin("purchase", "signup"))
        .select("ts", "event_type", F.floor(F.col("value") * 1000)
                .cast("long").alias("v_milli"))
        .collect()
    ):
        key = (r["ts"].replace(minute=0, second=0, microsecond=0),
               r["event_type"])
        a = agg[key]
        a[0] += 1
        a[1] += r["v_milli"]
        if key[0] == cutoff.replace(minute=0):
            straddle[0 if r["ts"] < cutoff else 1] += 1
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_v_milli"])
        for r in QUERIES["streaming_checkpoint_restart_replay"](
            spark, SF
        ).collect()
    }
    want = {k: (a[0], a[1]) for k, a in agg.items()}
    assert got == want and want
    # the restart was non-vacuous: the stop point cut a live hour
    assert straddle[0] > 0 and straddle[1] > 0, (
        "fixture no longer straddles the 11:00 cutoff hour — move the "
        "cutoff so the state-store restore path is actually exercised"
    )


# ---------------------------------- topk sink is executor-side (r13)


def test_streaming_topk_sink_is_executor_side():
    """Scale-design structure pin: the leaderboard foreachBatch sink
    must MERGE each micro-batch into a keyed parquet state table
    executor-side; the only driver state is the path string. The query
    runs on the shared keyed-upsert sink, so both are pinned."""
    import inspect

    from gotsdb_spark.operators import integration

    query_src = inspect.getsource(integration.streaming_topk_trending)
    sink_src = inspect.getsource(integration._replay_upsert)
    assert "_replay_upsert(" in query_src
    for src in (query_src, sink_src):
        assert ".collect()" not in src, (
            "streaming_topk_trending must not collect batch rows to the "
            "driver"
        )
    assert "full_outer" in sink_src and ".parquet(" in sink_src
    assert "spark.read.parquet(state_path[0])" in sink_src


# --------------------------------- prefix-filter pair-budget guard


def test_prefix_filter_pair_budget_guard(spark, monkeypatch):
    """The exact similarity join must fail LOUDLY when the candidate
    set degenerates toward all-pairs (VERDICT r12 #6), instead of
    silently running the quadratic verify. A corpus of identical docs
    makes every doc pair a candidate; with the budget forced to 1/doc
    the guard must trip with the measured rate in the message."""
    import pytest

    from gotsdb_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta", "src")
         for i in range(20)],
        "doc_id long, text string, source string",
    )
    orig = dedup.load_table
    monkeypatch.setattr(
        dedup, "load_table", lambda s, name, d: docs if name == "documents"
        else orig(s, name, d),
    )
    monkeypatch.setattr(dedup, "_PF_PAIR_BUDGET_PER_DOC", 1)
    with pytest.raises(RuntimeError, match="candidate-pair budget exceeded"):
        # unique sf_dir so the monkeypatched corpus can't collide with a
        # real fixture frame from another test (the r13 shared_cache
        # this comment once referenced is gone; intermediates are now
        # per-invocation localCheckpoints)
        dedup.dedup_prefix_filter_jaccard(spark, "/gotsdb-test/pf-guard")
    # and under the real budget the same degenerate corpus is ACCEPTED
    # at this size (20 docs, 190 pairs = 9.5/doc < 2048/doc): the guard
    # bounds the rate, it does not reject duplicates per se
    monkeypatch.setattr(dedup, "_PF_PAIR_BUDGET_PER_DOC", 2048)
    out = dedup.dedup_prefix_filter_jaccard(
        spark, "/gotsdb-test/pf-guard-ok"
    ).collect()
    assert len(out) == 190  # all pairs of identical docs at jaccard 1.0


# ----------------------------------------- Grubbs max-studentized


def test_grubbs_matches_python_reference(spark):
    rows = (
        load_table(spark, "orders", SF)
        .select(
            F.col("o_orderpriority").alias("grp"),
            F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            "o_orderkey",
        )
        .collect()
    )
    by_grp = defaultdict(list)
    for r in rows:
        by_grp[r["grp"]].append((r["cents"], r["o_orderkey"]))
    got = {
        r["grp"]: r
        for r in QUERIES["stats_grubbs_max_outlier"](spark, SF).collect()
    }
    for grp, pts in by_grp.items():
        n = len(pts)
        s = sum(c for c, _ in pts)
        u_of = {}
        q_red = 0
        for c, okey in pts:
            u = abs(c * n - s)
            u_of.setdefault((u, c), okey)
            u_of[(u, c)] = min(u_of[(u, c)], okey)
            q_red += tdiv(u, 1000) ** 2
        u_max = max(u for u, _ in u_of)
        # min orderkey among max-u rows; its cents rides along
        okey, cents = min(
            (ok, c) for (u, c), ok in u_of.items() if u == u_max
        )
        # (min okey is unique, so cents is determined by it)
        cents = next(
            c for (u, c), ok in u_of.items() if u == u_max and ok == okey
        )
        r = got[grp]
        assert r["n"] == n and r["sum_cents"] == s
        assert r["u_max"] == u_max
        assert r["outlier_orderkey"] == okey
        assert r["outlier_cents"] == cents
        assert r["grubbs_g2_e6"] == tdiv(
            tdiv(u_max, 1000) ** 2 * (n - 1) * 10**6, q_red
        )


# ----------------------------------------- late-arriving facts


def test_late_facts_matches_python_reference(spark):
    odate = {
        r["o_orderkey"]: r["o_orderdate"]
        for r in load_table(spark, "orders", SF)
        .select("o_orderkey", "o_orderdate")
        .collect()
    }
    # the synthetic fixture's ship dates routinely precede the order
    # date, so the max lag can be NEGATIVE — start from -inf, not 0
    per_day = defaultdict(lambda: [0, 0, -(10**9)])
    for r in (
        load_table(spark, "lineitem", SF)
        .select("l_orderkey", "l_shipdate")
        .collect()
    ):
        ship = r["l_shipdate"].date()
        lag = (ship - odate[r["l_orderkey"]].date()).days
        a = per_day[ship]
        a[0] += 1
        a[1] += 1 if lag > 30 else 0
        a[2] = max(a[2], lag)
    got = {
        r["ship_day"]: (
            r["n_lineitems"],
            r["n_beyond_horizon"],
            r["beyond_share_e6"],
            r["max_lag_days"],
        )
        for r in QUERIES["audit_late_arriving_facts"](spark, SF).collect()
    }
    want = {
        d: (a[0], a[1], a[1] * 10**6 // a[0], a[2])
        for d, a in per_day.items()
    }
    assert got == want and want


# ----------------------------------------- streaming rate limit


def test_rate_limit_audit_matches_python_reference(spark):
    per_min = defaultdict(int)
    for r in load_table(spark, "events", SF).select("ts", "event_type").collect():
        per_min[(r["ts"].replace(second=0, microsecond=0),
                 r["event_type"])] += 1
    by_type = defaultdict(dict)
    for (m, et), n in per_min.items():
        by_type[et][m] = n
    got = {
        r["event_type"]: (
            r["n_minutes"],
            r["max_per_min"],
            r["minutes_over_budget"],
            r["peak_minute"],
        )
        for r in QUERIES["streaming_rate_limit_audit"](spark, SF).collect()
    }
    want = {}
    for et, mins in by_type.items():
        mx = max(mins.values())
        want[et] = (
            len(mins),
            mx,
            sum(1 for n in mins.values() if n > 50),
            min(m for m, n in mins.items() if n == mx),
        )
    assert got == want and want
