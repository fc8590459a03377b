"""Whole-registry smoke: every registered query must at least ANALYZE
against the current fixtures, and (non-streaming) EXECUTE a row.

This is the guard the round-3 TIMESTAMP_NTZ regression walked through:
four queries stopped building when the fixture's parquet timestamp
encoding changed, but nothing in tests/ built every plan, and the
driver's 50-per-round verification window never re-checks green rows.
Forcing ``df.schema`` for all 214 plans costs seconds and catches the
entire idiom-vs-fixture class of breakage at analysis time; the
``.limit(1)`` execution pass additionally catches runtime-only breakage
(codegen, UDF pickling, Arrow schema mismatches) a schema check misses.

Integration-module entries are excluded: those replay real Structured
Streaming queries (multi-wave file sources, stateful sinks) with their
own dedicated tests; building them here would *execute* streams, not
analyze plans.
"""

from __future__ import annotations

import pytest


from gotsdb_spark.operators import QUERIES

SF = "/root/testdata/sf0.001"

_SKIP_MODULE = "gotsdb_spark.operators.integration"


def _batch_queries() -> list[str]:
    return [n for n, fn in QUERIES.items() if fn.__module__ != _SKIP_MODULE]


def test_registry_nonempty_and_integration_split():
    names = _batch_queries()
    assert len(names) >= 200
    # streaming replays + kv snapshot (round 13 added the
    # checkpoint-restart, rate-limit and gap-outage replays)
    assert len(QUERIES) - len(names) <= 15


def _sweep_parallel(names: list[str], check) -> dict[str, str]:
    """Run `check(name) -> error-or-None` over independent queries from
    a small driver thread pool (guide §2.6 — plan building and the tiny
    sf0.001 jobs are independent; concurrent jobs back-fill the local
    scheduler instead of paying 386 sequential stage tails). Eager
    construction (dist_rank offsets, bucketed-table writes) is
    thread-safe: bucket_table serializes its materialization behind a
    module lock, everything else is per-call state."""
    from concurrent.futures import ThreadPoolExecutor

    failures: dict[str, str] = {}
    with ThreadPoolExecutor(max_workers=8) as pool:
        for name, err in zip(names, pool.map(check, names)):
            if err:
                failures[name] = err
    return failures


def test_every_batch_query_analyzes(spark):
    """Force full analysis (schema resolution) of every registered plan.

    Any AnalysisException here means a query no longer builds against
    the fixtures as they exist today — the exact failure mode that
    silently killed bench in round 3.
    """

    def check(name: str) -> str | None:
        try:
            cols = QUERIES[name](spark, SF).columns
            return None if cols else "no columns"
        except Exception as exc:  # noqa: BLE001 — collect all, report once
            return f"{type(exc).__name__}: {exc}"[:200]

    failures = _sweep_parallel(_batch_queries(), check)
    assert not failures, f"{len(failures)} queries no longer analyze: {failures}"


@pytest.mark.slow
def test_every_batch_query_executes_one_row(spark):
    """Tiny execution smoke: ``.limit(1)`` per query at sf0.001.

    limit(1) still runs the full upstream plan for blocking operators
    (aggregates, sorts, windows), so this exercises codegen and Python
    worker paths, just on the smallest fixture.
    """

    def check(name: str) -> str | None:
        try:
            QUERIES[name](spark, SF).limit(1).collect()
            return None
        except Exception as exc:  # noqa: BLE001
            return f"{type(exc).__name__}: {exc}"[:200]

    failures = _sweep_parallel(_batch_queries(), check)
    assert not failures, f"{len(failures)} queries fail at runtime: {failures}"


_SQL_TEXT_QUERIES = [
    "scalar_subquery_above_avg",
    "correlated_exists_big_orders",
    "in_subquery_building_orders",
    "grouping_sets_priority",
    "lateral_top_suppliers_per_nation",
]


def test_sql_text_queries_register_no_temp_views(spark):
    """The SQL-text queries bind their tables as DataFrame arguments of
    ``spark.sql``, so no fixed-name temp view is created that a
    concurrent run (the thread-pool sweeps above) could replace
    mid-query."""
    fixed = {"customer", "orders", "nation", "supplier"}
    for name in fixed:
        spark.catalog.dropTempView(name)
    for name in _SQL_TEXT_QUERIES:
        QUERIES[name](spark, SF).limit(1).collect()
    views = {t.name for t in spark.catalog.listTables()}
    assert not views & fixed, views
    assert not any(v.startswith("_pyspark_") for v in views), views
