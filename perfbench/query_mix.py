"""query_mix: registered DataFrame queries run through the noop sink.

Three classes that load different layers:
- a, iterative: the DataFrame build runs about 30 eager Spark jobs, so
  the time goes to driver-side job count and materialisation;
- b, relational: TPC-H shapes, one plan each, bound by scan, join and
  shuffle;
- c, operators: single-plan analytics operators with CPU-heavy or
  serial stages.

One client, closed loop. The fixtures are fixed; the seed shuffles the
query order of every pass. The set-up pass collects every result (it is
the warm-up and the output the checks compare with DuckDB); timed passes
then build each query and run it through the noop sink.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

from harness import (
    Ctx, Outcome, median, slot_metrics, span_sample, sum_samples,
)

CLASSES = {
    "a": ["graph_components_star_contraction"],
    "b": ["q1_pricing_summary", "q18_large_volume_customers"],
    "c": ["heavy_hitters_countmin", "text_token_stats"],
}
CLASS_NAMES = {"a": "iterative", "b": "relational", "c": "operators"}
TABLES = ("customer", "orders", "lineitem", "documents")
MIN_PASSES = 3


def release_blocks(spark) -> None:
    """Free cached and checkpointed blocks between queries.

    Blocking unpersist, unlike tools/check_oracles.py's copy: the release
    must end before the next query's timed window starts."""
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(True)


def run(ctx: Ctx) -> Outcome:
    from gotsdb_spark.operators import ORACLES, QUERIES

    out = Outcome()
    tr = ctx.tracer
    spark = ctx.spark
    sf_dir = os.path.join(ctx.fixtures, "sf0.001" if ctx.tiny else "sf0.01")
    rng = np.random.default_rng(ctx.seed)
    names = [q for qs in CLASSES.values() for q in qs]

    # Set-up pass: collect each result once (warm-up and check input).
    results = {}
    for name in _shuffled(rng, names):
        out.attempted += 1
        try:
            results[name] = QUERIES[name](spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001 — record, skip, keep running
            out.fail(f"{name}: {type(exc).__name__}: {exc}")
        release_blocks(spark)
    out.setup_s = time.perf_counter() - ctx.t_start

    live = [q for q in names if q in results]
    times: dict[str, list[float]] = {q: [] for q in live}
    clock = ctx.clock
    clock.start()
    passes, last = 0, 0.0
    tr.spans.clear()
    while live and clock.keep_going(ctx.seconds, last, passes, MIN_PASSES):
        tp = clock.elapsed()
        for name in _shuffled(rng, live):
            clock.between_units()
            out.attempted += 1
            try:
                with tr.span("query", req=name):
                    t = time.perf_counter()
                    with tr.span("operators.build", req=name, counted=True):
                        df = QUERIES[name](spark, sf_dir)
                    with tr.span("operators.action", req=name, counted=True):
                        df.write.format("noop").mode("overwrite").save()
                    times[name].append(time.perf_counter() - t)
            except Exception as exc:  # noqa: BLE001 — record, skip, keep running
                out.fail(f"{name}: {type(exc).__name__}: {exc}")
            release_blocks(spark)
        last = clock.elapsed() - tp
        passes += 1
    out.timed_s = clock.stop()

    _check_oracles(ctx, out, sf_dir, results, ORACLES)

    med = {q: median(ts) for q, ts in times.items() if ts}
    total = sum(len(ts) for ts in times.values())
    out.e2e["throughput_per_s"] = (total / sum(sum(ts) for ts in times.values()), "1/s")
    for c, qs in CLASSES.items():
        out.e2e[f"class_{c}_ms"] = (1000 * sum(med[q] for q in qs if q in med), "ms")
    out.layers = {f"{CLASS_NAMES[c]}_s": out.e2e[f"class_{c}_ms"][0] / 1000 for c in CLASSES}
    out.layers["passes"] = passes
    out.layers.update({f"query_s.{q}": v for q, v in med.items()})
    if not tr.enabled:
        return out

    per_query = {}
    for q in med:
        builds = [s for s in tr.by_name("operators.build") if s["req"] == q]
        actions = [s for s in tr.by_name("operators.action") if s["req"] == q]
        per_query[q] = {
            "build": _median_sample([span_sample(s) for s in builds]),
            "action": _median_sample([span_sample(s) for s in actions]),
        }
    for c, qs in CLASSES.items():
        qs = [q for q in qs if q in per_query]
        whole = sum_samples([sum_samples([per_query[q]["build"], per_query[q]["action"]]) for q in qs])
        out.per_layer.update(slot_metrics(c, [whole]))
        out.layers.update(_operator_layers(CLASS_NAMES[c], [per_query[q] for q in qs]))
    return out


def _shuffled(rng: np.random.Generator, names: list[str]) -> list[str]:
    return [names[i] for i in rng.permutation(len(names))]


def _median_sample(samples: list[dict]) -> dict:
    return {k: median([s[k] for s in samples]) for k in samples[0]}


def _operator_layers(cls: str, queries: list[dict]) -> dict:
    build = sum_samples([q["build"] for q in queries])
    action = sum_samples([q["action"] for q in queries])
    whole = sum_samples([build, action])
    return {
        f"operators.build_s.{cls}": build["wall_ms"] / 1000,
        f"operators.build_jobs.{cls}": build["jobs"],
        f"operators.action_s.{cls}": action["wall_ms"] / 1000,
        f"operators.action_jobs.{cls}": action["jobs"],
        f"operators.stages.{cls}": whole["stages"],
        f"operators.tasks.{cls}": whole["tasks"],
        f"operators.executor_run_s.{cls}": whole["executor_ms"] / 1000,
        f"operators.max_task_s.{cls}": whole["max_task_ms"] / 1000,
        f"operators.serial_share.{cls}": whole["max_task_ms"] / whole["wall_ms"],
        f"operators.shuffle_mb.{cls}": whole["shuffle_bytes"] / 2**20,
        f"sources.scan_mb.{cls}": whole["input_bytes"] / 2**20,
        f"sources.scan_tasks.{cls}": whole["scan_tasks"],
    }


def _check_oracles(ctx: Ctx, out: Outcome, sf_dir: str, results: dict, oracles: dict) -> None:
    """Each collected result against its DuckDB oracle, by the rule of
    tools/check_oracles.py: row count, column names, then the value hash
    of the canonicalised frames."""
    import duckdb

    sys.path.insert(0, os.path.join(ctx.root, "tools"))
    from check_oracles import canon, value_hash

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    for i, (name, got) in enumerate(sorted(results.items())):
        out.attempted += 1
        want = con.execute(oracles[name]).fetchdf()
        if ctx.inject_fault and i == 0:
            want = want.iloc[1:]
        if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
            out.fail(f"{name}: shape {got.shape} vs oracle {want.shape}")
        elif value_hash(canon(got)) != value_hash(canon(want)):
            out.fail(f"{name}: value hash differs from the oracle")
    con.close()
