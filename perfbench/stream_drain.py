"""stream_drain: Structured Streaming ingest draining a file backlog.

Four streams from ``gotsdb_spark.streaming`` each drain the same
backlog of generated event files with ``availableNow`` and
``maxFilesPerTrigger=2``: three stateful ones (RocksDB state) and the
foreachBatch sink that appends to a KV collection log.

One client, closed loop: the streams run one after another. The seed
drives the events (times, out-of-order share, duplicates, Zipf users,
values); file count and size are fixed.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from harness import Ctx, Outcome, median, p90, slot_metrics

FILE_MINUTES = 10
LATE_SHARE = 0.05
LATE_MAX_MIN = 90
DUP_SHARE = 0.02
FILES_PER_TRIGGER = 2
WARMUP_FILES = 1
STREAMS = ("windowed_event_counts", "session_window_values", "dedup_events", "stream_into_collection_log")
# Class of each stream: a = aggregating state, b = dedup state, c = KV-log sink.
STREAM_CLASS = {
    "windowed_event_counts": "a",
    "session_window_values": "a",
    "dedup_events": "b",
    "stream_into_collection_log": "c",
}
START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _sizes(tiny: bool) -> tuple[int, int]:
    """(files in the backlog, events per file)."""
    return (4, 250) if tiny else (12, 2_500)


def write_backlog(path: str, rng: np.random.Generator, files: int, per_file: int) -> dict:
    """Event files in EVENT_SCHEMA; returns facts the checks need."""
    os.makedirs(path, exist_ok=True)
    next_id = 0
    ids = []
    step = FILE_MINUTES * 60_000_000
    for f in range(files):
        ts = START_US + f * step + np.sort(rng.integers(0, step, per_file))
        late = rng.random(per_file) < LATE_SHARE
        ts = np.where(late, ts - rng.integers(1, LATE_MAX_MIN * 60_000_000, per_file), ts)
        event_id = np.arange(next_id, next_id + per_file)
        next_id += per_file
        users = rng.zipf(1.5, per_file) % 500
        kind = rng.choice(np.array(["view", "click", "purchase", "error", "signup"]), per_file)
        value = rng.integers(1, 1000, per_file).astype(float)
        k = rng.integers(0, 100, per_file)
        # Duplicates re-deliver an earlier event of the same file whole.
        dup = np.flatnonzero(rng.random(per_file) < DUP_SHARE)
        dup = dup[dup > 0]
        src = (dup * rng.random(len(dup))).astype(int)
        for arr in (ts, event_id, users, kind, value, k):
            arr[dup] = arr[src]
        props = [f'{{"k": {a}, "e": {b}}}' for a, b in zip(k, event_id)]
        pq.write_table(
            pa.table({
                "event_id": pa.array(event_id, pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "user_id": pa.array(users, pa.int64()),
                "event_type": pa.array(kind),
                "value": pa.array(value, pa.float64()),
                "props": pa.array(props),
            }),
            os.path.join(path, f"events-{f:04d}.parquet"),
        )
        ids.append(event_id)
    all_ids = np.concatenate(ids)
    return {"rows": len(all_ids), "distinct_ids": len(np.unique(all_ids))}


def _start(spark, name: str, src_dir: str, work: str, tag: str):
    """Start one stream over ``src_dir``; returns (query, output ref)."""
    from gotsdb_spark import streaming as S

    src = S.read_events_stream(spark, src_dir, max_files_per_trigger=FILES_PER_TRIGGER)
    ck = os.path.join(work, "ck", name)
    if name == "stream_into_collection_log":
        log = os.path.join(work, "kv", "events")
        q = S.stream_into_collection_log(src, log, ck).trigger(availableNow=True).start()
        return q, os.path.join(work, "kv")
    transform = getattr(S, name)
    table = f"{name}_{tag}"
    q = (
        transform(src).writeStream.format("memory").queryName(table)
        .outputMode("append").option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    return q, table


def run(ctx: Ctx) -> Outcome:
    out = Outcome()
    tr = ctx.tracer
    spark = ctx.spark
    rng = np.random.default_rng(ctx.seed)
    files, per_file = _sizes(ctx.tiny)
    base = os.path.join(ctx.work, "stream")
    backlog = os.path.join(base, "backlog")
    facts = write_backlog(backlog, rng, files, per_file)
    warm = os.path.join(base, "warmup")
    write_backlog(warm, np.random.default_rng(ctx.seed + 1), WARMUP_FILES, per_file)

    # Warm-up: each stream drains a small separate backlog once.
    for name in STREAMS:
        q, _ = _start(spark, name, warm, os.path.join(base, "warm", name), "warm")
        q.awaitTermination()
    out.setup_s = time.perf_counter() - ctx.t_start

    drains = []  # (name, set, query, output ref, wall s)
    clock = ctx.clock
    clock.start()
    sets, last = 0, 0.0
    while clock.keep_going(ctx.seconds, last, sets, 1):
        ts = clock.elapsed()
        for name in STREAMS:
            clock.between_units()
            out.attempted += 1
            try:
                with tr.span("streaming.drain", req=f"{name}/{sets}"):
                    t = time.perf_counter()
                    q, ref = _start(spark, name, backlog, os.path.join(base, f"set{sets}", name), f"set{sets}")
                    q.awaitTermination()
                    wall = time.perf_counter() - t
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
                drains.append((name, sets, q, ref, wall))
            except Exception as exc:  # noqa: BLE001 — record, skip, keep running
                out.fail(f"{name} set {sets}: {type(exc).__name__}: {exc}")
        last = clock.elapsed() - ts
        sets += 1
    out.timed_s = clock.stop()

    for name, s, q, ref, _ in drains:
        _check(ctx, out, name, q, ref, backlog, facts)

    batches = {d[0]: [] for d in drains}
    for name, _, q, _, _ in drains:
        batches[name].extend(_batches(q))
    wall = sum(d[4] for d in drains)
    out.e2e["throughput_per_s"] = (facts["rows"] * len(drains) / wall, "1/s")
    for c in "abc":
        ms = [b["durationMs"]["triggerExecution"] for n, bs in batches.items()
              if STREAM_CLASS[n] == c for b in bs]
        out.e2e[f"class_{c}_ms"] = (median(ms), "ms")
    pooled = [b["durationMs"]["triggerExecution"] for bs in batches.values() for b in bs]
    out.layers = {
        "rows_per_s": out.e2e["throughput_per_s"][0],
        "batch_p50_ms": median(pooled),
        "batches": len(pooled),
    }
    if p90(pooled) is not None:
        out.layers["batch_p90_ms"] = p90(pooled)
    if not tr.enabled:
        return out

    samples = {c: [] for c in "abc"}
    for name, _, q, _, _ in drains:
        bs = _batches(q)
        counts = tr.group_counts(str(q.runId))
        per_batch = {k: v / len(bs) for k, v in counts.items()}
        per_batch["max_task_ms"] = counts["max_task_ms"]
        samples[STREAM_CLASS[name]].append(
            {"wall_ms": median([b["durationMs"]["triggerExecution"] for b in bs]), **per_batch}
        )
    for c in "abc":
        out.per_layer.update(slot_metrics(c, samples[c]))
    out.layers.update(_stream_layers(batches))
    return out


def _batches(q) -> list[dict]:
    """Progress of the micro-batches that had input."""
    return [p for p in q.recentProgress if p["numInputRows"] > 0]


def _phase(b: dict, *keys: str) -> float:
    return sum(b["durationMs"].get(k, 0) for k in keys)


def _stream_layers(batches: dict[str, list[dict]]) -> dict:
    layers: dict[str, float] = {}
    for name, bs in batches.items():
        layers[f"streaming.add_batch_ms.{name}"] = median([_phase(b, "addBatch") for b in bs])
        layers[f"streaming.plan_ms.{name}"] = median([_phase(b, "queryPlanning") for b in bs])
        layers[f"streaming.offsets_ms.{name}"] = median([_phase(b, "latestOffset", "getBatch") for b in bs])
        layers[f"streaming.commit_ms.{name}"] = median([_phase(b, "walCommit", "commitOffsets") for b in bs])
        layers[f"streaming.batches.{name}"] = len(bs)
        ops = [b["stateOperators"][0] for b in bs if b["stateOperators"]]
        layers[f"streaming.rows_dropped.{name}"] = sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
        if ops:
            layers[f"streaming.state_rows.{name}"] = ops[-1]["numRowsTotal"]
            layers[f"streaming.state_mb.{name}"] = ops[-1]["memoryUsedBytes"] / 2**20
            layers[f"streaming.state_commit_ms.{name}"] = median([o["commitTimeMs"] for o in ops])
    return layers


def _final_watermark(q) -> pd.Timestamp:
    marks = [p["eventTime"].get("watermark") for p in q.recentProgress if p.get("eventTime")]
    return pd.Timestamp(marks[-1]).tz_convert(None)


def _check(ctx: Ctx, out: Outcome, name: str, q, ref: str, backlog: str, facts: dict) -> None:
    """One drain's output against the batch twin of the same transform."""
    from gotsdb_spark import streaming as S
    from gotsdb_spark.storage.engine import Engine

    spark = ctx.spark
    fault = 1 if ctx.inject_fault else 0
    out.attempted += 1
    dropped = sum(
        o.get("numRowsDroppedByWatermark", 0)
        for b in q.recentProgress for o in b["stateOperators"]
    )
    if dropped:
        out.fail(f"{name}: {dropped} rows dropped by the watermark")
    out.attempted += 1
    events = spark.read.schema(S.EVENT_SCHEMA).parquet(backlog)
    if name == "dedup_events":
        n = spark.table(ref).count()
        if n != facts["distinct_ids"] + fault:
            out.fail(f"dedup_events: {n} rows, {facts['distinct_ids']} distinct ids")
        return
    if name == "stream_into_collection_log":
        engine = Engine(spark, ref)
        newest = (
            events.dropDuplicates(["event_id"]).sample(fraction=0.01, seed=ctx.seed).limit(200).collect()
        )
        for row in newest:
            want = row["props"] + ("x" if fault else "")
            if engine.read_key("events", str(row["event_id"])) != want:
                out.fail(f"stream_into_collection_log: key {row['event_id']}")
                break
        return
    wm = _final_watermark(q)
    if name == "windowed_event_counts":
        twin = S.windowed_event_counts(events).toPandas()
        twin = twin[twin["window_start"] + pd.Timedelta(hours=1) <= wm]
    else:
        twin = S.session_window_values(events).toPandas()
        twin = twin[twin["session_end"] <= wm]
    got = spark.table(ref).toPandas()
    cols = sorted(got.columns)
    a = got[cols].sort_values(cols, ignore_index=True)
    b = twin[cols].sort_values(cols, ignore_index=True).iloc[fault:].reset_index(drop=True)
    if not a.equals(b):
        out.fail(f"{name}: {len(a)} rows vs {len(b)} from the batch twin")
