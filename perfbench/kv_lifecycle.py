"""kv_lifecycle: the KV API and storage engine through a full collection
lifecycle — cold promotion, hot point reads and writes, flush, compact,
and point reads on a collection too large for the driver dict.

One client, closed loop, in-process: ``api.dispatch`` and ``Engine``
calls, no sockets. The seed drives keys, values and the Zipf key
choice; collection sizes are fixed.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

from harness import (
    Ctx, Outcome, median, p90, slot_metrics, span_ms, span_sample,
)

SMALL_COLLECTIONS = 6
READS_PER_CYCLE = 200
WRITES_PER_CYCLE = 50
ABSENT_SHARE = 0.05
COMPACT_EVERY = 10
LARGE_READS_PER_CYCLE = 8
WARMUP_CYCLES = 2


def _sizes(tiny: bool) -> tuple[int, int, int]:
    """(keys per small collection, keys in the large one, dict threshold)."""
    return (200, 3_000, 2_000) if tiny else (2_000, 30_000, 20_000)


class _Keys:
    """Seeded Zipf key stream over one collection's key ranks."""

    def __init__(self, rng: np.random.Generator, n: int) -> None:
        self.rng = rng
        self.n = n
        self.perm = rng.permutation(n)

    def draw(self, size: int) -> list[int]:
        out: list[int] = []
        while len(out) < size:
            ranks = self.rng.zipf(1.2, size * 2) - 1
            out.extend(int(self.perm[r]) for r in ranks if r < self.n)
        return out[:size]


def _key(i: int) -> str:
    return f"k{i:05d}"


def run(ctx: Ctx) -> Outcome:
    from gotsdb_spark import api
    from gotsdb_spark.storage.engine import Engine, KeyNotFoundError

    out = Outcome()
    tr = ctx.tracer
    rng = np.random.default_rng(ctx.seed)
    n_small, n_large, threshold = _sizes(ctx.tiny)
    data_dir = os.path.join(ctx.work, "kv")
    engine = Engine(ctx.spark, data_dir, materialize_threshold=threshold)
    small = [f"coll{i}" for i in range(SMALL_COLLECTIONS)]
    large = "big"
    model: dict[str, dict[str, str]] = {c: {} for c in small + [large]}
    user_bytes = 0

    def value(tag: str) -> str:
        return f"v{tag}x{int(rng.integers(0, 2**40)):010x}"

    # Set-up: every collection is written and flushed through the engine,
    # so the cold logs are in whatever format the program writes.
    for c, n in [(c, n_small) for c in small] + [(large, n_large)]:
        for i in range(n):
            k, v = _key(i), value(f"{c}{i}")
            engine.write_key(c, k, v)
            model[c][k] = v
            user_bytes += len(k) + len(v)
        engine.flush_collection(c)
    keys = {c: _Keys(rng, n_small) for c in small}
    large_keys = _Keys(rng, n_large)

    cold_ms: list[float] = []
    flush_ms: list[float] = []
    large_ms: list[float] = []
    checks = []  # (collection, key, response, expected value or None)
    ops = 0

    def check_response(c: str, k: str, resp, expected: str | None) -> None:
        out.attempted += 1
        if expected is None:
            ok = resp.status == 404
        else:
            ok = resp.status == 200 and json.loads(resp.body) == {"data": expected}
        if not ok:
            out.fail(f"read {c}/{k}: status {resp.status}")

    def cycle(n: int, timed: bool) -> None:
        nonlocal ops, user_bytes
        c = small[n % SMALL_COLLECTIONS]
        req = f"cycle{n}"
        read_keys = keys[c].draw(READS_PER_CYCLE + 1)
        absent = rng.random(READS_PER_CYCLE + 1) < ABSENT_SHARE
        write_keys = keys[c].draw(WRITES_PER_CYCLE)
        responses = []

        # 1. first read on the cold collection: read-through promotion.
        t = time.perf_counter()
        if tr.enabled:
            with tr.span("storage.load", req, counted=True):
                engine.load_collection(c)
        k0 = _key(read_keys[0])
        r = api.dispatch(engine, "GET", f"/collections/{c}/{k0}")
        if timed:
            cold_ms.append((time.perf_counter() - t) * 1000)
        responses.append((c, k0, r, model[c].get(k0)))
        # 2. Zipf point reads; a share goes to keys that were never written.
        for j in range(1, READS_PER_CYCLE + 1):
            k = f"absent{n}x{j}" if absent[j] else _key(read_keys[j])
            if tr.enabled and j > READS_PER_CYCLE // 2:
                with tr.span("storage.read_hot", req):
                    try:
                        r = api.Response(200, json.dumps({"data": engine.read_key(c, k)}).encode())
                    except KeyNotFoundError:
                        r = api.Response(404, b"")
            else:
                with tr.span("api.dispatch_read", req):
                    r = api.dispatch(engine, "GET", f"/collections/{c}/{k}")
            responses.append((c, k, r, model[c].get(k)))
        # 3. writes into the hot overlay.
        for j, i in enumerate(write_keys):
            k, v = _key(i), value(f"{n}x{j}")
            with tr.span("api.dispatch_write", req):
                r = api.dispatch(engine, "PUT", f"/collections/{c}/{k}/{v}")
            out.attempted += 1
            if r.status != 200:
                out.fail(f"write {c}/{k}: status {r.status}")
            model[c][k] = v
            user_bytes += len(k) + len(v)
        # 4. flush: pending writes become a new log segment, then evict.
        t = time.perf_counter()
        with tr.span("storage.flush", req, counted=True):
            engine.flush_collection(c)
        if timed:
            flush_ms.append((time.perf_counter() - t) * 1000)
        # 5. periodic compaction of the cold log.
        if n % COMPACT_EVERY == COMPACT_EVERY - 1:
            with tr.span("storage.compact", req, counted=True):
                engine.compact(c)
            ops += 1
        # 6. point reads on the collection larger than the dict threshold.
        for i in large_keys.draw(LARGE_READS_PER_CYCLE):
            k = _key(i)
            t = time.perf_counter()
            with tr.span("storage.read_large", req, counted=True):
                r = api.dispatch(engine, "GET", f"/collections/{large}/{k}")
            if timed:
                large_ms.append((time.perf_counter() - t) * 1000)
            responses.append((large, k, r, model[large][k]))
        ops += len(responses) + WRITES_PER_CYCLE + 1
        checks.extend(responses)

    def guarded_cycle(n: int, timed: bool) -> None:
        try:
            cycle(n, timed)
        except Exception as exc:  # noqa: BLE001 — record, skip, keep running
            out.attempted += 1
            out.fail(f"cycle {n}: {type(exc).__name__}: {exc}")

    # Warm-up: promotes the large collection and runs the cycle's code
    # paths a few times before anything is timed.
    for n in range(WARMUP_CYCLES):
        guarded_cycle(n, timed=False)
    out.setup_s = time.perf_counter() - ctx.t_start

    clock = ctx.clock
    clock.start()
    n, last = WARMUP_CYCLES, 0.0
    ops = 0
    tr.spans.clear()
    while clock.keep_going(ctx.seconds, last, n - WARMUP_CYCLES, 1):
        clock.between_units()
        tc = clock.elapsed()
        guarded_cycle(n, timed=True)
        last = clock.elapsed() - tc
        n += 1
    out.timed_s = clock.stop()

    # -- checks, outside the timed phase -----------------------------------
    for c, k, r, expected in checks:
        check_response(c, k, r, expected)
    if ctx.inject_fault:
        c = small[0]
        k = next(iter(model[c]))
        model[c][k] = model[c][k] + "-wrong"
    # Durability: a fresh engine over the same directory sees every
    # flushed write (everything was flushed, so that is the whole model).
    fresh = Engine(ctx.spark, data_dir, materialize_threshold=threshold)
    for c in small:
        for k, v in model[c].items():
            out.attempted += 1
            try:
                got = fresh.read_key(c, k)
            except KeyNotFoundError:
                got = None
            if got != v:
                out.fail(f"durability {c}/{k}")
    rows = {r["key"]: r["value"] for r in fresh.snapshot(large).collect()}
    out.attempted += 1
    if rows != model[large]:
        out.fail("durability big: snapshot differs from the written values")

    out.e2e = {
        "throughput_per_s": (ops / out.timed_s, "1/s"),
        "class_a_ms": (median(cold_ms), "ms"),
        "class_b_ms": (median(flush_ms), "ms"),
        "class_c_ms": (median(large_ms), "ms"),
    }
    out.layers = {
        "ops_per_s": ops / out.timed_s,
        "cold_read_p50_ms": median(cold_ms),
        "flush_p50_ms": median(flush_ms),
        "large_read_p50_ms": median(large_ms),
        "samples.cold_read": len(cold_ms),
        "samples.flush": len(flush_ms),
        "samples.large_read": len(large_ms),
    }
    if p90(large_ms) is not None:
        out.layers["large_read_p90_ms"] = p90(large_ms)
    if not tr.enabled:
        return out

    loads = tr.by_name("storage.load")
    flushes = tr.by_name("storage.flush")
    larges = tr.by_name("storage.read_large")
    for slot, spans in zip("abc", (loads, flushes, larges)):
        out.per_layer.update(slot_metrics(slot, [span_sample(s) for s in spans]))
    out.layers.update(_storage_layers(ctx, tr, data_dir, small + [large], user_bytes))
    return out


def _storage_layers(ctx: Ctx, tr, data_dir: str, collections: list[str], user_bytes: int) -> dict:
    """The storage and API layer numbers named in NOTES.md."""
    layers: dict[str, float] = {}
    for name in ("api.dispatch_read", "api.dispatch_write", "storage.read_hot"):
        layers[f"{name}_us"] = median([span_ms(s) * 1000 for s in tr.by_name(name)])
    for name in ("storage.load", "storage.flush", "storage.compact", "storage.read_large"):
        spans = tr.by_name(name)
        if not spans:
            continue
        ms = [span_ms(s) for s in spans]
        layers[f"{name}_ms"] = median(ms)
        layers[f"{name}_jobs"] = median([s["counts"]["jobs"] for s in spans])
        if p90(ms) is not None:
            layers[f"{name}_p90_ms"] = p90(ms)
    files = total = 0
    for c in collections:
        for dirpath, _, names in os.walk(os.path.join(data_dir, c)):
            for f in names:
                if f.endswith(".parquet"):
                    files += 1
                    total += os.path.getsize(os.path.join(dirpath, f))
    layers["storage.log_files"] = files / len(collections)
    layers["storage.bytes_per_user_byte"] = total / max(user_bytes, 1)
    store = ctx.spark.sparkContext._jsc.sc().statusStore()
    rdds = store.rddList(True)
    layers["storage.cached_mb"] = sum(rdds.apply(i).memoryUsed() for i in range(rdds.size())) / 2**20
    return layers
