"""Property-based KV tests: arbitrary operation sequences must agree
with a plain-dict model (last-writer-wins, flush/promote transparency).

Hypothesis drives (op, collection, key, value) sequences; the model is
the reference's own semantics — Collection map[string]string with
last-writer-wins upsert (reference types.go:3, hot.go:50-60). Flushes
and re-promotions must be invisible to reads.
"""

import pytest
import threading

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from gotsdb_spark.storage.engine import (
    CollectionNotFoundError,
    Engine,
    KeyNotFoundError,
)

COLLS = ("alpha", "beta")
KEYS = tuple(f"k{i}" for i in range(5))

ops = st.lists(
    st.one_of(
        st.tuples(
            st.just("write"),
            st.sampled_from(COLLS),
            st.sampled_from(KEYS),
            st.text(min_size=0, max_size=8),
        ),
        st.tuples(st.just("flush"), st.sampled_from(COLLS)),
        st.tuples(st.just("read"), st.sampled_from(COLLS), st.sampled_from(KEYS)),
    ),
    min_size=1,
    max_size=25,
)


# Null, empty and non-ASCII values and keys: the driver folds convert
# columns to Python objects through numpy, which must keep each of them.
WIDE_KEYS = KEYS + ("ключ",)
VALUES = st.one_of(
    st.none(),
    st.just(""),
    st.sampled_from(["héllo wörld", "中文", "🙂"]),
    st.text(max_size=8),
)

compact_ops = st.lists(
    st.one_of(
        st.tuples(
            st.just("write"),
            st.sampled_from(COLLS),
            st.sampled_from(WIDE_KEYS),
            VALUES,
        ),
        st.tuples(st.just("flush"), st.sampled_from(COLLS)),
        st.tuples(st.just("compact"), st.sampled_from(COLLS)),
        st.tuples(st.just("read"), st.sampled_from(COLLS), st.sampled_from(WIDE_KEYS)),
    ),
    min_size=1,
    max_size=30,
)

_ABSENT = object()


@pytest.fixture(scope="module")
def prop_spark(spark):
    return spark


@given(sequence=ops)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow
def test_engine_matches_dict_model(prop_spark, tmp_path_factory, sequence):
    data_dir = str(tmp_path_factory.mktemp("prop"))
    engine = Engine(prop_spark, data_dir)
    model: dict[str, dict[str, str]] = {}

    for op in sequence:
        if op[0] == "write":
            _, coll, key, value = op
            engine.write_key(coll, key, value)
            model.setdefault(coll, {})[key] = value
        elif op[0] == "flush":
            _, coll = op
            if coll in engine.list_hot():
                engine.flush_collection(coll)
        else:
            _, coll, key = op
            expected = model.get(coll, {}).get(key)
            if coll not in model:
                with pytest.raises(KeyError):
                    engine.read_key(coll, key)
            elif expected is None:
                with pytest.raises(KeyNotFoundError):
                    engine.read_key(coll, key)
            else:
                assert engine.read_key(coll, key) == expected

    # final audit: every model entry readable, including after a full
    # flush + fresh-engine promotion
    for coll, kv in model.items():
        for key, value in kv.items():
            assert engine.read_key(coll, key) == value
    engine.flush_all_collections()
    reborn = Engine(prop_spark, data_dir)
    for coll, kv in model.items():
        for key, value in kv.items():
            assert reborn.read_key(coll, key) == value


def _assert_read(engine, model, coll, key):
    expected = model.get(coll, {}).get(key, _ABSENT)
    if coll not in model:
        with pytest.raises(CollectionNotFoundError):
            engine.read_key(coll, key)
    elif expected is _ABSENT:
        with pytest.raises(KeyNotFoundError):
            engine.read_key(coll, key)
    else:
        assert engine.read_key(coll, key) == expected


@given(sequence=compact_ops)
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_engine_with_compaction_matches_dict_model_without_spark_jobs(
    prop_spark, tmp_path_factory, sequence
):
    """write/flush/compact/read at the default threshold agree with a
    dict model, also through fresh Engines that fold (default threshold)
    or probe (threshold 1) the log, and no step starts a Spark job."""
    tracker = prop_spark.sparkContext.statusTracker()
    jobs = set(tracker.getJobIdsForGroup())
    data_dir = str(tmp_path_factory.mktemp("prop_compact"))
    engine = Engine(prop_spark, data_dir)
    model: dict[str, dict[str, str | None]] = {}

    for op in sequence:
        if op[0] == "write":
            _, coll, key, value = op
            engine.write_key(coll, key, value)
            model.setdefault(coll, {})[key] = value
        elif op[0] == "flush":
            if op[1] in engine.list_hot():
                engine.flush_collection(op[1])
        elif op[0] == "compact":
            if op[1] in engine.list_cold():
                engine.compact(op[1])
        else:
            _assert_read(engine, model, op[1], op[2])

    assert engine.flush_all_collections() == []
    for reader in (
        engine,
        Engine(prop_spark, data_dir),
        Engine(prop_spark, data_dir, materialize_threshold=1),
    ):
        for coll in COLLS:
            for key in WIDE_KEYS:
                _assert_read(reader, model, coll, key)
    assert set(tracker.getJobIdsForGroup()) == jobs


@pytest.mark.slow
def test_engine_concurrent_access_matches_models(spark, tmp_path_factory):
    """Concurrent write/read/flush/promote against ONE Engine.

    The reference's hot tier mutates its Go map with no mutex
    (hot.go:53) — concurrent PUTs can corrupt the map or lose writes;
    the rebuild serializes every hot-tier mutation behind
    ``Engine._lock``. Prove the lock actually delivers the guarantees:
    8 threads hammer one shared collection on DISJOINT per-thread
    keyspaces while interleaving flushes (hot→cold demotion) and the
    read-through promotions they force, and

    (a) no thread observes an unexpected exception (the only benign
        race is two threads flushing the same collection — the loser
        gets the reference's own not-found-in-hot error, hot.go:84),
    (b) every thread's read of its own key is read-your-writes
        consistent regardless of interleaved flush/load by others,
    (c) the final state equals the union of the per-thread dict models,
        including from a FRESH engine over the flushed log — concurrent
        flush/write interleavings never tear or drop a durable write.
    """
    data_dir = str(tmp_path_factory.mktemp("conc"))
    engine = Engine(spark, data_dir)
    n_threads, n_ops = 8, 24
    barrier = threading.Barrier(n_threads)
    failures: list[tuple[int, Exception]] = []
    models: list[dict[str, str]] = [{} for _ in range(n_threads)]

    def worker(t: int) -> None:
        try:
            barrier.wait(timeout=60)
            for i in range(n_ops):
                key = f"t{t}_k{i % 4}"
                val = f"{t}:{i}"
                engine.write_key("shared", key, val)
                models[t][key] = val
                if i % 8 == 7 and t % 2 == 0:
                    try:
                        engine.flush_collection("shared")
                    except CollectionNotFoundError:
                        pass  # another thread demoted first — benign
                assert engine.read_key("shared", key) == val
        except Exception as exc:  # noqa: BLE001 — surfaced via failures
            failures.append((t, exc))

    threads = [
        threading.Thread(target=worker, args=(t,), name=f"kv-conc-{t}")
        for t in range(n_threads)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not failures, failures

    merged: dict[str, str] = {}
    for m in models:  # per-thread keyspaces are disjoint by construction
        merged.update(m)
    for key, val in merged.items():
        assert engine.read_key("shared", key) == val
    assert engine.flush_all_collections() == []
    reborn = Engine(spark, data_dir)
    for key, val in merged.items():
        assert reborn.read_key("shared", key) == val


def test_engine_concurrent_access_on_probed_log_matches_models(spark, tmp_path_factory):
    """The concurrent hammer above the dict threshold: at
    ``materialize_threshold=1`` every promotion indexes the log and
    reads probe its row groups while other threads write, flush and
    compact() (which renames and deletes the files a probe reads)."""
    data_dir = str(tmp_path_factory.mktemp("conc_probe"))
    engine = Engine(spark, data_dir, materialize_threshold=1)
    for i in range(3):
        engine.write_key("shared", f"seed{i}", "s")
    engine.flush_collection("shared")
    n_threads, n_ops = 4, 12
    barrier = threading.Barrier(n_threads)
    failures: list[tuple[int, Exception]] = []
    models: list[dict[str, str]] = [{} for _ in range(n_threads)]

    def worker(t: int) -> None:
        try:
            barrier.wait(timeout=60)
            for i in range(n_ops):
                key = f"t{t}_k{i % 3}"
                val = f"{t}:{i}"
                engine.write_key("shared", key, val)
                models[t][key] = val
                if i % 3 == 2:
                    try:
                        engine.flush_collection("shared")
                    except CollectionNotFoundError:
                        pass  # another thread demoted first — benign
                if t == 0 and i % 6 == 5:
                    engine.compact("shared")
                assert engine.read_key("shared", key) == val
                assert engine.read_key("shared", "seed1") == "s"
        except Exception as exc:  # noqa: BLE001 — surfaced via failures
            failures.append((t, exc))

    threads = [
        threading.Thread(target=worker, args=(t,), name=f"kv-probe-{t}")
        for t in range(n_threads)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not failures, failures

    merged = {f"seed{i}": "s" for i in range(3)}
    for m in models:
        merged.update(m)
    assert engine.flush_all_collections() == []
    reborn = Engine(spark, data_dir, materialize_threshold=1)
    for key, val in merged.items():
        assert reborn.read_key("shared", key) == val
    assert reborn._hot_dict["shared"] is None
