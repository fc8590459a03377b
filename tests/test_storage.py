"""KV-engine semantics tests — the behaviors in SURVEY.md §2.1/§3:
read-your-writes, promotion-on-miss, auto-create, flush/evict, error
parity (missing key vs missing collection), last-writer-wins."""


import os

import pytest
from gotsdb_spark.storage.engine import (
    CollectionExistsError,
    CollectionNotFoundError,
    Engine,
    KeyNotFoundError,
)


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "data"), auto_create_collection=True)


def test_write_then_read_your_writes(engine):
    engine.write_key("c", "k", "v")
    assert engine.read_key("c", "k") == "v"


def test_last_writer_wins(engine):
    engine.write_key("c", "k", "v1")
    engine.write_key("c", "k", "v2")
    assert engine.read_key("c", "k") == "v2"


def test_flush_then_promote_roundtrip(spark, tmp_path):
    """SURVEY.md §7 minimum slice: write → read → flush → new engine →
    read again (promotion from Parquet)."""
    data = str(tmp_path / "data")
    e1 = Engine(spark, data)
    e1.write_key("c", "k", "v")
    e1.write_key("c", "k2", "v2")
    e1.flush_collection("c")
    assert not e1.list_hot()  # evicted (engine.go:121)

    e2 = Engine(spark, data)  # fresh engine = restart
    assert e2.list_cold() == ["c"]
    assert e2.read_key("c", "k") == "v"  # read-through promotion
    assert e2.is_hot("c")  # promoted whole collection (engine.go:150-169)
    assert e2.read_key("c", "k2") == "v2"


def test_last_writer_wins_across_flushes(spark, tmp_path):
    data = str(tmp_path / "data")
    e1 = Engine(spark, data)
    e1.write_key("c", "k", "old")
    e1.flush_collection("c")
    e1.write_key("c", "k", "new")
    e1.flush_collection("c")
    e2 = Engine(spark, data)
    assert e2.read_key("c", "k") == "new"


def test_missing_key_vs_missing_collection_errors(engine):
    engine.write_key("c", "k", "v")
    with pytest.raises(KeyNotFoundError, match=r"No value found for key \[nope\] in hot collection \[c\]\."):
        engine.read_key("c", "nope")
    with pytest.raises(
        CollectionNotFoundError,
        match=r"No collection found for collection id \[ghost\] in hot or cold storage",
    ):
        engine.read_key("ghost", "k")


def test_auto_create_toggle(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "d"), auto_create_collection=False)
    with pytest.raises(
        CollectionNotFoundError,
        match=r"Unable to find a collection to load into hot storage with id \[c\]\.",
    ):
        e.write_key("c", "k", "v")


def test_create_and_drop(engine):
    engine.create_collection("c")
    with pytest.raises(
        CollectionExistsError,
        match=r"Collection already exists with id \[c\] in hot storage\.",
    ):
        engine.create_collection("c")
    engine.drop_collection("c")
    with pytest.raises(
        CollectionNotFoundError,
        match=r"No collection found for collection id \[c\] in hot storage\.",
    ):
        engine.drop_collection("c")


def test_list_and_tiers(engine):
    engine.write_key("hotonly", "k", "v")
    engine.write_key("both", "k", "v")
    engine.flush_collection("both")
    assert engine.list_hot() == ["hotonly"]
    assert engine.list_cold() == ["both"]
    assert engine.list_collections() == ["both", "hotonly"]
    assert engine.is_hot("hotonly")
    assert not engine.is_hot("both")
    with pytest.raises(CollectionNotFoundError):
        engine.is_hot("ghost")
    assert engine.collection_exists("both")
    assert not engine.collection_exists("ghost")


def test_flush_empty_autocreated_collection_persists(spark, tmp_path):
    data = str(tmp_path / "data")
    e1 = Engine(spark, data)
    e1.write_key("c", "k", "v")  # auto-creates
    e1.create_collection("empty")
    e1.flush_all_collections()
    e2 = Engine(spark, data)
    assert e2.list_collections() == ["c", "empty"]


def test_flush_all_collects_errors(engine):
    engine.write_key("a", "k", "v")
    engine.write_key("b", "k", "v")
    errors = engine.flush_all_collections()
    assert errors == []
    assert engine.list_hot() == []


def test_flush_not_hot_errors(engine):
    engine.write_key("c", "k", "v")
    engine.flush_collection("c")
    with pytest.raises(CollectionNotFoundError, match=r"in hot storage\."):
        engine.flush_collection("c")


def test_compact_preserves_latest(spark, tmp_path):
    data = str(tmp_path / "data")
    e = Engine(spark, data)
    for i in range(5):
        e.write_key("c", "k", f"v{i}")
        e.flush_collection("c")
    e.compact("c")
    assert e.read_key("c", "k") == "v4"
    # compaction must shrink the log to one row per key
    n = spark.read.parquet(str(tmp_path / "data" / "c")).count()
    assert n == 1


def test_snapshot_is_dataframe_view(engine):
    engine.write_key("c", "a", "1")
    engine.write_key("c", "b", "2")
    engine.write_key("c", "a", "3")
    snap = engine.snapshot("c")
    got = {r["key"]: r["value"] for r in snap.collect()}
    assert got == {"a": "3", "b": "2"}


def test_unicode_and_empty_values(engine):
    engine.write_key("c", "uni", "héllo wörld 中文")
    engine.write_key("c", "empty", "")
    engine.flush_collection("c")
    assert engine.read_key("c", "uni") == "héllo wörld 中文"
    assert engine.read_key("c", "empty") == ""


def test_cross_generation_seq_monotonic(spark, tmp_path):
    """Segment seqs must be strictly increasing across engine
    generations so the (write_ts, seq) LWW tie-break holds even if two
    flushes land in the same timestamp tick."""
    from pyspark.sql import functions as F

    data = str(tmp_path / "data")
    e1 = Engine(spark, data)
    e1.write_key("c", "k", "gen1")
    e1.write_key("c", "k2", "other")
    e1.flush_collection("c")

    e2 = Engine(spark, data)  # fresh generation, no in-memory state
    e2.write_key("c", "k", "gen2")
    e2.flush_collection("c")

    log = spark.read.parquet(str(tmp_path / "data" / "c"))
    seqs = {r["value"]: r["seq"] for r in log.where(F.col("key") == "k").collect()}
    assert seqs["gen2"] > seqs["gen1"], seqs

    e3 = Engine(spark, data)
    assert e3.read_key("c", "k") == "gen2"
    e3.compact("c")
    assert e3.read_key("c", "k") == "gen2"


def test_compact_crash_recovery_restores_original(spark, tmp_path):
    """Crash between the two compact renames (live dir missing, .old
    present) → recovery restores the original log."""
    import os
    import shutil

    data = str(tmp_path / "data")
    e1 = Engine(spark, data)
    e1.write_key("c", "k", "v")
    e1.flush_collection("c")
    path = os.path.join(data, "c")
    os.rename(path, path + ".compact.old")  # simulated mid-swap crash

    e2 = Engine(spark, data)
    assert e2.list_cold() == ["c"]
    assert e2.read_key("c", "k") == "v"
    assert not os.path.isdir(path + ".compact.old")

    # Crash with a COMPLETE tmp (has _SUCCESS): tmp is promoted instead.
    e2.write_key("c", "k", "v2")
    e2.flush_collection("c")
    # A complete tmp is a finished Spark write of the log, as compact()
    # makes it above the threshold (flush segments leave no marker).
    spark.read.parquet(path).write.parquet(path + ".compact.tmp")
    shutil.rmtree(path)
    e3 = Engine(spark, data)
    assert e3.read_key("c", "k") == "v2"
    assert not os.path.isdir(path + ".compact.tmp")


def test_compact_crash_incomplete_tmp_rolled_back(spark, tmp_path):
    """An incomplete tmp (no _SUCCESS) must never be promoted; the
    displaced original wins and the junk tmp is deleted."""
    import os

    data = str(tmp_path / "data")
    e1 = Engine(spark, data)
    e1.write_key("c", "k", "good")
    e1.flush_collection("c")
    path = os.path.join(data, "c")
    os.rename(path, path + ".compact.old")
    os.makedirs(path + ".compact.tmp")  # partial write, no _SUCCESS

    e2 = Engine(spark, data)
    assert e2.read_key("c", "k") == "good"
    assert not os.path.isdir(path + ".compact.tmp")


def _segments(path):
    import os

    names = os.listdir(path)
    return (
        sorted(n for n in names if n.endswith(".parquet")),
        sorted(n for n in names if n.startswith(".")),
    )


def test_flush_runs_no_spark_job_once_seq_floor_known(spark, tmp_path):
    """The pending delta is written driver-side: once the seq floor is
    known (here: a new collection, so no log to scan), flush starts no
    Spark job."""
    e = Engine(spark, str(tmp_path / "data"))
    tracker = spark.sparkContext.statusTracker()
    for i in range(3):
        e.write_key("c", f"k{i}", f"v{i}")
        before = set(tracker.getJobIdsForGroup())
        e.flush_collection("c")
        assert set(tracker.getJobIdsForGroup()) == before
    assert {e.read_key("c", f"k{i}") for i in range(3)} == {"v0", "v1", "v2"}


def test_each_flush_adds_one_segment_and_no_temp_file(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    data = tmp_path / "data"
    e = Engine(spark, str(data))
    e.create_collection("empty")
    e.flush_collection("empty")
    files, hidden = _segments(data / "empty")
    assert len(files) == 1 and hidden == []
    assert pq.read_table(data / "empty" / files[0]).num_rows == 0

    for n in range(1, 4):
        for i in range(5):
            e.write_key("c", f"k{i}", f"v{n}.{i}")
        e.flush_collection("c")
        files, hidden = _segments(data / "c")
        assert len(files) == n and hidden == []
    seg = pq.read_table(data / "c" / files[-1])
    assert seg.schema.field("write_ts").type == pa.timestamp("us", tz="UTC")
    assert seg.schema.field("seq").type == pa.int64()
    assert len(set(seg.column("write_ts").to_pylist())) == 1  # one ts per segment
    assert Engine(spark, str(data)).list_cold() == ["c", "empty"]


def test_write_segment_casts_to_log_types_and_keeps_a_null_key(spark, tmp_path):
    """write_segment casts other column types to the log types, keeps a
    null key (``Table.cast`` of the log schema would raise on it) and
    replaces a file written under the same ``name``; the engine then
    reads the key back."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gotsdb_spark.storage.engine import _LOG_ARROW_SCHEMA, write_segment

    path = tmp_path / "data" / "c"
    path.mkdir(parents=True)
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    for value in ("first", "second"):
        t = pa.table({
            "key": ["a", None],
            "value": [value, "null-key"],
            "write_ts": pa.array([ts, ts], pa.timestamp("ms", tz="Europe/Berlin")),
            "seq": pa.array([3, 3], pa.int32()),
        })
        write_segment(str(path), t, name="part-e3.snappy.parquet")
    (name,) = _segments(path)[0]
    back = pq.read_table(path / name)
    assert back.schema.types == _LOG_ARROW_SCHEMA.types
    assert back.column("key").to_pylist() == ["a", None]
    assert Engine(spark, str(tmp_path / "data")).read_key("c", "a") == "second"


def test_stray_temp_segment_is_invisible(spark, tmp_path, monkeypatch):
    """A crash between write and rename leaves the segment under its
    hidden ``.``-prefixed temp name; it must not reach promotion, reads
    or the seq floor."""
    import os

    data = tmp_path / "data"
    e1 = Engine(spark, str(data))
    e1.write_key("c", "k", "durable")
    e1.flush_collection("c")
    e1.write_key("c", "k", "never-renamed")

    def crash(src, dst):
        raise OSError("simulated crash before rename")

    with monkeypatch.context() as m:
        m.setattr(os, "rename", crash)
        with pytest.raises(OSError, match="simulated crash"):
            e1.flush_collection("c")
    files, hidden = _segments(data / "c")
    assert len(files) == 1 and len(hidden) == 1

    e2 = Engine(spark, str(data))
    e2.load_collection("c")
    assert e2.read_key("c", "k") == "durable"
    assert e2.snapshot("c").count() == 1
    assert e2._log_seq_floor("c") == 1


def test_last_writer_wins_over_spark_and_driver_segments(spark, tmp_path):
    """LWW through a fresh Engine over a log mixing a Spark-written
    segment (the Spark compaction of a log above the threshold) with
    driver-written segments (a streaming KV-sink batch and flushes)."""
    import datetime as dt
    import os
    import re

    from gotsdb_spark.streaming import read_events_stream, stream_into_collection_log
    from gotsdb_spark.streaming.ingest import EVENT_SCHEMA

    src, data = str(tmp_path / "events"), tmp_path / "data"
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    spark.createDataFrame(
        [(i, ts, 1, "view", 1.0, f"stream-{i}") for i in (1, 2, 3)], EVENT_SCHEMA
    ).write.parquet(src)
    q = stream_into_collection_log(
        read_events_stream(spark, src), str(data / "mix"), str(tmp_path / "ckpt")
    ).trigger(availableNow=True).start()
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()

    e1 = Engine(spark, str(data))
    e1.write_key("mix", "1", "driver-1")
    e1.flush_collection("mix")
    # Above the threshold compact() is a Spark write.
    Engine(spark, str(data), materialize_threshold=1).compact("mix")
    e1.write_key("mix", "2", "driver-2")
    e1.write_key("mix", "4", "driver-4")
    e1.flush_collection("mix")
    e2 = Engine(spark, str(data))
    e2.write_key("mix", "1", "gen2")
    e2.flush_collection("mix")

    names = os.listdir(data / "mix")
    assert any(n.endswith("-c000.snappy.parquet") for n in names)  # Spark-written
    driver = [n for n in names if re.fullmatch(r"part-[0-9a-f]{32}\.snappy\.parquet", n)]
    assert len(driver) == 2
    want = {"1": "gen2", "2": "driver-2", "3": "stream-3", "4": "driver-4"}
    e3 = Engine(spark, str(data))
    assert {k: e3.read_key("mix", k) for k in want} == want
    assert {r["key"]: r["value"] for r in e3.snapshot("mix").collect()} == want


def _job_ids(spark):
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


def _spark_compacted(spark, engine, id):
    """The latest-per-key view the executor-side path computes."""
    from gotsdb_spark.storage.engine import LOG_SCHEMA

    log = spark.read.schema(LOG_SCHEMA).parquet(os.path.join(engine.data_dir, id))
    return {r["key"]: r["value"] for r in engine._compacted(log).collect()}


def test_small_log_promotion_and_next_flush_start_no_spark_job(spark, tmp_path):
    """A log of at most the threshold's rows is folded on the driver:
    promotion, hot reads and the first flush of a fresh Engine (its
    seq floor comes from the fold) start no Spark job."""
    data = str(tmp_path / "data")
    e1 = Engine(spark, data)
    for i in range(3):
        e1.write_key("c", f"k{i}", f"v{i}")
    e1.flush_collection("c")

    e2 = Engine(spark, data)
    before = _job_ids(spark)
    e2.load_collection("c")
    assert e2.read_key("c", "k1") == "v1"
    with pytest.raises(KeyNotFoundError):
        e2.read_key("c", "nope")
    e2.write_key("c", "k1", "new")
    e2.flush_collection("c")
    assert _job_ids(spark) == before
    assert Engine(spark, data).read_key("c", "k1") == "new"
    assert e2._log_seq_floor("c") == 4


def _mixed_log(spark, tmp_path):
    """Collection ``mix`` over a driver-written streaming-sink batch, the
    Spark output of compact() above the threshold, driver flush
    segments, a segment without a write_ts column (nulls: the row loses
    to any timestamped row) and one key at equal write_ts with different
    seqs in two Spark-appended segments. Returns (data dir, latest value
    per key)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gotsdb_spark.storage.engine import LOG_SCHEMA
    from gotsdb_spark.streaming import read_events_stream, stream_into_collection_log
    from gotsdb_spark.streaming.ingest import EVENT_SCHEMA

    src, data = str(tmp_path / "events"), tmp_path / "data"
    path = str(data / "mix")
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    spark.createDataFrame(
        [(i, ts, 1, "view", 1.0, f"stream-{i}") for i in (1, 2, 3)], EVENT_SCHEMA
    ).write.parquet(src)
    q = stream_into_collection_log(
        read_events_stream(spark, src), path, str(tmp_path / "ckpt")
    ).trigger(availableNow=True).start()
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()

    e1 = Engine(spark, str(data))
    e1.write_key("mix", "1", "driver-1")
    e1.write_key("mix", "n", "old-ts")
    e1.flush_collection("mix")
    Engine(spark, str(data), materialize_threshold=1).compact("mix")  # Spark-written
    e1.write_key("mix", "2", "driver-2")
    e1.flush_collection("mix")
    # Equal write_ts, seq 9 written before seq 8: seq decides, not file order.
    tie = dt.datetime(2030, 1, 1, tzinfo=dt.timezone.utc)
    for value, seq in (("tie-high", 9), ("tie-low", 8)):
        spark.createDataFrame([("t", value, tie, seq)], LOG_SCHEMA).write.mode(
            "append"
        ).parquet(path)
    pq.write_table(
        pa.table({"key": ["n", "z", "z"], "value": ["no-ts", "z-7", "z-3"], "seq": [10**9, 7, 3]}),
        os.path.join(path, "part-nots.parquet"),
    )

    want = {
        "1": "driver-1", "2": "driver-2", "3": "stream-3",
        "n": "old-ts", "t": "tie-high", "z": "z-7",
    }
    return str(data), want


def test_driver_fold_equals_spark_compaction_on_mixed_log(spark, tmp_path):
    """The driver fold keeps the same row per key as the Spark
    compaction over the mixed log of `_mixed_log`."""
    data, want = _mixed_log(spark, tmp_path)
    e2 = Engine(spark, data)
    e2.load_collection("mix")
    assert "mix" not in e2._hot_index  # driver-held
    assert e2._hot_dict["mix"] == _spark_compacted(spark, e2, "mix") == want
    assert e2._seq_floor["mix"] == 10**9


def test_probe_equals_driver_fold_on_mixed_log(spark, tmp_path):
    """Above the threshold, point reads probe the row groups whose key
    range covers the key, and keep the same row per key as the fold, on
    sorted and unsorted files alike. The seq floor comes from the
    footers."""
    data, want = _mixed_log(spark, tmp_path)
    fold = Engine(spark, data)
    fold.load_collection("mix")
    probe = Engine(spark, data, materialize_threshold=1)
    probe.load_collection("mix")
    assert probe._hot_dict["mix"] is None
    assert {k: probe.read_key("mix", k) for k in want} == fold._hot_dict["mix"] == want
    for absent in ("0", "11", "m", "zz"):
        with pytest.raises(KeyNotFoundError):
            probe.read_key("mix", absent)
    assert probe._seq_floor["mix"] == 10**9


def _log_rows(spark, path):
    """Every row of the log at ``path`` as (key, value, write_ts, seq),
    in key order."""
    from gotsdb_spark.storage.engine import LOG_SCHEMA

    rows = spark.read.schema(LOG_SCHEMA).parquet(str(path)).collect()
    return sorted((tuple(r) for r in rows), key=lambda r: r[0])


def test_driver_compaction_equals_spark_compaction_on_mixed_log(spark, tmp_path):
    """compact() of a driver-sized log keeps, for every key, the whole
    row the Spark compaction keeps: all four columns, including the row
    whose write_ts is null, the seq tie at equal write_ts and the
    streaming-sink batch's row."""
    import datetime as dt

    from gotsdb_spark.storage.engine import LOG_SCHEMA

    data, want = _mixed_log(spark, tmp_path)
    path = os.path.join(data, "mix")
    e = Engine(spark, data)
    log = spark.read.schema(LOG_SCHEMA).parquet(path)
    spark_rows = sorted((tuple(r) for r in e._compacted(log).collect()), key=lambda r: r[0])
    e.compact("mix")
    driver_rows = _log_rows(spark, path)
    assert driver_rows == spark_rows
    assert {r[0]: r[1] for r in driver_rows} == want
    by_key = {r[0]: r for r in driver_rows}
    assert by_key["z"] == ("z", "z-7", None, 7)
    assert by_key["t"] == ("t", "tie-high", dt.datetime(2030, 1, 1), 9)
    assert by_key["3"] == ("3", "stream-3", dt.datetime(2024, 1, 1), 0)


def test_driver_compaction_starts_no_spark_job_and_writes_one_key_sorted_file(spark, tmp_path):
    """A driver-sized log compacts with no Spark job into one visible
    key-sorted ``part-*.parquet`` of row groups of at most
    _SEGMENT_ROW_GROUP_ROWS rows, next to the _SUCCESS marker."""
    import re

    import pyarrow.parquet as pq

    from gotsdb_spark.storage.engine import _SEGMENT_ROW_GROUP_ROWS

    n = 2 * _SEGMENT_ROW_GROUP_ROWS + 5
    data = tmp_path / "data"
    e = Engine(spark, str(data))
    for i in range(n):
        e.write_key("c", f"k{i:06d}", f"v{i}")
    e.flush_collection("c")
    for i in reversed(range(0, n, 7)):
        e.write_key("c", f"k{i:06d}", f"w{i}")
    e.flush_collection("c")

    before = _job_ids(spark)
    e.compact("c")
    assert _job_ids(spark) == before
    (name,), hidden = _segments(data / "c")
    assert hidden == [] and re.fullmatch(r"part-[0-9a-f]{32}\.snappy\.parquet", name)
    assert sorted(os.listdir(data / "c")) == ["_SUCCESS", name]
    assert sorted(os.listdir(data)) == ["c"]  # no tmp or old dir left
    f = pq.ParquetFile(data / "c" / name)
    keys = f.read(columns=["key"]).column("key").to_pylist()
    assert keys == sorted(keys) and len(keys) == n
    assert f.metadata.num_row_groups == 3
    for i in range(f.metadata.num_row_groups):
        assert f.metadata.row_group(i).num_rows <= _SEGMENT_ROW_GROUP_ROWS

    fresh = Engine(spark, str(data))
    fresh.load_collection("c")
    assert fresh._hot_dict["c"] == {
        f"k{i:06d}": f"w{i}" if i % 7 == 0 else f"v{i}" for i in range(n)
    }
    assert fresh._log_seq_floor("c") == n + len(range(0, n, 7))
    assert _job_ids(spark) == before


def test_compacting_a_zero_row_log_writes_a_zero_row_file(spark, tmp_path):
    """An empty collection stays listed and readable after compact()."""
    import pyarrow.parquet as pq

    data = tmp_path / "data"
    e = Engine(spark, str(data))
    e.create_collection("empty")
    e.flush_collection("empty")
    e.compact("empty")
    (name,), hidden = _segments(data / "empty")
    assert hidden == [] and pq.read_table(data / "empty" / name).num_rows == 0
    fresh = Engine(spark, str(data))
    assert fresh.list_cold() == ["empty"]
    fresh.load_collection("empty")
    assert fresh._hot_dict["empty"] == {}
    assert _log_rows(spark, data / "empty") == []


def _crash_between_compact_renames(monkeypatch, engine, id):
    """Run ``engine.compact(id)`` up to a crash after the live dir moved
    to ``.compact.old`` and before the finished tmp took its place."""
    real = os.rename

    def rename(src, dst):
        if str(src).endswith(".compact.tmp"):
            raise OSError("simulated crash")
        real(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", rename)
        with pytest.raises(OSError, match="simulated crash"):
            engine.compact(id)


def test_driver_compaction_tmp_is_promoted_only_with_success_marker(spark, tmp_path, monkeypatch):
    """After a crash mid-swap, `_recover` promotes a driver-written
    ``.compact.tmp`` that has its _SUCCESS marker, and rolls back to the
    original log when the marker is missing."""
    data = tmp_path / "data"
    path = str(data / "c")
    tmp, bak = path + ".compact.tmp", path + ".compact.old"
    e = Engine(spark, str(data))
    for n in range(2):
        for i in range(3):
            e.write_key("c", f"k{i}", f"v{n}.{i}")
        e.flush_collection("c")
    want = {f"k{i}": f"v1.{i}" for i in range(3)}

    _crash_between_compact_renames(monkeypatch, e, "c")
    assert not os.path.isdir(path) and os.path.isdir(bak)
    assert os.path.isfile(os.path.join(tmp, "_SUCCESS"))
    promoted = Engine(spark, str(data))
    assert promoted.list_cold() == ["c"]
    assert len(_segments(path)[0]) == 1  # the compacted log
    assert not os.path.isdir(tmp) and not os.path.isdir(bak)
    assert {k: promoted.read_key("c", k) for k in want} == want

    promoted.write_key("c", "k0", "new")
    promoted.flush_collection("c")
    _crash_between_compact_renames(monkeypatch, promoted, "c")
    os.remove(os.path.join(tmp, "_SUCCESS"))
    rolled_back = Engine(spark, str(data))
    assert rolled_back.read_key("c", "k0") == "new"
    assert len(_segments(path)[0]) == 2  # the original, uncompacted log
    assert not os.path.isdir(tmp) and not os.path.isdir(bak)


def test_listing_waits_for_a_compaction_in_progress(spark, tmp_path, monkeypatch):
    """list_cold() during a compact() waits for its swap instead of
    deleting its unfinished ``.compact.tmp`` as a crash leftover."""
    import threading

    from gotsdb_spark.storage import engine as engine_mod

    data = tmp_path / "data"
    e = Engine(spark, str(data))
    e.write_key("c", "k", "v")
    e.flush_collection("c")
    listed = []
    lister = threading.Thread(target=lambda: listed.append(e.list_cold()))
    real = engine_mod.write_parquet_atomic

    def write_while_listing(directory, table, **options):
        lister.start()
        lister.join(0.5)
        assert lister.is_alive()  # blocked behind the compaction
        real(directory, table, **options)

    monkeypatch.setattr(engine_mod, "write_parquet_atomic", write_while_listing)
    e.compact("c")
    lister.join(10)
    assert listed == [["c"]]
    assert Engine(spark, str(data)).read_key("c", "k") == "v"


def _persisted_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_large_log_promotion_reads_and_flush_start_no_spark_job_or_cache(spark, tmp_path):
    """Above the threshold, promotion indexes the footers and point reads
    probe row groups: no Spark job, nothing cached. The seq floor comes
    from the footers too, so the first flush starts no Spark job."""
    data = str(tmp_path / "data")
    e1 = Engine(spark, data)
    for i in range(50):
        e1.write_key("big", f"k{i:03d}", f"v{i}")
    e1.flush_collection("big")
    e1.write_key("big", "k000", "v0-new")
    e1.flush_collection("big")

    e2 = Engine(spark, data, materialize_threshold=10)
    jobs, cached = _job_ids(spark), _persisted_rdds(spark)
    e2.load_collection("big")
    assert e2._hot_dict["big"] is None
    assert e2.read_key("big", "k000") == "v0-new"
    assert e2.read_key("big", "k049") == "v49"
    with pytest.raises(KeyNotFoundError):
        e2.read_key("big", "k050")
    e2.write_key("big", "k007", "v7-new")
    e2.flush_collection("big")
    assert _job_ids(spark) == jobs
    assert _persisted_rdds(spark) == cached
    assert e2._log_seq_floor("big") == 52
    assert Engine(spark, data, materialize_threshold=10).read_key("big", "k007") == "v7-new"


def test_flush_segment_is_key_sorted_in_bounded_row_groups(spark, tmp_path, monkeypatch):
    """Keys written in reverse order flush as one ascending-key segment
    whose row groups hold at most _SEGMENT_ROW_GROUP_ROWS rows and
    cover disjoint key ranges."""
    import pyarrow.parquet as pq

    from gotsdb_spark.storage.engine import _SEGMENT_ROW_GROUP_ROWS

    n = 2 * _SEGMENT_ROW_GROUP_ROWS + 5
    data = tmp_path / "data"
    e = Engine(spark, str(data))
    for i in reversed(range(n)):
        e.write_key("c", f"k{i:06d}", f"v{i}")
    e.flush_collection("c")
    (name,) = _segments(data / "c")[0]
    f = pq.ParquetFile(data / "c" / name)
    keys = f.read(columns=["key"]).column("key").to_pylist()
    assert keys == sorted(keys) and len(keys) == n
    meta = f.metadata
    assert meta.num_row_groups == 3
    ranges = []
    for i in range(meta.num_row_groups):
        rg = meta.row_group(i)
        assert rg.num_rows <= _SEGMENT_ROW_GROUP_ROWS
        stats = rg.column(meta.schema.names.index("key")).statistics
        ranges.append((stats.min, stats.max))
    assert all(hi < lo for (_, hi), (lo, _) in zip(ranges, ranges[1:]))

    # A point read above the threshold decodes only the covering group.
    from gotsdb_spark.storage import engine as engine_mod

    read = []
    real = engine_mod._read_log
    monkeypatch.setattr(
        engine_mod, "_read_log", lambda p, m, groups=None: read.append(groups) or real(p, m, groups)
    )
    probe = Engine(spark, str(data), materialize_threshold=1)
    probe.load_collection("c")
    assert probe.read_key("c", f"k{n - 1:06d}") == f"v{n - 1}"
    assert read == [[2]]


def test_fold_threshold_boundary(spark, tmp_path):
    """rows == threshold → driver fold; threshold + 1 rows → no dict,
    point reads probe the log, also when it has at most the threshold's
    keys; neither starts a Spark job."""
    data = str(tmp_path / "data")
    e = Engine(spark, data)
    for i in range(4):
        e.write_key("c", f"k{i}", f"v{i}")
    e.flush_collection("c")

    at = Engine(spark, data, materialize_threshold=4)
    before = _job_ids(spark)
    at.load_collection("c")
    assert _job_ids(spark) == before
    assert "c" not in at._hot_index
    assert at._hot_dict["c"] == {f"k{i}": f"v{i}" for i in range(4)}

    e.write_key("c", "k0", "v0-new")
    e.flush_collection("c")  # 5 rows, 4 keys
    over = Engine(spark, data, materialize_threshold=4)
    before = _job_ids(spark)
    over.load_collection("c")
    assert over._hot_dict["c"] is None
    assert {f"k{i}": over.read_key("c", f"k{i}") for i in range(4)} == {
        "k0": "v0-new", "k1": "v1", "k2": "v2", "k3": "v3"
    }
    assert _job_ids(spark) == before

    few = Engine(spark, data, materialize_threshold=3)
    few.load_collection("c")
    assert few._hot_dict["c"] is None
    assert few.read_key("c", "k0") == "v0-new"
    with pytest.raises(KeyNotFoundError):
        few.read_key("c", "nope")


def test_snapshot_of_driver_held_collection_matches_reads(spark, tmp_path):
    """snapshot() of a driver-held collection is its read_key view plus
    the pending overlay, also after compact() refreshes it."""
    data = str(tmp_path / "data")
    e1 = Engine(spark, data)
    for n in range(2):
        for i in range(4):
            e1.write_key("c", f"k{i}", f"v{n}.{i}")
        e1.flush_collection("c")

    e2 = Engine(spark, data)
    e2.write_key("c", "k1", "pending-1")
    e2.write_key("c", "k9", "pending-9")
    keys = [f"k{i}" for i in range(4)] + ["k9"]
    for _ in range(2):
        assert "c" not in e2._hot_index  # driver-held
        view = {k: e2.read_key("c", k) for k in keys}
        assert view == {**e2._hot_dict["c"], **e2._pending["c"]}
        assert {r["key"]: r["value"] for r in e2.snapshot("c").collect()} == view
        e2.compact("c")
    assert spark.read.parquet(os.path.join(data, "c")).count() == 4


def test_spark_compaction_writes_key_sorted_row_groups_a_probe_prunes(spark, tmp_path, monkeypatch):
    """A log compacted by Spark (above the threshold) is written sorted by
    key in small row groups: each file's groups cover ascending, disjoint
    key ranges, and a point read decodes one group per file."""
    import pyarrow.parquet as pq

    from gotsdb_spark.storage import engine as engine_mod

    n = 60_000
    data = tmp_path / "data"
    e = Engine(spark, str(data))
    for gen in range(2):
        for i in range(gen, n, gen + 1):
            j = (i * 7919) % n  # scrambled key order
            e.write_key("c", f"k{j:06d}", f"v{gen}-{j:06d}-{j * 2654435761 % 2**32:08x}")
        e.flush_collection("c")
    big = Engine(spark, str(data), materialize_threshold=1)
    big.compact("c")

    names = _segments(data / "c")[0]
    n_groups = 0
    for name in names:
        meta = pq.read_metadata(data / "c" / name)
        j = meta.schema.names.index("key")
        ranges = [
            (meta.row_group(i).column(j).statistics.min, meta.row_group(i).column(j).statistics.max)
            for i in range(meta.num_row_groups)
        ]
        assert all(lo <= hi for lo, hi in ranges)
        assert all(hi < lo for (_, hi), (lo, _) in zip(ranges, ranges[1:]))
        n_groups += meta.num_row_groups
    assert n_groups > len(names)  # more groups than files: there is something to prune

    read = []
    real = engine_mod._read_log
    monkeypatch.setattr(
        engine_mod, "_read_log", lambda p, m, groups=None: read.append(groups) or real(p, m, groups)
    )
    probe = Engine(spark, str(data), materialize_threshold=1)
    probe.load_collection("c")
    key = 7919  # i = 1: rewritten by the second flush
    assert probe.read_key("c", f"k{key:06d}") == f"v1-{key:06d}-{key * 2654435761 % 2**32:08x}"
    assert read and all(len(groups) == 1 for groups in read)
    assert len(read) <= len(names)


def test_flush_bounds_the_segment_count_without_spark_jobs(spark, tmp_path):
    """20 write+flush rounds on a driver-sized collection: every flush
    leaves at most _MAX_SEGMENTS log files and no temp file, starts no
    Spark job and raises the seq floor; reads through the same and a
    fresh engine equal a dict model after every round."""
    from gotsdb_spark.storage.engine import _MAX_SEGMENTS

    data = tmp_path / "data"
    e = Engine(spark, str(data))
    tracker = spark.sparkContext.statusTracker()
    model, floors = {}, []
    for r in range(20):
        for j in range(5):
            k = f"k{(r * 7 + j * 3) % 30:02d}"
            e.write_key("c", k, f"v{r}.{j}")
            model[k] = f"v{r}.{j}"
        before = set(tracker.getJobIdsForGroup())
        e.flush_collection("c")
        assert set(tracker.getJobIdsForGroup()) == before
        files, hidden = _segments(data / "c")
        assert len(files) <= _MAX_SEGMENTS and hidden == []
        fresh = Engine(spark, str(data))
        assert {k: e.read_key("c", k) for k in model} == model
        assert {k: fresh.read_key("c", k) for k in model} == model
        assert fresh._log_seq_floor("c") == e._log_seq_floor("c")
        floors.append(e._log_seq_floor("c"))
    assert all(a < b for a, b in zip(floors, floors[1:]))


def test_crash_between_merge_and_unlinks_leaves_readable_duplicates(spark, tmp_path, monkeypatch):
    """A crash after the merged segment is renamed into place and before
    its inputs are deleted leaves duplicate rows: a fresh engine's reads
    and snapshot() still equal the model, and the next flush merges the
    log back within the bound."""
    from gotsdb_spark.storage.engine import _MAX_SEGMENTS

    data = tmp_path / "data"
    e = Engine(spark, str(data))
    model = {}

    def write_and_flush(n):
        for i in range(3):
            e.write_key("c", f"k{(n + i) % 6}", f"v{n}.{i}")
            model[f"k{(n + i) % 6}"] = f"v{n}.{i}"
        e.flush_collection("c")

    for n in range(_MAX_SEGMENTS):
        write_and_flush(n)
    assert len(_segments(data / "c")[0]) == _MAX_SEGMENTS

    def crash(path):
        raise OSError("simulated crash before unlink")

    with monkeypatch.context() as m:
        m.setattr(os, "unlink", crash)
        with pytest.raises(OSError, match="simulated crash"):
            write_and_flush(_MAX_SEGMENTS)
    files, hidden = _segments(data / "c")
    assert len(files) == _MAX_SEGMENTS + 2 and hidden == []

    fresh = Engine(spark, str(data))
    assert {k: fresh.read_key("c", k) for k in model} == model
    assert {r["key"]: r["value"] for r in fresh.snapshot("c").collect()} == model

    write_and_flush(_MAX_SEGMENTS + 1)
    assert len(_segments(data / "c")[0]) <= _MAX_SEGMENTS
    assert {k: Engine(spark, str(data)).read_key("c", k) for k in model} == model


def test_flush_of_a_large_log_merges_only_its_small_tail(spark, tmp_path, monkeypatch):
    """Above the threshold a flush merges only the small segments: the
    large base segment stays as written, no Spark job starts, and a
    point read still decodes one row group per file."""
    import pyarrow.parquet as pq

    from gotsdb_spark.storage import engine as engine_mod
    from gotsdb_spark.storage.engine import _MAX_SEGMENTS, _SEGMENT_ROW_GROUP_ROWS

    n = 2 * _SEGMENT_ROW_GROUP_ROWS + 5
    data = tmp_path / "data"
    e = Engine(spark, str(data), materialize_threshold=100)
    for i in range(n):
        e.write_key("c", f"k{i:06d}", f"v{i}")
    e.flush_collection("c")
    (base,) = _segments(data / "c")[0]
    assert pq.read_metadata(data / "c" / base).num_row_groups == 3

    model = {}
    jobs = _job_ids(spark)
    for r in range(2 * _MAX_SEGMENTS):
        for j in range(4):
            k = f"k{(r * 1031 + j * 2053) % n:06d}"
            e.write_key("c", k, f"w{r}.{j}")
            model[k] = f"w{r}.{j}"
        e.flush_collection("c")
        files = _segments(data / "c")[0]
        assert len(files) <= _MAX_SEGMENTS and base in files
    assert _job_ids(spark) == jobs

    read = []
    real = engine_mod._read_log
    monkeypatch.setattr(
        engine_mod, "_read_log", lambda p, m, groups=None: read.append(groups) or real(p, m, groups)
    )
    probe = Engine(spark, str(data), materialize_threshold=100)
    probe.load_collection("c")
    assert probe._hot_dict["c"] is None
    for k, v in model.items():
        read.clear()
        assert probe.read_key("c", k) == v
        assert read and all(len(groups) == 1 for groups in read)
        assert len(read) <= len(files)
    assert probe.read_key("c", f"k{n - 1:06d}") == f"v{n - 1}"
