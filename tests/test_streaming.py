"""Streaming tests (SURVEY.md §5.2): file-source replay of `events`,
batch↔stream equivalence of the same transform, watermark-bounded
dedup, and the foreachBatch → KV-log sink."""


import pytest
from pyspark.sql import functions as F

from gotsdb_spark.sources.registry import load_table
from gotsdb_spark.storage.engine import Engine
from gotsdb_spark.streaming import (
    dedup_events,
    read_events_stream,
    run_stream_to_memory,
    session_window_values,
    stream_into_collection_log,
    windowed_event_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def replay_dir(spark, tmp_path_factory):
    """Events re-written as many small parquet files, out of order by
    event_id so micro-batches see non-monotonic event time."""
    path = str(tmp_path_factory.mktemp("events_replay"))
    ev = load_table(spark, "events", SF)
    # 16 shuffled files → maxFilesPerTrigger=4 gives 4 micro-batches
    ev.orderBy(F.hash("event_id")).repartition(16).write.mode("overwrite").parquet(path)
    return path


def test_stream_batch_equivalence_windowed_counts(spark, replay_dir):
    stream = read_events_stream(spark, replay_dir)
    q = run_stream_to_memory(
        windowed_event_counts(stream), "win_counts", output_mode="complete"
    )
    try:
        got = {
            (r["window_start"], r["event_type"]): (r["n"], round(r["sum_value"], 6))
            for r in spark.sql("SELECT * FROM win_counts").collect()
        }
    finally:
        q.stop()
    batch = windowed_event_counts(spark.read.parquet(replay_dir))
    want = {
        (r["window_start"], r["event_type"]): (r["n"], round(r["sum_value"], 6))
        for r in batch.collect()
    }
    assert got == want


def test_stream_batch_equivalence_session_windows(spark, replay_dir):
    # The replay is shuffled across ~30 days of event time, so session
    # fragments land in different micro-batches; a watermark shorter than
    # the replay disorder would (correctly) refuse to merge them. Use a
    # full-span watermark to assert pure batch↔stream equivalence.
    wm = "768 hours"
    stream = read_events_stream(spark, replay_dir)
    q = run_stream_to_memory(
        session_window_values(stream, watermark=wm), "sess_win", output_mode="complete"
    )
    try:
        got = {
            (r["session_start"], r["user_id"]): r["n_events"]
            for r in spark.sql("SELECT * FROM sess_win").collect()
        }
    finally:
        q.stop()
    batch = session_window_values(spark.read.parquet(replay_dir), watermark=wm)
    want = {(r["session_start"], r["user_id"]): r["n_events"] for r in batch.collect()}
    assert got == want


def test_streaming_dedup_drops_replayed_events(spark, tmp_path, replay_dir):
    """Duplicate the whole input: dedup must return each event_id once."""
    dup_dir = str(tmp_path / "dup")
    ev = spark.read.parquet(replay_dir)
    ev.unionAll(ev).repartition(8).write.mode("overwrite").parquet(dup_dir)
    stream = dedup_events(read_events_stream(spark, dup_dir))
    q = run_stream_to_memory(stream.select("event_id"), "dedup_out")
    try:
        rows = spark.sql("SELECT count(*) c, count(DISTINCT event_id) d FROM dedup_out").first()
    finally:
        q.stop()
    n_src = ev.count()
    assert rows["d"] == n_src
    assert rows["c"] == n_src  # every id exactly once despite the replay


def test_foreach_batch_kv_sink_feeds_engine(spark, tmp_path, replay_dir):
    """Stream → collection log → read through the KV engine."""
    data_dir = tmp_path / "data"
    log_path = str(data_dir / "evlog")
    checkpoint = str(tmp_path / "ckpt")
    stream = read_events_stream(spark, replay_dir)
    q = stream_into_collection_log(stream, log_path, checkpoint).start()
    q.processAllAvailable()
    q.stop()

    engine = Engine(spark, str(data_dir))
    assert "evlog" in engine.list_cold()
    ev = spark.read.parquet(replay_dir)
    some = ev.orderBy("event_id").select("event_id", "props").first()
    assert engine.read_key("evlog", str(some["event_id"])) == some["props"]
    assert engine.snapshot("evlog").count() == ev.count()


def test_stream_stream_interval_join_matches_batch_on_small_replay(spark, tmp_path):
    """The interval join over a three-file replay, one file per
    micro-batch, matches its batch result."""
    from gotsdb_spark.streaming.ingest import join_purchases_with_recent_errors

    path = str(tmp_path / "small_replay")
    load_table(spark, "events", SF).orderBy(F.hash("event_id")).repartition(3).write.parquet(path)

    def split(df):
        return (
            df.where(F.col("event_type") == "purchase"),
            df.where(F.col("event_type") == "error"),
        )

    sp, se = split(read_events_stream(spark, path, max_files_per_trigger=1))
    joined = join_purchases_with_recent_errors(sp, se, "720 hours")
    q = run_stream_to_memory(joined.select("p_id", "e_id"), "ss_join_small")
    try:
        got = {(r["p_id"], r["e_id"]) for r in spark.sql("SELECT * FROM ss_join_small").collect()}
        batches = [p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()

    bp, be = split(spark.read.parquet(path))
    want = {
        (r["p_id"], r["e_id"])
        for r in join_purchases_with_recent_errors(bp, be, "720 hours")
        .select("p_id", "e_id")
        .collect()
    }
    assert len(batches) == 3
    assert got == want and len(want) > 0


def test_left_outer_interval_join_emits_nulls_on_small_replay(spark, tmp_path):
    """The left-outer interval join on the replay driver: a purchase
    with no error in its preceding hour emits once with a NULL e_id,
    after a sentinel wave moves both watermarks past its window and a
    nudge wave runs the batch that emits it. The result equals the
    batch left join over the same rows."""
    import os

    from gotsdb_spark.operators.integration import _replay_to_memory, _utc_us
    from gotsdb_spark.streaming.ingest import join_purchases_with_recent_errors

    ev = load_table(spark, "events", SF)
    purchases = ev.where(F.col("event_type") == "purchase")
    errors = ev.where(F.col("event_type") == "error")
    p_dir, e_dir = str(tmp_path / "p"), str(tmp_path / "e")
    for d in (p_dir, e_dir):
        os.makedirs(d)
    waves = [[(p_dir, purchases, 1), (e_dir, errors, 1)]]
    for k, day in enumerate(["2024-03-01", "2024-03-02"]):
        sentinel = [(20_000_000 + k, _utc_us(day), -1, "sentinel", 0.0, None)]
        waves.append([(p_dir, sentinel, 1), (e_dir, sentinel, 1)])
    joined = join_purchases_with_recent_errors(
        read_events_stream(spark, p_dir, 64),
        read_events_stream(spark, e_dir, 64),
        "1 hour",
        how="leftOuter",
    ).select("p_id", "e_id")
    got = {
        (r["p_id"], r["e_id"])
        for r in _replay_to_memory(
            spark, joined, waves, "p_id long, e_id long", partitions=4
        )
        .where(F.col("p_id") < 20_000_000)
        .collect()
    }
    want = {
        (r["p_id"], r["e_id"])
        for r in join_purchases_with_recent_errors(
            purchases, errors, "1 hour", how="leftOuter"
        )
        .select("p_id", "e_id")
        .collect()
    }
    assert got == want
    assert any(e_id is None for _, e_id in got)


@pytest.mark.slow
def test_stream_stream_interval_join_matches_batch(spark, replay_dir):
    from gotsdb_spark.streaming.ingest import join_purchases_with_recent_errors

    def split(df):
        return (
            df.where(F.col("event_type") == "purchase"),
            df.where(F.col("event_type") == "error"),
        )

    sp, se = split(read_events_stream(spark, replay_dir))
    joined = join_purchases_with_recent_errors(sp, se, "720 hours")
    q = run_stream_to_memory(joined.select("p_id", "e_id"), "ss_join")
    try:
        got = {(r["p_id"], r["e_id"]) for r in spark.sql("SELECT * FROM ss_join").collect()}
    finally:
        q.stop()

    bp, be = split(spark.read.parquet(replay_dir))
    want = {
        (r["p_id"], r["e_id"])
        for r in join_purchases_with_recent_errors(bp, be, "720 hours")
        .select("p_id", "e_id")
        .collect()
    }
    assert got == want and len(want) > 0


def test_rate_source_smoke(spark):
    """Non-file streaming source: the built-in rate source drives the
    same transforms (production swaps in Kafka the same way)."""
    rate = (
        spark.readStream.format("rate").option("rowsPerSecond", 500).load()
        .select(
            F.col("value").alias("event_id"),
            F.col("timestamp").alias("ts"),
            (F.col("value") % 5).alias("user_id"),
            F.lit("view").alias("event_type"),
            (F.col("value") * 1.0).alias("value"),
            F.lit("{}").alias("props"),
        )
    )
    q = (
        windowed_event_counts(rate, window="1 second", watermark="5 seconds")
        .writeStream.format("memory")
        .queryName("rate_out")
        .outputMode("complete")
        .start()
    )
    try:
        import time

        deadline = time.time() + 20
        while time.time() < deadline:
            q.processAllAvailable()
            if spark.sql("SELECT coalesce(sum(n),0) FROM rate_out").first()[0] > 0:
                break
            time.sleep(0.5)
        total = spark.sql("SELECT coalesce(sum(n),0) FROM rate_out").first()[0]
    finally:
        q.stop()
    assert total > 0


@pytest.mark.slow
def test_outer_stream_stream_join_emits_nulls_after_watermark(spark, tmp_path):
    """leftOuter stream-stream interval join: matched purchases carry
    their errors; unmatched purchases emit exactly once with NULL error
    columns after the watermark passes their window."""
    import os as _os

    from gotsdb_spark.streaming.ingest import (
        join_purchases_with_recent_errors,
        read_events_stream,
    )

    psrc, esrc = str(tmp_path / "p_out"), str(tmp_path / "e_out")
    for d in (psrc, esrc):
        _os.makedirs(d)
    ev = load_table(spark, "events", SF)
    purchases = ev.where(F.col("event_type") == "purchase")
    errors = ev.where(F.col("event_type") == "error")

    sp = read_events_stream(spark, psrc)
    se = read_events_stream(spark, esrc)
    q = (
        join_purchases_with_recent_errors(sp, se, "1 hour", how="leftOuter")
        .writeStream.format("memory")
        .queryName("outer_join_out")
        .outputMode("append")
        .start()
    )
    try:
        purchases.write.mode("append").parquet(psrc)
        errors.write.mode("append").parquet(esrc)
        q.processAllAvailable()
        # Advance both watermarks far past every window so unmatched
        # purchases are provably unmatched and must emit.
        sentinel = ev.limit(1).withColumn(
            "ts", F.to_timestamp(F.lit("2030-01-01 00:00:00"))
        ).withColumn("event_id", F.lit(999_999_999))
        sentinel.write.mode("append").parquet(psrc)
        sentinel.write.mode("append").parquet(esrc)
        q.processAllAvailable()
        got = {
            (r["p_id"], r["e_id"])
            for r in spark.sql(
                "SELECT p_id, e_id FROM outer_join_out WHERE p_id <> 999999999"
            ).collect()
        }
    finally:
        q.stop()

    p = purchases.select(
        F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts"),
        F.col("user_id").alias("p_user"),
    )
    e = errors.select(
        F.col("event_id").alias("e_id"), F.col("ts").alias("e_ts"),
        F.col("user_id").alias("e_user"),
    )
    want = {
        (r["p_id"], r["e_id"])
        for r in p.join(
            e,
            (F.col("p_user") == F.col("e_user"))
            & (F.col("e_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("e_ts") <= F.col("p_ts")),
            "left",
        ).collect()
    }
    assert got == want
    assert any(eid is None for _, eid in got)  # NULL emission really happened


def test_progress_metrics_account_for_all_input_rows(spark, tmp_path):
    """Operational observability: the query's progress log must account
    for every source row (sum of numInputRows) and expose state-store
    size for the stateful operator — the numbers an on-call engineer
    alarms on. Uses recentProgress (synchronous after
    processAllAvailable) rather than a listener, so the check is
    deterministic."""
    from pyspark.sql import functions as F

    from gotsdb_spark.sources.registry import load_table
    from gotsdb_spark.streaming import (
        read_events_stream,
        windowed_event_counts,
    )

    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "src")
    ev = load_table(spark, "events", sf).where(
        F.col("event_type").isin("purchase", "signup")
    )
    n_src = ev.count()
    ev.repartition(2).write.mode("append").parquet(src)

    stream = windowed_event_counts(
        read_events_stream(spark, src, 1), watermark="1 hour"
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("obs_metrics")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        progress = q.recentProgress
        assert sum(p["numInputRows"] for p in progress) == n_src
        state_ops = [p for p in progress if p.get("stateOperators")]
        assert state_ops, "no state operator metrics reported"
        last_state = state_ops[-1]["stateOperators"][0]
        # state rows = number of open (window, event_type) groups
        got_rows = spark.table("obs_metrics").count()
        assert last_state["numRowsTotal"] == got_rows
    finally:
        q.stop()


def test_sentinel_rows_land_as_one_utc_file(spark, tmp_path):
    """Watermark sentinels are appended driver-side as one complete
    parquet file (no temp file left) with a UTC-adjusted timestamp, and
    read back through EVENT_SCHEMA unchanged."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gotsdb_spark.operators.integration import _append_sentinel_rows
    from gotsdb_spark.streaming.ingest import EVENT_SCHEMA

    ts = dt.datetime(2024, 1, 1, 12, 30, tzinfo=dt.timezone.utc)
    ts_us = int(ts.timestamp()) * 1_000_000
    _append_sentinel_rows(str(tmp_path), [(7, ts_us, 3, "view", 1.5, "p")])
    rows = spark.createDataFrame([(7, ts, 3, "view", 1.5, "p")], EVENT_SCHEMA)
    (name,) = os.listdir(tmp_path)
    assert name.startswith("part-") and name.endswith(".parquet")
    ts_type = pq.read_schema(tmp_path / name).field("ts").type
    assert ts_type == pa.timestamp("us", tz="UTC")
    back = spark.read.schema(EVENT_SCHEMA).parquet(str(tmp_path)).collect()
    assert back == rows.collect()


# -- the foreachBatch KV-log sink ------------------------------------------

_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _write_events(path, rows):
    """One event file of (event_id, ts µs, props) rows, written with
    pyarrow so the test starts no Spark job for its input."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    ids, ts, props = zip(*rows)
    pq.write_table(
        pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([1] * len(ids), pa.int64()),
            "event_type": pa.array(["view"] * len(ids)),
            "value": pa.array([1.0] * len(ids)),
            "props": pa.array(props),
        }),
        path,
    )


def _drain_kv_sink(spark, src, log, ck):
    """Run the KV sink over ``src`` one file per micro-batch, to the
    end of the input; returns the finished query."""
    q = stream_into_collection_log(
        read_events_stream(spark, src, max_files_per_trigger=1), log, ck
    ).trigger(availableNow=True).start()
    try:
        assert q.awaitTermination(180)
    finally:
        q.stop()
    assert q.exception() is None
    return q


def test_kv_sink_replayed_epoch_replaces_its_file(spark, tmp_path):
    """An epoch replayed after its commit is lost writes its file again
    under the same name, so the raw log holds each input row once and
    one file per epoch; a second stream (another checkpoint) into the
    same log writes files of its own."""
    import os

    from gotsdb_spark.storage.engine import _log_files

    src, log = str(tmp_path / "src"), str(tmp_path / "data" / "c")
    for f in range(2):
        _write_events(
            f"{src}/events-{f}.parquet",
            [(f * 400 + i, _T0_US + f * 10**9 + i, f"p{f}.{i}") for i in range(400)],
        )
    ck = str(tmp_path / "ck")
    _drain_kv_sink(spark, src, log, ck)
    assert len(_log_files(log)) == 2
    commits = os.path.join(ck, "commits")
    newest = max(int(n) for n in os.listdir(commits) if n.isdigit())
    for n in (str(newest), f".{newest}.crc"):
        if os.path.exists(os.path.join(commits, n)):
            os.remove(os.path.join(commits, n))

    q = _drain_kv_sink(spark, src, log, ck)
    assert [p["batchId"] for p in q.recentProgress if p["numInputRows"]] == [newest]
    assert spark.read.parquet(log).count() == 800
    assert len(_log_files(log)) == 2

    _drain_kv_sink(spark, src, log, str(tmp_path / "ck2"))
    assert spark.read.parquet(log).count() == 1600
    assert len(_log_files(log)) == 4


def _gate_input(src):
    """Two event files of 5,000 rows: file 1 rewrites every third key of
    file 0 at a later time, and each file has a null event_id. Returns
    the latest value per key, the null key included."""
    model = {}
    for f in range(2):
        ids = range(5000) if f == 0 else range(0, 15000, 3)
        rows = [(i, _T0_US + f * 10**10 + i, f"v{f}.{i}") for i in ids][:4999]
        rows.append((None, _T0_US + f * 10**10, f"null{f}"))
        _write_events(f"{src}/events-{f}.parquet", rows)
        model.update({(None if i is None else str(i)): v for i, _, v in rows})
    return model


def _assert_kv_log_matches(spark, data, model):
    from gotsdb_spark.storage.engine import Engine

    keys = [k for k in model if k is not None]
    for engine in (Engine(spark, data), Engine(spark, data, materialize_threshold=1)):
        assert {k: engine.read_key("c", k) for k in keys} == {k: model[k] for k in keys}
        assert {r["key"]: r["value"] for r in engine.snapshot("c").collect()} == model


def test_kv_sink_writes_driver_segments_and_keeps_a_spark_path(spark, tmp_path):
    """At the default spark.sql.autoBroadcastJoinThreshold a micro-batch
    fits the driver: it becomes one key-sorted segment of
    _SEGMENT_ROW_GROUP_ROWS-row groups with disjoint key ranges, with no
    Hadoop commit files, and its only Spark job is the collect. With the
    threshold disabled the sink is a Spark write. Both logs read back
    as the latest value per input key, the null key included."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from gotsdb_spark.storage.engine import (
        _SEGMENT_ROW_GROUP_ROWS,
        _log_files,
        _row_group_ranges,
    )

    src = str(tmp_path / "src")
    model = _gate_input(src)

    data = str(tmp_path / "driver")
    q = _drain_kv_sink(spark, src, f"{data}/c", str(tmp_path / "ck"))
    batches = [p for p in q.recentProgress if p["numInputRows"]]
    assert len(batches) == 2
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) == len(batches)
    entries = os.listdir(f"{data}/c")
    assert not [n for n in entries if n.startswith(("_", ".")) or n.endswith(".crc")]
    assert len(entries) == 2
    for name in entries:
        f = pq.ParquetFile(f"{data}/c/{name}")
        sizes = [f.metadata.row_group(i).num_rows for i in range(f.metadata.num_row_groups)]
        assert sizes == [_SEGMENT_ROW_GROUP_ROWS, 5000 - _SEGMENT_ROW_GROUP_ROWS]
        keys = f.read(columns=["key"]).column("key")
        assert keys.null_count == 1 and keys[-1].as_py() is None
        assert keys.to_pylist()[:-1] == sorted(keys.to_pylist()[:-1])
        ranges = _row_group_ranges(f.metadata, "key")
        assert all(hi < lo for (_, _, hi), (_, lo, _) in zip(ranges, ranges[1:]))
    _assert_kv_log_matches(spark, data, model)

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        data = str(tmp_path / "spark")
        _drain_kv_sink(spark, src, f"{data}/c", str(tmp_path / "ck_spark"))
    finally:
        spark.conf.set(key, old)
    entries = os.listdir(f"{data}/c")
    assert "_SUCCESS" in entries
    for f in _log_files(f"{data}/c"):
        keys = pq.read_table(f, columns=["key"]).column("key")
        valid = pc.drop_null(keys).to_pylist()
        assert valid == sorted(valid)
    _assert_kv_log_matches(spark, data, model)


def test_kv_sink_event_time_against_a_kv_api_flush(spark, tmp_path):
    """The sink's write_ts is the event time and a flush's is the wall
    clock: a streamed row with a past event time loses to a later
    write_key + flush of its key, and one with an event time after
    that flush wins."""
    import time

    from gotsdb_spark.storage.engine import Engine

    src, data = str(tmp_path / "src"), str(tmp_path / "data")
    ck = str(tmp_path / "ck")
    _write_events(f"{src}/events-0.parquet", [(1, _T0_US, "stream-past")])
    _drain_kv_sink(spark, src, f"{data}/c", ck)
    assert Engine(spark, data).read_key("c", "1") == "stream-past"

    e = Engine(spark, data)
    e.write_key("c", "1", "kv-api")
    e.flush_collection("c")
    assert Engine(spark, data).read_key("c", "1") == "kv-api"

    future_us = int((time.time() + 86_400) * 1_000_000)
    _write_events(f"{src}/events-1.parquet", [(1, future_us, "stream-future")])
    _drain_kv_sink(spark, src, f"{data}/c", ck)
    assert Engine(spark, data).read_key("c", "1") == "stream-future"
