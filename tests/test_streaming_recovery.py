"""Streaming checkpoint-restart recovery: exactly-once across a query
restart.

The KV engine has crash-recovery tests (test_recovery.py); this is the
streaming twin. A production ingest job dies and restarts constantly —
correctness there means the checkpoint's offset log skips everything
already committed and the file sink's transaction log never exposes a
row twice, even though the restarted query sees the same source
directory (old files included) and an interrupted epoch may have
half-written data files.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gotsdb_spark.sources.registry import load_table
from gotsdb_spark.streaming import read_events_stream

SF = "/root/testdata/sf0.001"

COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def _start(spark, src, out, ckpt):
    stream = read_events_stream(spark, src, 64).select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 1000).cast("long").alias("v_milli"),
    )
    return (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    ev = load_table(spark, "events", SF)
    wave1 = ev.where(F.col("event_id") % 2 == 0)
    wave2 = ev.where(F.col("event_id") % 2 == 1)

    # Epoch 1: process wave 1, then stop the query (planned shutdown —
    # offsets and sink commits are durable in ckpt/out).
    wave1.select(COLS).repartition(1).write.mode("append").parquet(src)
    q1 = _start(spark, src, out, ckpt)
    q1.processAllAvailable()
    q1.stop()

    n1 = spark.read.parquet(out).count()
    assert n1 == wave1.count()

    # Epoch 2: wave 2 lands while the job is down; a NEW query instance
    # resumes from the same checkpoint. Wave-1 files are still in the
    # source directory — the offset log must skip them.
    wave2.select(COLS).repartition(1).write.mode("append").parquet(src)
    q2 = _start(spark, src, out, ckpt)
    q2.processAllAvailable()
    q2.stop()

    got = spark.read.parquet(out)
    total = ev.count()
    assert got.count() == total  # nothing lost, nothing duplicated
    assert got.select("event_id").distinct().count() == total
    # values survived the restart bit-exactly
    want_sum = ev.select(
        F.sum(F.floor(F.col("value") * 1000).cast("long")).alias("s")
    ).collect()[0]["s"]
    assert got.agg(F.sum("v_milli").alias("s")).collect()[0]["s"] == want_sum


def test_restart_with_no_new_data_is_a_noop(spark, tmp_path):
    """Restarting against a fully-committed checkpoint must add zero
    rows — the degenerate case of at-least-once delivery that the sink
    transaction log turns into exactly-once."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    ev = load_table(spark, "events", SF).limit(200)
    ev.select(COLS).repartition(1).write.mode("append").parquet(src)

    q1 = _start(spark, src, out, ckpt)
    q1.processAllAvailable()
    q1.stop()
    n1 = spark.read.parquet(out).count()

    q2 = _start(spark, src, out, ckpt)
    q2.processAllAvailable()
    q2.stop()
    assert spark.read.parquet(out).count() == n1


@pytest.mark.slow
def test_stateful_windowed_restart_matches_batch(spark, tmp_path):
    """Checkpoint-restart of a STATEFUL query: a watermarked tumbling-
    window aggregation stopped mid-replay must restore its state store
    on restart, so windows STRADDLING the stop point finish with
    contributions from both epochs, and the final append-mode output
    equals the batch aggregation of the full event set — the recovery
    contract for windowed ingest (the appends-only test above covers
    the offset/sink logs; this covers the state store).
    """
    from gotsdb_spark.streaming import windowed_event_counts

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    ev = (
        load_table(spark, "events", SF)
        .where(F.col("event_type").isin("purchase", "signup"))
        .select(COLS)
    )
    # Cut INSIDE the busiest hour so that window provably straddles the
    # stop point — otherwise the restart would never have to merge
    # restored state with new rows and the test would be vacuous.
    bwin = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count("*").alias("c"), F.count_distinct("ts").alias("d"))
        .where(F.col("d") >= 2)
        .orderBy(F.desc("c"), "h")
        .limit(1)
        .collect()[0]["h"]
    )
    inside = sorted(
        r["ts"]
        for r in ev.where(F.date_trunc("hour", "ts") == bwin)
        .select("ts")
        .distinct()
        .collect()
    )
    cutoff = inside[len(inside) // 2]
    if cutoff == inside[0]:
        cutoff = inside[1]
    mx = ev.agg(F.max("ts").alias("mx")).collect()[0]["mx"]
    wave1 = ev.where(F.col("ts") < cutoff)
    wave2 = ev.where(F.col("ts") >= cutoff)
    assert wave1.where(F.date_trunc("hour", "ts") == bwin).count() > 0
    assert wave2.where(F.date_trunc("hour", "ts") == bwin).count() > 0

    def start():
        stream = read_events_stream(spark, src, 1)
        return (
            windowed_event_counts(stream, window="1 hour", watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    # Epoch 1: first half of the timeline, then stop. The boundary
    # window (and everything within the 1h watermark lag) stays in the
    # state store — durable only via the checkpoint.
    wave1.repartition(2).write.mode("append").parquet(src)
    q1 = start()
    q1.processAllAvailable()
    q1.stop()

    # Epoch 2: rest of the timeline plus one far-future flush event
    # (3 days past the end) that pushes the watermark beyond every
    # real window's end so append mode emits them all; its own window
    # stays unemitted, so the sink holds exactly the real windows.
    flush = spark.createDataFrame(
        [(10**9, None, 0, "purchase", 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.lit(mx) + F.expr("INTERVAL 3 DAYS"))
    wave2.repartition(2).write.mode("append").parquet(src)
    flush.select(COLS).repartition(1).write.mode("append").parquet(src)
    q2 = start()
    q2.processAllAvailable()
    q2.stop()

    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in windowed_event_counts(ev, window="1 hour").collect()
    }
    assert set(got) == set(want)
    for k, (n, sv) in want.items():
        assert got[k][0] == n, f"count mismatch in window {k}"
        assert abs(got[k][1] - sv) < 1e-6 * max(1.0, abs(sv))
    # and the straddling window specifically saw both epochs
    bkeys = [k for k in want if k[0] == bwin]
    assert bkeys, "boundary window missing from the batch reference"


def _write_events(path, i, rows):
    """Backlog file ``i`` of (ts_us, event_type, value) rows, written
    driver-side in EVENT_SCHEMA."""
    os.makedirs(path, exist_ok=True)
    ts, kind, value = zip(*rows)
    n = len(rows)
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(i * 1000, i * 1000 + n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([0] * n, pa.int64()),
            "event_type": pa.array(kind),
            "value": pa.array(value, pa.float64()),
            "props": pa.array(["{}"] * n),
        }),
        os.path.join(path, f"events-{i:02d}.parquet"),
    )


def test_changelog_restart_matches_uninterrupted_drain(spark, tmp_path):
    """A stateful stream stopped mid-backlog and restarted from its
    checkpoint emits exactly what one uninterrupted drain emits.

    Five 20-minute files in event-time order, one per trigger, under a
    1-hour tumbling window: the stop after file 2 falls inside the first
    window, so the restart must restore that window's state from the
    RocksDB changelog and merge the new rows into it. A last file three
    days later pushes the watermark past every real window, so append
    mode emits them all. Values are small integers, so the double sums
    are exact and the outputs compare with ==. Both checkpoints hold
    `<v>.changelog` files and no `<v>.zip` snapshot: a commit uploads
    the changed keys, not the whole store.
    """
    from gotsdb_spark.streaming import windowed_event_counts

    hour = 3_600_000_000
    t0 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    kinds = ("view", "click", "purchase")
    files = [
        [(t0 + i * hour // 3 + j * hour // 120, kinds[(i + j) % 3], float(40 * i + j))
         for j in range(40)]
        for i in range(5)
    ]
    files.append([(t0 + 72 * hour, "view", 0.0)])

    def drain(src, out, ckpt):
        q = (
            windowed_event_counts(
                read_events_stream(spark, src, 1), window="1 hour", watermark="1 hour"
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert q.exception() is None

    def emitted(out):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .select(F.unix_micros("window_start"), "event_type", "n", "sum_value")
            .collect()
        )

    # One uninterrupted drain of the whole backlog.
    whole, out_whole, ck_whole = (str(tmp_path / d) for d in ("whole", "out_whole", "ck_whole"))
    for i, rows in enumerate(files):
        _write_events(whole, i, rows)
    drain(whole, out_whole, ck_whole)

    # The same backlog, stopped after two files and restarted.
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ck"))
    for i in range(2):
        _write_events(src, i, files[i])
    drain(src, out, ckpt)
    assert spark.read.parquet(out).count() == 0  # the first window is still open
    for i in range(2, len(files)):
        _write_events(src, i, files[i])
    drain(src, out, ckpt)

    got = emitted(out)
    assert got == emitted(out_whole)
    want = {}
    for ts, kind, value in (r for rows in files[:-1] for r in rows):
        n, s = want.get((ts - ts % hour, kind), (0, 0.0))
        want[(ts - ts % hour, kind)] = (n + 1, s + value)
    assert got == sorted((w, k, n, s) for (w, k), (n, s) in want.items())
    for ck in (ck_whole, ckpt):
        names = [f for _, _, fs in os.walk(os.path.join(ck, "state", "0")) for f in fs]
        assert any(f.endswith(".changelog") for f in names), names
        assert not any(f.endswith(".zip") for f in names), names
