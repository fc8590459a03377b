"""Integration queries: the KV engine and the streaming pipeline
exposed through the driver's oracle gate.

Most of the KV/streaming surface is exercised by unit tests, but these
two queries put the storage engine's write→flush→promote→snapshot
lifecycle and a real Structured Streaming run into the same
DuckDB-oracle comparison as every relational operator — the engine's
end-to-end behavior is hash-checked, not just unit-asserted.
"""

from __future__ import annotations

import itertools
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gotsdb_spark.operators.registry import GATED_QUERIES, query
from gotsdb_spark.scratch import scratch_dir as _scratch_dir
from gotsdb_spark.sources.registry import load_table
from gotsdb_spark.storage.engine import Engine, write_parquet_atomic
from gotsdb_spark.streaming import (
    read_events_stream,
    run_stream_to_memory,
    session_window_values,
    windowed_event_counts,
)

_counter = itertools.count()


@contextmanager
def _replay_partitions(spark: SparkSession, n: int = 8):
    """Cap spark.sql.shuffle.partitions at ``n`` for the lifetime of a
    stateful replay, restoring the caller's value afterwards.

    The partition count is the number of state stores per stateful
    operator, and every store commits once per micro-batch. These
    replays carry a few thousand rows per batch, so stores beyond a
    handful add commits, not parallelism. Summed wall of the 14 replays
    at sf0.01 on a 4-core host, two runs each, capped vs the session
    default: SPARK_GRAFT_CPUS=32 143.0/148.0 s vs 203.0/203.2 s; =8
    108.8/101.6 s vs 114.5/133.0 s; 4 cores (the cap is then the session
    default, 4) 83.0/84.8 s, vs 90.8/90.2 s when pinned up to 8.
    Stream-stream join replays pass n=4: a join opens 4 stores per
    partition per batch.
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(min(n, int(prev))))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _append_sentinel_rows(path: str, df: DataFrame) -> None:
    """Append a HANDFUL of watermark-advance sentinel rows to a replay
    dir driver-side (pyarrow) instead of through a Spark write job.

    The sentinel frames are 1–2 literal or 1-row-aggregate rows by
    construction (they exist only to push the watermark), so the
    driver-side write is O(1) and avoids a whole Spark write job per
    wave. Timestamps cross as epoch micros and are written as
    timestamp("us", tz="UTC") to stay timezone-exact; the file matches
    EVENT_SCHEMA so the schema-pinned file-source stream reads it like
    any other wave. `write_parquet_atomic` renames the file into place,
    so a running file-stream source never lists a partial file.
    """
    import pyarrow as pa

    rows = df.select(
        F.col("event_id").cast("long"),
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.col("user_id").cast("long"),
        F.col("event_type").cast("string"),
        F.col("value").cast("double"),
        F.col("props").cast("string"),
    ).collect()
    tbl = pa.table(
        {
            "event_id": pa.array([r["event_id"] for r in rows], pa.int64()),
            "ts": pa.array(
                [r["ts_us"] for r in rows], pa.timestamp("us", tz="UTC")
            ),
            "user_id": pa.array([r["user_id"] for r in rows], pa.int64()),
            "event_type": pa.array(
                [r["event_type"] for r in rows], pa.string()
            ),
            "value": pa.array([r["value"] for r in rows], pa.float64()),
            "props": pa.array([r["props"] for r in rows], pa.string()),
        }
    )
    write_parquet_atomic(path, tbl)


@query(
    "kv_roundtrip_snapshot",
    oracle="""
    SELECT CAST(n_nationkey AS VARCHAR) AS key, n_name AS value
    FROM nation
    """,
)
def kv_roundtrip_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KV lifecycle under the oracle: load `nation` through the KV API
    (write_key per row + an overwrite pass to exercise last-writer-wins),
    flush, compact the log through a FRESH engine (a driver-side fold at
    this size) and return its snapshot. The oracle is simply the source
    table — equality proves write→flush→promote→compact loses and
    corrupts nothing."""
    rows = load_table(spark, "nation", sf_dir).collect()
    data_dir = _scratch_dir(prefix="gotsdb_kv_itg_")
    e1 = Engine(spark, data_dir)
    for r in rows:
        e1.write_key("itg", str(r["n_nationkey"]), "overwritten-later")
    for r in rows:
        e1.write_key("itg", str(r["n_nationkey"]), r["n_name"])
    e1.flush_collection("itg")
    e2 = Engine(spark, data_dir)  # fresh engine ≙ restart
    e2.compact("itg")
    return e2.snapshot("itg").select("key", "value")


@query(
    "streaming_windowed_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*)   AS n,
           sum(value) AS sum_value
    FROM events
    WHERE event_type IN ('purchase', 'signup')
    GROUP BY 1, 2
    """,
)
def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL streaming run under the oracle: replay events through a
    file-source stream in shuffled micro-batches, aggregate with
    watermarked tumbling windows, and compare the complete-mode result
    against DuckDB aggregating the same data in batch. This is the
    batch↔stream equivalence guarantee, enforced by the same hash gate
    as every batch operator.

    Replay layout: 4 shuffled files at 2 per trigger = 2 micro-batches.
    Complete-mode aggregation only needs >1 batch to prove cross-batch
    state accumulation (watermark state-dropping is exercised by the
    append-mode queries); each extra micro-batch costs a full stateful
    plan execution, so the wave count stays minimal."""
    replay = _scratch_dir(prefix="gotsdb_stream_itg_")
    ev = load_table(spark, "events", sf_dir).where(
        F.col("event_type").isin("purchase", "signup")
    )
    ev.orderBy(F.hash("event_id")).repartition(4).write.mode("overwrite").parquet(
        replay
    )
    name = f"itg_stream_{os.getpid()}_{next(_counter)}"
    with _replay_partitions(spark):
        q = run_stream_to_memory(
            windowed_event_counts(
                read_events_stream(spark, replay, 2), watermark="1 hour"
            ),
            name,
            output_mode="complete",
        )
        try:
            out = spark.table(name).collect()
        finally:
            q.stop()
    return spark.createDataFrame(
        out, "window_start timestamp, event_type string, n bigint, sum_value double"
    )


@query(
    "streaming_session_windows",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WHERE event_type = 'purchase'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, event_id, value,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM flagged
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id,
           count(*)   AS n_events,
           sum(value) AS session_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap-based session windows under the hash gate.

    Purchases replay through a file stream into `session_window` (30 min
    gap, 2 h watermark, append mode); a far-future sentinel purchase
    (user_id −1) then advances the watermark so every real session
    closes and emits, while the sentinel's own session never does. The
    emitted set must equal DuckDB's batch islands-and-gaps
    sessionization of the same purchases — the streaming twin of
    ts_sessionize_users, with Spark session_window semantics
    (session_end = last event + gap)."""
    replay = _scratch_dir(prefix="gotsdb_stream_sess_")
    ev = load_table(spark, "events", sf_dir).where(F.col("event_type") == "purchase")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    sentinel = spark.createDataFrame(
        [(-1, "2025-01-01 00:00:00", -1, "purchase", 0.0, None)],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    name = f"itg_sess_{os.getpid()}_{next(_counter)}"
    stream = session_window_values(
        read_events_stream(spark, replay, 64), gap="30 minutes", watermark="2 hours"
    )
    ev.select(cols).repartition(1).write.mode("append").parquet(replay)
    with _replay_partitions(spark):
        q = run_stream_to_memory(stream, name, output_mode="append")
        try:
            _append_sentinel_rows(replay, sentinel)
            q.processAllAvailable()
            out = spark.table(name).collect()
        finally:
            q.stop()
    return spark.createDataFrame(
        out,
        "session_start timestamp, session_end timestamp, user_id long,"
        " n_events bigint, session_value double",
    )


@query(
    "streaming_append_late_data",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*)   AS n,
           sum(value) AS sum_value
    FROM events
    WHERE event_type IN ('purchase', 'signup')
      AND ts < TIMESTAMP '2024-01-20'
    GROUP BY 1, 2
    """,
)
def streaming_append_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode + watermark semantics under the hash gate.

    Three deterministic micro-batch waves (each fully processed before
    the next is written, so watermark progression is exact):

    1. on-time rows (purchase/signup before Jan 20) — establishes the
       watermark at max(ts) − 1h;
    2. a LATE wave (error events from days 1-5, far behind the
       watermark) — every row's window has already closed, so append
       mode must drop all of them;
    3. a far-future sentinel row — advances the watermark past every
       legitimate window so they all emit; its own window never closes
       and must not appear.

    The emitted set must therefore equal DuckDB aggregating ONLY the
    on-time rows in batch: the batch↔stream equivalence contract for
    append mode, including late-data drop and window-close emission.
    """
    replay = _scratch_dir(prefix="gotsdb_stream_append_")
    ev = load_table(spark, "events", sf_dir)
    on_time = ev.where(
        F.col("event_type").isin("purchase", "signup")
        & (F.col("ts") < F.lit("2024-01-20").cast("timestamp"))
    )
    late = ev.where(
        (F.col("event_type") == "error")
        & (F.col("ts") < F.lit("2024-01-05").cast("timestamp"))
    )
    sentinel = spark.createDataFrame(
        [(0, "2024-03-01 00:00:00", 0, "sentinel", 0.0, None)],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    name = f"itg_append_{os.getpid()}_{next(_counter)}"
    stream = windowed_event_counts(
        read_events_stream(spark, replay, 64), window="1 hour", watermark="1 hour"
    )
    on_time.select(cols).repartition(1).write.mode("append").parquet(replay)
    with _replay_partitions(spark):
        q = run_stream_to_memory(stream, name, output_mode="append")
        try:
            late.select(cols).repartition(1).write.mode("append").parquet(replay)
            q.processAllAvailable()
            _append_sentinel_rows(replay, sentinel)
            q.processAllAvailable()
            out = spark.table(name).collect()
        finally:
            q.stop()
    return spark.createDataFrame(
        out, "window_start timestamp, event_type string, n bigint, sum_value double"
    )


@query(
    "streaming_interval_join",
    oracle="""
    WITH p AS (
      SELECT event_id AS p_id, ts AS p_ts, user_id AS p_user
      FROM events
      WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-20'
    ), e AS (
      SELECT event_id AS e_id, ts AS e_ts, user_id AS e_user
      FROM events
      WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-20'
    )
    SELECT p.p_id, p.p_user, e.e_id
    FROM p JOIN e
      ON p.p_user = e.e_user
     AND e.e_ts >= p.p_ts - INTERVAL 1 HOUR
     AND e.e_ts <= p.p_ts
    """,
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join under the hash gate: each purchase
    matched to same-user errors in the preceding hour, replayed as two
    REAL file-source streams with watermarks on both sides.

    Two deterministic waves per side (each fully processed before the
    next is written, so the watermark is exact):

    1. on-time purchases/errors (before Jan 20) — every legitimate
       match emits inside its micro-batch (inner joins don't wait for
       window close; the watermark exists to bound state);
    2. a LATE wave on BOTH sides (the same event shapes from days 1-5,
       re-keyed ids) — far below each side's watermark, so the
       stream-stream join must filter them at input; any row surviving
       would create matches the batch oracle doesn't have.

    The emitted pairs must equal DuckDB's batch interval join over only
    the on-time rows. State is bounded by the interval condition +
    watermark — the property that keeps the join viable at 100 TB/day
    (streaming/ingest.py:join_purchases_with_recent_errors).
    """
    from gotsdb_spark.streaming.ingest import join_purchases_with_recent_errors

    ev = load_table(spark, "events", sf_dir)
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    cutoff = F.lit("2024-01-20").cast("timestamp")
    purchases = ev.where((F.col("event_type") == "purchase") & (F.col("ts") < cutoff))
    errors = ev.where((F.col("event_type") == "error") & (F.col("ts") < cutoff))
    late_cut = F.lit("2024-01-05").cast("timestamp")
    late_p = purchases.where(F.col("ts") < late_cut).withColumn(
        "event_id", F.col("event_id") + 10_000_000
    )
    late_e = errors.where(F.col("ts") < late_cut).withColumn(
        "event_id", F.col("event_id") + 10_000_000
    )

    p_dir = _scratch_dir(prefix="gotsdb_ssj_p_")
    e_dir = _scratch_dir(prefix="gotsdb_ssj_e_")
    purchases.select(cols).repartition(1).write.mode("append").parquet(p_dir)
    errors.select(cols).repartition(1).write.mode("append").parquet(e_dir)

    joined = join_purchases_with_recent_errors(
        read_events_stream(spark, p_dir, 64),
        read_events_stream(spark, e_dir, 64),
        horizon="1 hour",
    ).select("p_id", "p_user", "e_id")

    name = f"itg_ssj_{os.getpid()}_{next(_counter)}"
    with _replay_partitions(spark, 4):
        q = run_stream_to_memory(joined, name, output_mode="append")
        try:
            late_p.select(cols).repartition(1).write.mode("append").parquet(p_dir)
            late_e.select(cols).repartition(1).write.mode("append").parquet(e_dir)
            q.processAllAvailable()
            out = spark.table(name).collect()
        finally:
            q.stop()
    return spark.createDataFrame(out, "p_id long, p_user long, e_id long")


@query(
    "streaming_dedup_watermark",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(floor(value * 1000) AS BIGINT) AS v_milli
    FROM events
    WHERE ts < TIMESTAMP '2024-01-20'
    """,
)
def streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ingestion under the hash gate: the same on-time
    event files are replayed TWICE through a watermarked
    dropDuplicatesWithinWatermark stream; the emitted set must equal
    the distinct batch rows — every redelivered row dropped, every
    original kept, none mutated.

    Wave 1 delivers the events; wave 2 redelivers byte-identical copies
    (the at-least-once retry every real ingest pipeline sees). Dedup
    state is keyed by event_id and bounded by the watermark horizon —
    at 100 TB/day the state store holds one key per event inside the
    horizon, not the full history (streaming/ingest.py:dedup_events).
    """
    from gotsdb_spark.streaming.ingest import dedup_events

    ev = load_table(spark, "events", sf_dir)
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    on_time = ev.where(F.col("ts") < F.lit("2024-01-20").cast("timestamp"))

    replay = _scratch_dir(prefix="gotsdb_dedup_stream_")
    on_time.select(cols).repartition(1).write.mode("append").parquet(replay)

    deduped = dedup_events(
        read_events_stream(spark, replay, 64), watermark="30 days"
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * 1000).cast("long").alias("v_milli"),
    )

    name = f"itg_dedup_{os.getpid()}_{next(_counter)}"
    with _replay_partitions(spark):
        q = run_stream_to_memory(deduped, name, output_mode="append")
        try:
            # wave 2: byte-identical redelivery — must all be dropped
            on_time.select(cols).repartition(1).write.mode("append").parquet(replay)
            q.processAllAvailable()
            out = spark.table(name).collect()
        finally:
            q.stop()
    return spark.createDataFrame(
        out, "event_id long, user_id long, event_type string, v_milli long"
    )


@query(
    "streaming_stateful_totals",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS total_milli
    FROM events GROUP BY user_id
    """,
)
def streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming under the hash gate: per-user
    running totals held in applyInPandasWithState across TWO replay
    waves, final state hash-matched against the batch aggregate.

    The accumulator is integer-scaled (floor(value*1000) per row before
    summing) so the state is bit-exact no matter how rows split across
    micro-batches — the same association-safety rule every production
    rollup follows (see incremental_daily_agg). Update mode emits a row
    per user per batch; totals are monotone nondecreasing, so the final
    state is the per-user max — recovered without ordering assumptions.
    State lives in the store partitioned by user_id: each executor owns
    its key range, nothing concentrates on the driver.
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        n, t = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            t += int(pdf["v_milli"].sum())
        state.update((n, t))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_milli": [t]}
        )

    ev = load_table(spark, "events", sf_dir)
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    wave1 = ev.where(F.col("ts") < F.lit("2024-01-15").cast("timestamp"))
    wave2 = ev.where(F.col("ts") >= F.lit("2024-01-15").cast("timestamp"))

    replay = _scratch_dir(prefix="gotsdb_stateful_")
    wave1.select(cols).repartition(1).write.mode("append").parquet(replay)

    stream = read_events_stream(spark, replay, 64).select(
        "user_id", F.floor(F.col("value") * 1000).cast("long").alias("v_milli")
    )
    totals = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, total_milli bigint",
        stateStructType="n_events bigint, total_milli bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    name = f"itg_stateful_{os.getpid()}_{next(_counter)}"
    with _replay_partitions(spark):
        q = run_stream_to_memory(totals, name, output_mode="update")
        try:
            wave2.select(cols).repartition(1).write.mode("append").parquet(replay)
            q.processAllAvailable()
            out = (
                spark.table(name)
                .groupBy("user_id")
                .agg(
                    F.max("n_events").alias("n_events"),
                    F.max("total_milli").alias("total_milli"),
                )
                .collect()
            )
        finally:
            q.stop()
    return spark.createDataFrame(
        out, "user_id long, n_events long, total_milli long"
    )


@query(
    "streaming_static_enrich",
    oracle="""
    SELECT date_trunc('day', e.ts) AS day,
           n.n_name,
           count(*) AS n,
           CAST(sum(CAST(floor(e.value * 1000) AS BIGINT)) AS BIGINT) AS value_e3
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE e.event_type = 'purchase'
    GROUP BY 1, 2
    """,
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join under the oracle: replay purchases as a
    micro-batched stream, enrich each micro-batch against the STATIC
    customer→nation dimension, aggregate per (day, nation), and
    hash-compare against DuckDB joining the same tables in batch.

    The stream-static join is the canonical streaming-enrichment shape
    (events come in hot, dimensions sit in the warehouse): Spark plans
    the static side once per micro-batch with no state store — the
    dimension is broadcast, so the stream side never shuffles for the
    join, and only the windowed aggregation keeps state. Value sums
    are integer-scaled per row, so micro-batch accumulation order
    can't drift from DuckDB's batch sum.
    """
    replay = _scratch_dir(prefix="gotsdb_stream_enrich_")
    ev = load_table(spark, "events", sf_dir).where(F.col("event_type") == "purchase")
    ev.orderBy(F.hash("event_id")).repartition(8).write.mode("overwrite").parquet(
        replay
    )
    from gotsdb_spark.streaming import read_events_stream, run_stream_to_memory

    customer = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    dim = F.broadcast(
        customer.join(nation, customer.c_nationkey == nation.n_nationkey).select(
            "c_custkey", "n_name"
        )
    )
    stream = read_events_stream(spark, replay, 2)
    enriched = (
        stream.join(dim, stream.user_id == dim.c_custkey)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day").alias("w"), "n_name")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 1000).cast("long"))
            .cast("long")
            .alias("value_e3"),
        )
        .select(F.col("w.start").alias("day"), "n_name", "n", "value_e3")
    )
    name = f"itg_enrich_{os.getpid()}_{next(_counter)}"
    with _replay_partitions(spark):
        q = run_stream_to_memory(enriched, name, output_mode="complete")
        try:
            out = spark.table(name).collect()
        finally:
            q.stop()
    return spark.createDataFrame(
        out, "day timestamp, n_name string, n bigint, value_e3 bigint"
    )


@query(
    "streaming_interval_join_left_outer",
    oracle="""
    WITH p AS (
      SELECT event_id AS p_id, ts AS p_ts, user_id AS p_user
      FROM events
      WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-20'
    ), e AS (
      SELECT event_id AS e_id, ts AS e_ts, user_id AS e_user
      FROM events
      WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-20'
    )
    SELECT p.p_id, p.p_user, e.e_id
    FROM p LEFT JOIN e
      ON p.p_user = e.e_user
     AND e.e_ts >= p.p_ts - INTERVAL 1 HOUR
     AND e.e_ts <= p.p_ts
    """,
)
def streaming_interval_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join under the hash gate —
    the hard semantic the inner variant (streaming_interval_join)
    doesn't exercise: a purchase with NO same-user error in its
    preceding hour must emit exactly once with NULL error columns,
    and only when the error-side watermark PROVES no match can still
    arrive. Correct outer results from unbounded inputs is the whole
    point of the watermark machinery.

    Waves: (1) on-time purchases/errors replayed as two file-source
    streams — inner matches emit as they meet; (2) a far-future
    sentinel on BOTH sides advances both watermarks past every
    purchase window, expiring all buffered state; (3) a second nudge
    wave forces one more micro-batch, because null-emission happens
    in the batch AFTER the watermark moves. Sentinel rows are keyed
    user_id −1 and filtered from the result; the surviving set must
    equal DuckDB's batch LEFT JOIN over the on-time rows.
    """
    from gotsdb_spark.streaming.ingest import join_purchases_with_recent_errors

    ev = load_table(spark, "events", sf_dir)
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    cutoff = F.lit("2024-01-20").cast("timestamp")
    purchases = ev.where((F.col("event_type") == "purchase") & (F.col("ts") < cutoff))
    errors = ev.where((F.col("event_type") == "error") & (F.col("ts") < cutoff))

    def _sentinel(eid: int, ts: str):
        return spark.createDataFrame(
            [(eid, ts, -1, "sentinel", 0.0, None)],
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    p_dir = _scratch_dir(prefix="gotsdb_ssjo_p_")
    e_dir = _scratch_dir(prefix="gotsdb_ssjo_e_")
    purchases.select(cols).repartition(1).write.mode("append").parquet(p_dir)
    errors.select(cols).repartition(1).write.mode("append").parquet(e_dir)

    joined = join_purchases_with_recent_errors(
        read_events_stream(spark, p_dir, 64),
        read_events_stream(spark, e_dir, 64),
        horizon="1 hour",
        how="leftOuter",
    ).select("p_id", "p_user", "e_id")

    name = f"itg_ssjo_{os.getpid()}_{next(_counter)}"
    with _replay_partitions(spark, 4):
        q = run_stream_to_memory(joined, name, output_mode="append")
        try:
            for wave, ts in enumerate(
                ["2024-03-01 00:00:00", "2024-03-02 00:00:00"]
            ):
                s = _sentinel(20_000_000 + wave, ts)
                _append_sentinel_rows(p_dir, s)
                _append_sentinel_rows(e_dir, s)
                q.processAllAvailable()
            out = spark.table(name).where(F.col("p_user") >= 0).collect()
        finally:
            q.stop()
    return spark.createDataFrame(out, "p_id long, p_user long, e_id long")


_TWS_ORACLE = """
    SELECT user_id, count(*) AS n_events, max(value) AS max_value
    FROM events GROUP BY user_id
    """


def streaming_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's transformWithStateInPandas under the hash gate — the
    successor API to applyInPandasWithState (streaming_stateful_totals
    keeps covering the legacy one): typed state variables fetched from
    a StatefulProcessorHandle instead of one opaque tuple, an explicit
    processor lifecycle (init/handleInputRows/close), and native TTL
    support. Reuses the library processor
    (streaming/stateful.py:UserPeakProcessor, unit-tested for
    cross-batch convergence): per-user (n_events, max_value)
    accumulates in a ValueState across two replay waves; update-mode
    emissions are monotone (count grows, max is order-insensitive over
    doubles), so the final state recovered per user with max() must
    equal the batch aggregate. State is partitioned by user_id in the
    state store — each executor owns its key range, same 100 TB shape
    as every stateful operator here.
    """
    from gotsdb_spark.streaming.stateful import running_user_peaks

    ev = load_table(spark, "events", sf_dir)
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    wave1 = ev.where(F.col("ts") < F.lit("2024-01-15").cast("timestamp"))
    wave2 = ev.where(F.col("ts") >= F.lit("2024-01-15").cast("timestamp"))

    replay = _scratch_dir(prefix="gotsdb_tws_")
    wave1.select(cols).repartition(1).write.mode("append").parquet(replay)

    stats = running_user_peaks(read_events_stream(spark, replay, 64))

    name = f"itg_tws_{os.getpid()}_{next(_counter)}"
    with _replay_partitions(spark):
        q = run_stream_to_memory(stats, name, output_mode="update")
        try:
            wave2.select(cols).repartition(1).write.mode("append").parquet(replay)
            q.processAllAvailable()
            out = (
                spark.table(name)
                .groupBy("user_id")
                .agg(
                    F.max("n_events").alias("n_events"),
                    F.max("max_value").alias("max_value"),
                )
                .collect()
            )
        finally:
            q.stop()
    return spark.createDataFrame(
        out, "user_id long, n_events long, max_value double"
    )


def _register_transform_with_state() -> None:
    """Register the transformWithState query only where it can run.

    The TWS state protocol talks protobuf between the JVM and the
    Python stateful-processor workers
    (pyspark/sql/streaming/proto/StateMessage_pb2.py imports
    google.protobuf at query start); this container ships no protobuf,
    so registering unconditionally would guarantee a failing row. Same
    honest-gating pattern as the PIL codec fallback in
    operators/multimodal.py: the operator is real and oracled, and
    becomes live automatically on any cluster whose Python env has
    protobuf (every stock Spark 4 deployment).
    """
    GATED_QUERIES.add("streaming_transform_with_state")
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        return
    query("streaming_transform_with_state", oracle=_TWS_ORACLE)(
        streaming_transform_with_state
    )


_register_transform_with_state()


# ---------------------------------------------------------------------------
# Sliding top-k trending via foreachBatch — round 7.
# ---------------------------------------------------------------------------

_TOPK_TRENDING_ORACLE = """
    WITH hops AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ws, event_type
      FROM events
      UNION ALL
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR,
             event_type
      FROM events
    ), counts AS (
      SELECT ws, event_type, count(*) AS n FROM hops GROUP BY 1, 2
    )
    SELECT ws AS window_start, event_type, CAST(n AS BIGINT) AS n,
           CAST(row_number() OVER (
                  PARTITION BY ws ORDER BY n DESC, event_type)
                AS BIGINT) AS rnk
    FROM counts
    QUALIFY rnk <= 3
"""


@query("streaming_topk_trending", oracle=_TOPK_TRENDING_ORACLE)
def streaming_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window top-k trending via foreachBatch — the "what's hot
    right now" leaderboard: 2-hour windows hopping hourly, top 3 event
    types per window, maintained INCREMENTALLY across micro-batches.

    The stream aggregates per (sliding window, type) in UPDATE mode
    (each micro-batch emits only the windows it touched, with their
    new cumulative totals — no watermark, so totals are exact under
    the shuffled replay no matter how events split across batches);
    foreachBatch MERGEs those delta rows into a (window, type)-keyed
    parquet state table EXECUTOR-SIDE — delta-wins-else-base
    full-outer coalesce written to a versioned store path per batch
    (the warehouse_merge_upsert shape, and the same sink the AB
    dashboard uses) — exactly the MERGE INTO a Delta/Iceberg
    leaderboard table a production deployment runs per trigger. The
    only driver-held state is the current store PATH string, O(1):
    the (window x type) grain is calendar-bounded, but no grain
    justifies pulling batch rows onto the driver in a sink — this
    retires the repo's last driver-held foreachBatch store.

    Top-3 ranking happens at read time over the final store snapshot,
    partitioned by window — the leaderboard query, not the stream,
    pays the sort, and each partition is ≤ |event types| rows.

    The final leaderboard must hash-match DuckDB computing the same
    hop-exploded batch aggregation — cross-batch incremental
    maintenance provably converges to the batch answer.
    """
    from pyspark.sql.window import Window as W

    replay = _scratch_dir(prefix="gotsdb_stream_topk_")
    checkpoint = _scratch_dir(prefix="gotsdb_stream_topk_ckpt_")
    ev = load_table(spark, "events", sf_dir)
    ev.orderBy(F.hash("event_id")).repartition(6).write.mode("overwrite").parquet(
        replay
    )
    from gotsdb_spark.streaming import read_events_stream

    counts = (
        read_events_stream(spark, replay, 2)
        .groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    store_root = _scratch_dir(prefix="gotsdb_stream_topk_store_")
    state_path: list = [None]

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        target = os.path.join(store_root, f"v{batch_id}")
        delta = batch_df.select("ws", "event_type", "n")
        if state_path[0] is None:
            delta.write.mode("overwrite").parquet(target)
        else:
            cur = spark.read.parquet(state_path[0]).withColumnRenamed(
                "n", "cur_n"
            )
            merged = cur.join(
                delta.withColumnRenamed("n", "delta_n"),
                ["ws", "event_type"],
                "full_outer",
            ).select(
                "ws",
                "event_type",
                F.coalesce("delta_n", "cur_n").alias("n"),
            )
            merged.write.mode("overwrite").parquet(target)
        state_path[0] = target

    with _replay_partitions(spark):
        q = (
            counts.writeStream.foreachBatch(upsert)
            .option("checkpointLocation", checkpoint)
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    board = spark.read.parquet(state_path[0]).select(
        F.col("ws").alias("window_start"),
        "event_type",
        F.col("n").cast("bigint").alias("n"),
    )
    w_rank = W.partitionBy("window_start").orderBy(
        F.col("n").desc(), "event_type"
    )
    return (
        board.withColumn(
            "rnk", F.row_number().over(w_rank).cast("bigint")
        ).where(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# Live A/B experiment dashboard via foreachBatch upsert — round 8.
# ---------------------------------------------------------------------------


def _ab_ztest_oracle() -> str:
    from gotsdb_spark.operators.inference import AB_ZTEST_ORACLE

    return AB_ZTEST_ORACLE


@query("streaming_ab_conversion_live", oracle=_ab_ztest_oracle())
def streaming_ab_conversion_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE experiment readout: per-(user, day) purchase-conversion
    state maintained incrementally across micro-batches, with the
    two-proportion z^2 computed at read time over the maintained store
    — how an experimentation platform actually serves its dashboard
    (a state table updated per trigger + a cheap read-time aggregate),
    versus stats_ab_conversion_ztest's one-shot batch scan.

    The stream aggregates max(converted) per (user_id, day) in UPDATE
    mode with no watermark: each micro-batch emits only the user-days
    it touched, carrying their new cumulative flag, so a user-day can
    flip 0 -> 1 when its purchase arrives in a later batch than its
    first event — the upsert (per-batch MERGE into a keyed parquet
    state table; Delta/Iceberg MERGE INTO in production) must converge
    to the batch answer under the SHUFFLED replay, which is exactly
    what the hash gate proves: the output is hash-compared against the
    identical DuckDB batch oracle as the batch query (same SQL text,
    imported — both engines and both execution modes agree on every
    integer).

    Scale: streaming state and store are user-day-bounded (the
    randomization-unit grain), never event-bounded — and unlike the
    (window, type) leaderboard store, user-day grain GROWS with users
    x experiment duration, so NOTHING data-sized may pass through the
    driver. The foreachBatch sink therefore MERGEs each micro-batch's
    delta rows into a (user_id, day)-keyed parquet state table
    executor-side: delta-wins-else-base full-outer coalesce (the
    merge_upsert_segments / warehouse_merge_upsert shape,
    scale_ops.py:486), written to a versioned store path per batch —
    the only driver-side state is the current store PATH string, O(1)
    regardless of volume. The read-time z^2 then runs as a 4-cell
    aggregate over the final store snapshot — the same DECIMAL(38,0)
    cross-multiplied exact form as the batch query.
    """
    replay = _scratch_dir(prefix="gotsdb_stream_ab_")
    checkpoint = _scratch_dir(prefix="gotsdb_stream_ab_ckpt_")
    ev = load_table(spark, "events", sf_dir)
    ev.orderBy(F.hash("event_id")).repartition(6).write.mode(
        "overwrite"
    ).parquet(replay)
    from gotsdb_spark.streaming import read_events_stream

    units = (
        read_events_stream(spark, replay, 2)
        .groupBy("user_id", F.col("ts").cast("date").alias("d"))
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv")
        )
    )
    store_root = _scratch_dir(prefix="gotsdb_stream_ab_store_")
    # Executor-side keyed state table: the only driver-held state is
    # the current snapshot PATH (O(1)); every batch's rows stay on the
    # executors through the MERGE write — nothing data-sized ever
    # crosses to the driver.
    state_path: list = [None]

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        target = os.path.join(store_root, f"v{batch_id}")
        delta = batch_df.select("user_id", "d", "conv")
        if state_path[0] is None:
            delta.write.mode("overwrite").parquet(target)
        else:
            cur = spark.read.parquet(state_path[0]).withColumnRenamed(
                "conv", "cur_conv"
            )
            merged = cur.join(
                delta.withColumnRenamed("conv", "delta_conv"),
                ["user_id", "d"],
                "full_outer",
            ).select(
                "user_id",
                "d",
                F.coalesce("delta_conv", "cur_conv").alias("conv"),
            )
            merged.write.mode("overwrite").parquet(target)
        state_path[0] = target

    with _replay_partitions(spark):
        q = (
            units.writeStream.foreachBatch(upsert)
            .option("checkpointLocation", checkpoint)
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    board = spark.read.parquet(state_path[0]).select(
        (
            F.expr(
                "conv(substring(md5(CAST(user_id AS STRING)), 1, 4), 16, 10)"
            ).cast("bigint")
            % 2
        ).alias("arm"),
        "conv",
    )
    arms = board.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    )
    return arms.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.expr("CAST(conv_a * 1000000 DIV n_a AS BIGINT)").alias("p_a_e6"),
        F.expr("CAST(conv_b * 1000000 DIV n_b AS BIGINT)").alias("p_b_e6"),
        F.expr(
            "CAST(CAST(conv_a * n_b - conv_b * n_a AS DECIMAL(38,0))"
            " * (conv_a * n_b - conv_b * n_a) * (n_a + n_b) * 1000000"
            " DIV NULLIF(CAST(n_a AS DECIMAL(38,0)) * n_b"
            " * (conv_a + conv_b)"
            " * (n_a + n_b - conv_a - conv_b), 0) AS BIGINT)"
        ).alias("z2_e6"),
    )


# ---------------------------------------------------------------------------
# Session state-eviction audit (append-mode watermark waves) — round 12.
# ---------------------------------------------------------------------------

EVICTION_AUDIT_ORACLE = """
    WITH p AS (
      SELECT user_id, ts, event_id
      FROM events WHERE event_type = 'purchase'
    ), flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM p
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts, event_id,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM flagged
    ), sess AS (
      SELECT user_id,
             min(ts) AS s_start,
             max(ts) + INTERVAL 30 MINUTE AS s_end,
             CAST(count(*) AS BIGINT) AS n_ev
      FROM numbered GROUP BY user_id, session_id
    ), thresholds AS (
      SELECT max(CASE WHEN ts < TIMESTAMP '2024-01-15' THEN ts END)
               - INTERVAL 2 HOUR AS t1,
             max(ts) - INTERVAL 2 HOUR AS t2
      FROM p
    ), waved AS (
      SELECT CASE WHEN s.s_end < t.t1 THEN 1
                  WHEN s.s_end < t.t2 THEN 2
                  ELSE 3 END AS eviction_wave,
             s.user_id, s.n_ev,
             epoch_us(s.s_end) - epoch_us(s.s_start) AS dur_us
      FROM sess s CROSS JOIN thresholds t
    )
    SELECT eviction_wave,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(n_ev) AS BIGINT) AS total_events,
           CAST(max(dur_us) AS BIGINT) AS max_duration_us
    FROM waved
    GROUP BY eviction_wave
    ORDER BY eviction_wave
"""


@query("streaming_session_eviction_audit", oracle=EVICTION_AUDIT_ORACLE)
def streaming_session_eviction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-EVICTION audit of append-mode session windows: purchases
    replay in three deterministic waves (before Jan 15 / from Jan 15 /
    a far-future sentinel), each fully processed before the next is
    written, and the foreachBatch sink ledgers every emitted session
    with the micro-batch that EVICTED it from the state store — the
    observability piece streaming_session_windows doesn't give: not
    just WHAT sessions exist, but WHEN the watermark advance released
    each one (state-store residency is the #1 capacity question for a
    production stateful pipeline).

    Why this is oracle-expressible: each wave is one file and one
    micro-batch, so the watermark sequence is exact — after wave k it
    is max(event time through wave k) - 2h — and append-mode eviction
    fires in the first batch whose watermark passes a session's end.
    Wave boundaries therefore map to pure SQL thresholds: a session is
    evicted in wave 1 iff session_end < max(ts < Jan 15) - 2h, in
    wave 2 iff session_end < max(all ts) - 2h, else in the sentinel
    wave 3. Cross-wave user sessions cannot be split-evicted (a
    wave-1 partial session is evicted only if its end precedes
    max(wave1 ts) - 2h, and any wave-2 event is >= Jan 15, more than
    2h later — so no evicted session can gap-merge with later data),
    and no wave-2 event is ever late vs the wave-1 watermark. The
    emitted-session ledger under the SHUFFLED replay must then equal
    DuckDB's batch sessionization bucketed by those thresholds — the
    hash gate proves eviction released every session exactly once,
    into exactly the predicted watermark wave.

    Scale: the sink appends each micro-batch's emitted sessions to a
    parquet ledger executor-side (no data-sized driver state — the
    streaming_ab_conversion_live convention); the only driver-side
    collect is the DISTINCT BATCH-ID list, bounded by the wave count.
    Streaming state is user-session-bounded and the watermark evicts
    it; the audit itself is one groupBy over the session-grain ledger.

    Determinism: session bounds, event counts and microsecond
    durations are exact integers off exact timestamps; wave ids come
    from exact threshold comparisons (microsecond-granular fixture
    timestamps make threshold collisions impossible).
    """
    replay = _scratch_dir(prefix="gotsdb_stream_evict_")
    store = _scratch_dir(prefix="gotsdb_stream_evict_store_")
    checkpoint = _scratch_dir(prefix="gotsdb_stream_evict_ckpt_")
    ev = load_table(spark, "events", sf_dir).where(
        F.col("event_type") == "purchase"
    )
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    cut = F.lit("2024-01-15").cast("timestamp")
    wave1 = ev.where(F.col("ts") < cut)
    wave2 = ev.where(F.col("ts") >= cut)
    sentinel = spark.createDataFrame(
        [(-1, "2025-01-01 00:00:00", -1, "purchase", 0.0, None)],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    stream = session_window_values(
        read_events_stream(spark, replay, 64),
        gap="30 minutes",
        watermark="2 hours",
    )

    def ledger(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(store)

    wave1.select(cols).repartition(1).write.mode("append").parquet(replay)
    with _replay_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(ledger)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            wave2.select(cols).repartition(1).write.mode("append").parquet(
                replay
            )
            q.processAllAvailable()
            _append_sentinel_rows(replay, sentinel)
            q.processAllAvailable()
        finally:
            q.stop()
    evicted = spark.read.parquet(store)
    # Wave-count-bounded (3), never data-sized: the distinct batch ids.
    bids = sorted(
        r["batch_id"]
        for r in evicted.select("batch_id").distinct().collect()
    )
    if len(bids) != 3:
        raise RuntimeError(
            f"expected exactly 3 eviction waves, saw batch ids {bids}: "
            "the watermark replay did not advance as designed"
        )
    wave = (
        F.when(F.col("batch_id") == bids[0], 1)
        .when(F.col("batch_id") == bids[1], 2)
        .otherwise(3)
    )
    return (
        evicted.groupBy(wave.cast("int").alias("eviction_wave"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum("n_events").cast("long").alias("total_events"),
            F.max(
                F.unix_micros(F.col("session_end"))
                - F.unix_micros(F.col("session_start"))
            )
            .cast("long")
            .alias("max_duration_us"),
        )
        .orderBy("eviction_wave")
    )


# ---------------------------------------------------------------------------
# Checkpoint-restart exactly-once replay — round 13.
# ---------------------------------------------------------------------------

CHECKPOINT_RESTART_ORACLE = """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
             AS sum_v_milli
    FROM events
    WHERE event_type IN ('purchase', 'signup')
    GROUP BY 1, 2
"""


@query("streaming_checkpoint_restart_replay", oracle=CHECKPOINT_RESTART_ORACLE)
def streaming_checkpoint_restart_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exactly-once recovery across a query RESTART, under the hash
    gate: a watermarked tumbling-window aggregation writes to a parquet
    sink with a checkpoint, is STOPPED mid-timeline, and a brand-new
    query instance resumes from the same checkpoint — the final sink
    must equal DuckDB aggregating the full event set in batch. This
    promotes tests/test_streaming_recovery.py's state-store recovery
    contract into the driver's oracle gate: the restarted query must
    (a) skip every already-committed source file via the offset log,
    (b) restore the straddling windows' partial counts from the
    HDFS-backed state store (the epoch-1 watermark parks just behind
    the cutoff, so the cutoff hour's state is durable ONLY in the
    checkpoint), and (c) never re-expose epoch-1 output rows through
    the sink's transaction log.

    Replay layout: epoch 1 = purchases/signups before Jan 15 11:30
    (a cut that splits a live hour at EVERY fixture scale, pinned by
    tests/test_round13_ops.py), processed to quiescence, query
    stopped; epoch
    2 = a NEW query instance on the remaining timeline plus one
    far-future sentinel (3 days past max ts) whose watermark push
    closes and emits every real window while its own window never
    emits. Sums use exact e3 integers so the cross-epoch merge is
    hash-exact, not tolerance-compared.

    Scale: watermark bounds state at O(open windows x types) at any
    volume; the parquet sink + checkpoint pair is exactly the
    production deployment shape (a 1000-executor job restarts DAILY;
    this is the contract that makes that safe).

    Reference parity: the reference's recovery story is re-reading the
    cold dir on boot (cold.go:72); this is the streaming analog under
    [TARGET] semantics.
    """
    replay = _scratch_dir(prefix="gotsdb_ckpt_replay_")
    out = _scratch_dir(prefix="gotsdb_ckpt_out_")
    ckpt = _scratch_dir(prefix="gotsdb_ckpt_log_")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    ev = load_table(spark, "events", sf_dir).where(
        F.col("event_type").isin("purchase", "signup")
    )
    cutoff = F.lit("2024-01-15 11:30:00").cast("timestamp")
    wave1 = ev.where(F.col("ts") < cutoff)
    wave2 = ev.where(F.col("ts") >= cutoff)
    mx = ev.agg(F.max("ts").alias("mx")).collect()[0]["mx"]  # 1-row bound
    sentinel = (
        spark.createDataFrame(
            [(10**9, None, 0, "purchase", 0.0, "{}")],
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        )
        .withColumn("ts", F.lit(mx) + F.expr("INTERVAL 3 DAYS"))
    )

    def start():
        agg = (
            read_events_stream(spark, replay, 2)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum(F.floor(F.col("value") * 1000).cast("long"))
                .cast("long")
                .alias("sum_v_milli"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n",
                "sum_v_milli",
            )
        )
        return (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    with _replay_partitions(spark):
        # Epoch 1: first half of the timeline, then a planned stop.
        wave1.select(cols).repartition(2).write.mode("append").parquet(replay)
        q1 = start()
        q1.processAllAvailable()
        q1.stop()
        # Epoch 2: rest of the timeline + flush sentinel land while the
        # job is down; a NEW instance resumes from the same checkpoint
        # (epoch-1 files still in the source dir — offset log skips them).
        wave2.select(cols).repartition(2).write.mode("append").parquet(replay)
        _append_sentinel_rows(replay, sentinel)
        q2 = start()
        q2.processAllAvailable()
        q2.stop()

    return spark.read.schema(
        "window_start timestamp, event_type string,"
        " n bigint, sum_v_milli bigint"
    ).parquet(out)


# ---------------------------------------------------------------------------
# Streaming rate-limit audit — round 13.
# ---------------------------------------------------------------------------

_RATE_BUDGET_PER_MIN = 50

RATE_LIMIT_ORACLE = f"""
    WITH per_min AS (
      SELECT date_trunc('minute', ts) AS m, event_type,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), mx AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_minutes,
             CAST(max(n) AS BIGINT) AS max_per_min,
             CAST(sum(CASE WHEN n > {_RATE_BUDGET_PER_MIN}
                           THEN 1 ELSE 0 END) AS BIGINT)
               AS minutes_over_budget
      FROM per_min GROUP BY event_type
    )
    SELECT mx.event_type, mx.n_minutes, mx.max_per_min,
           mx.minutes_over_budget,
           min(p.m) AS peak_minute
    FROM mx JOIN per_min p
      ON p.event_type = mx.event_type AND p.n = mx.max_per_min
    GROUP BY 1, 2, 3, 4
    ORDER BY mx.event_type
"""


@query("streaming_rate_limit_audit", oracle=RATE_LIMIT_ORACLE)
def streaming_rate_limit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest backpressure audit off a REAL streaming replay: per-type
    per-minute arrival counts maintained by a watermarked 1-minute
    tumbling aggregation in append mode, then reduced at read time to
    the rate-limiter readout — observed peak events/minute, WHEN the
    peak happened, and how many minutes exceeded the
    {budget}/min budget. This is the measurement that sizes a
    production rate limiter / trigger interval (the backpressure twin
    of streaming_session_eviction_audit's state ledger), and the hash
    gate proves the streamed per-minute counters equal DuckDB's batch
    per-minute aggregation exactly.

    Replay layout: all events land first (shuffled files, 2 per
    trigger); a far-future sentinel (3 days past max ts) then pushes
    the 10-minute watermark beyond every real minute so append mode
    emits them all; the sentinel's own window never closes and never
    appears. Peak-minute ties resolve to the EARLIEST minute in both
    engines (min over the max-count minutes).

    Scale: streaming state and the emitted frame are bounded by
    calendar-minutes x types (43.2k minutes/month x handful of types)
    at ANY event volume — more events only bump counters; the
    read-time reduction is two dictionary-sized aggregates.

    Reference parity: the reference ingests via synchronous HTTP
    point-writes with no flow control (main.go:79); this is [TARGET]
    streaming machinery.
    """
    replay = _scratch_dir(prefix="gotsdb_stream_rate_")
    ev = load_table(spark, "events", sf_dir)
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    mx_ts = ev.agg(F.max("ts").alias("mx")).collect()[0]["mx"]  # 1-row bound
    sentinel = (
        spark.createDataFrame(
            [(10**9, None, 0, "sentinel", 0.0, "{}")],
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        )
        .withColumn("ts", F.lit(mx_ts) + F.expr("INTERVAL 3 DAYS"))
    )
    per_min = (
        read_events_stream(spark, replay, 2)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .agg(F.count("*").cast("long").alias("n"))
        .select(F.col("w.start").alias("m"), "event_type", "n")
    )
    name = f"itg_rate_{os.getpid()}_{next(_counter)}"
    ev.orderBy(F.hash("event_id")).select(cols).repartition(4).write.mode(
        "append"
    ).parquet(replay)
    with _replay_partitions(spark):
        q = run_stream_to_memory(per_min, name, output_mode="append")
        try:
            q.processAllAvailable()
            _append_sentinel_rows(replay, sentinel)
            q.processAllAvailable()
            out = spark.table(name).collect()
        finally:
            q.stop()
    emitted = spark.createDataFrame(
        out, "m timestamp, event_type string, n bigint"
    ).localCheckpoint(eager=False)
    mx = emitted.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_minutes"),
        F.max("n").cast("long").alias("max_per_min"),
        F.sum(
            F.when(F.col("n") > _RATE_BUDGET_PER_MIN, 1).otherwise(0)
        )
        .cast("long")
        .alias("minutes_over_budget"),
    )
    return (
        mx.join(
            emitted.withColumnRenamed("n", "max_per_min"),
            ["event_type", "max_per_min"],
        )
        .groupBy("event_type", "n_minutes", "max_per_min", "minutes_over_budget")
        .agg(F.min("m").alias("peak_minute"))
        .select(
            "event_type",
            "n_minutes",
            "max_per_min",
            "minutes_over_budget",
            "peak_minute",
        )
        .orderBy("event_type")
    )


streaming_rate_limit_audit.__doc__ = streaming_rate_limit_audit.__doc__.format(
    budget=_RATE_BUDGET_PER_MIN
)


# ---------------------------------------------------------------------------
# Streaming gap / outage detector — round 13.
# ---------------------------------------------------------------------------

GAP_AUDIT_ORACLE = """
    WITH per_min AS MATERIALIZED (
      SELECT date_trunc('minute', ts) AS m, event_type
      FROM events GROUP BY 1, 2
    ), gaps AS (
      SELECT event_type, m,
             CAST(datediff('minute', m,
                           lead(m) OVER (PARTITION BY event_type
                                         ORDER BY m)) AS BIGINT) AS gap
      FROM per_min
    ), mx AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_minutes_active,
             max(gap) AS max_gap_minutes
      FROM gaps GROUP BY event_type
    )
    SELECT mx.event_type, mx.n_minutes_active, mx.max_gap_minutes,
           min(g.m) AS gap_start_minute
    FROM mx JOIN gaps g
      ON g.event_type = mx.event_type AND g.gap = mx.max_gap_minutes
    GROUP BY 1, 2, 3
    ORDER BY mx.event_type
"""


@query("streaming_gap_outage_audit", oracle=GAP_AUDIT_ORACLE)
def streaming_gap_outage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest gap / outage detector off a REAL streaming replay: the
    same watermarked 1-minute tumbling aggregation as
    streaming_rate_limit_audit maintains per-type active-minute
    counters in append mode; at read time the longest silence per type
    is the max minute-difference between CONSECUTIVE active minutes,
    with WHEN it began (earliest tie) — the ingest-health twin of the
    rate-limit audit: that one reads the peak, this reads the longest
    quiet stretch, which is what pages an on-call when a producer
    stalls. Minute resolution is the honest streamable grain: state
    stays bounded by calendar-minutes x types at any volume (a
    raw-event lag chain would carry per-event state forever).

    Replay layout (shared convention): all events land first (shuffled
    files, 2 per trigger), a far-future sentinel pushes the 10-minute
    watermark past every real minute so append emits every window; the
    sentinel's own window never closes and never appears. The hash
    gate proves the streamed active-minute spine equals DuckDB's batch
    per-minute aggregation exactly; the gap chain itself is exact
    integer minute arithmetic on that spine in both engines.

    Scale: streaming state bounded by minutes x types; the read-time
    lag window is partitioned by type over the minute dictionary
    (~43.2k rows/month) — never row-count-sized.

    Reference parity: the reference ingests via synchronous HTTP
    point-writes and cannot see silence at all (main.go:79); this is
    [TARGET] streaming machinery.
    """
    from pyspark.sql.window import Window

    replay = _scratch_dir(prefix="gotsdb_stream_gap_")
    ev = load_table(spark, "events", sf_dir)
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    mx_ts = ev.agg(F.max("ts").alias("mx")).collect()[0]["mx"]  # 1-row bound
    sentinel = (
        spark.createDataFrame(
            [(10**9, None, 0, "sentinel", 0.0, "{}")],
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        )
        .withColumn("ts", F.lit(mx_ts) + F.expr("INTERVAL 3 DAYS"))
    )
    per_min = (
        read_events_stream(spark, replay, 2)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .agg(F.count("*").cast("long").alias("n"))
        .select(F.col("w.start").alias("m"), "event_type")
    )
    name = f"itg_gap_{os.getpid()}_{next(_counter)}"
    ev.orderBy(F.hash("event_id")).select(cols).repartition(4).write.mode(
        "append"
    ).parquet(replay)
    with _replay_partitions(spark):
        q = run_stream_to_memory(per_min, name, output_mode="append")
        try:
            q.processAllAvailable()
            _append_sentinel_rows(replay, sentinel)
            q.processAllAvailable()
            out = spark.table(name).collect()
        finally:
            q.stop()
    emitted = spark.createDataFrame(
        out, "m timestamp, event_type string"
    ).localCheckpoint(eager=False)
    gaps = emitted.select(
        "event_type",
        "m",
        (
            (
                F.unix_timestamp(
                    F.lead("m").over(
                        Window.partitionBy("event_type").orderBy("m")
                    )
                )
                - F.unix_timestamp("m")
            )
            / 60
        )
        .cast("bigint")
        .alias("gap"),
    ).localCheckpoint(eager=False)
    mx = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_minutes_active"),
        F.max("gap").alias("max_gap_minutes"),
    )
    return (
        mx.join(
            gaps.withColumnRenamed("gap", "max_gap_minutes"),
            ["event_type", "max_gap_minutes"],
        )
        .groupBy("event_type", "n_minutes_active", "max_gap_minutes")
        .agg(F.min("m").alias("gap_start_minute"))
        .select(
            "event_type",
            "n_minutes_active",
            "max_gap_minutes",
            "gap_start_minute",
        )
        .orderBy("event_type")
    )
