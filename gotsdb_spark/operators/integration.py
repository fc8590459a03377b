"""Integration queries: the KV engine and the streaming pipeline
exposed through the driver's oracle gate.

`kv_roundtrip_snapshot` runs the storage engine's
write→flush→promote→compact lifecycle. Each of the fourteen
`streaming_*` queries replays the events fixture through a real
file-source stream and compares what the stream emits with DuckDB
running a batch query over the same input: a stream's output equals a
batch query over the same prefix, hash-checked like every relational
operator.

All fourteen replays run on one driver, `_replay`. A query supplies its
stream, its waves of input and its sink; the driver stages each wave,
drains the query before the next wave lands, and stops it on every
path. `_replay_to_memory` and `_replay_upsert` wrap the two sinks the
replays share.
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.streaming import StreamingQuery

from gotsdb_spark.operators.registry import query
from gotsdb_spark.scratch import scratch_dir as _scratch_dir
from gotsdb_spark.sources.registry import load_table
from gotsdb_spark.storage.engine import Engine, write_parquet_atomic
from gotsdb_spark.streaming import (
    EVENT_SCHEMA,
    read_events_stream,
    session_window_values,
    windowed_event_counts,
)

_counter = itertools.count()
_EVENT_COLS = EVENT_SCHEMA.fieldNames()
_EVENT_ARROW = to_arrow_schema(EVENT_SCHEMA)
_DAY_US = 86_400_000_000

# One staged file: (replay dir, events DataFrame or sentinel rows, file
# count). A wave is the list of files staged before the next drain.
Wave = list[tuple[str, "DataFrame | list[tuple]", int]]


def _utc_us(ts: str) -> int:
    """Epoch microseconds of the UTC wall time ``ts`` (ISO format)."""
    t = dt.datetime.fromisoformat(ts).replace(tzinfo=dt.timezone.utc)
    return int(t.timestamp()) * 1_000_000


def _max_ts_us(events: DataFrame) -> int:
    """max(ts) in epoch microseconds: one 1-row aggregate."""
    return events.agg(F.max(F.unix_micros("ts"))).collect()[0][0]


def _append_sentinel_rows(path: str, rows: list[tuple]) -> None:
    """Append watermark-advance sentinel rows to a replay dir as one
    parquet file, written on the driver with pyarrow.

    ``rows`` are EVENT_SCHEMA tuples with ``ts`` as epoch microseconds.
    The file stores ``ts`` as timestamp("us", tz="UTC"), so no time-zone
    conversion enters, and the schema-pinned file-source stream reads it
    like any other wave. `write_parquet_atomic` renames the file into
    place, so a running stream never lists a partial file.
    """
    write_parquet_atomic(
        path,
        pa.Table.from_pylist(
            [dict(zip(_EVENT_COLS, r)) for r in rows], schema=_EVENT_ARROW
        ),
    )


def _stage(path: str, data: DataFrame | list[tuple], n_files: int) -> None:
    """Append one part of a wave to the replay dir ``path``: an events
    DataFrame as ``n_files`` parquet files of consecutive rows, or
    sentinel rows as one.

    A wave is collected with `toArrow` and written on the driver, which
    saves the repartition shuffle and the Spark write job of a
    `repartition(n).write`. Warm wall at sf0.1 on a 4-core host, three
    runs each, driver vs Spark write: 275-300 vs 453-475 ms for the
    20k purchases as 1 file, 290-433 vs 507-1,090 ms for 63k rows as 1
    file, 554-739 vs 803-1,292 ms for all 100k events as 6 files. A
    wave is at most the events fixture (100k rows at sf0.1).
    """
    if isinstance(data, list):
        _append_sentinel_rows(path, data)
        return
    table = data.select(_EVENT_COLS).toArrow()
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        write_parquet_atomic(path, table.slice(i * step, step))


def _replay(
    spark: SparkSession,
    start: Callable[[], StreamingQuery],
    waves: list[Wave],
    partitions: int = 8,
) -> None:
    """Drive one replay: stage ``waves[0]``, ``start()`` the query and
    drain it, then stage and drain each later wave. The query stops on
    every path.

    Each wave is fully processed before the next is written, so the
    micro-batch boundaries, and with them every watermark, are exact:
    the file counts of a wave and the stream's maxFilesPerTrigger fix
    them, and the oracles rely on that.

    spark.sql.shuffle.partitions is capped at ``partitions`` for the
    replay and restored afterwards. The partition count is the number
    of state stores per stateful operator, and every store commits once
    per micro-batch. These replays carry a few thousand rows per batch,
    so stores beyond a handful add commits, not parallelism. Summed wall
    of the 14 replays at sf0.01 on a 4-core host, two runs each, capped
    vs the session default: SPARK_GRAFT_CPUS=32 143.0/148.0 s vs
    203.0/203.2 s; =8 108.8/101.6 s vs 114.5/133.0 s; 4 cores (the cap
    is then the session default, 4) 83.0/84.8 s, vs 90.8/90.2 s when
    pinned up to 8. Stream-stream joins pass 4: a join opens 4 stores
    per partition per batch.
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(min(partitions, int(prev))))
    try:
        for staged in waves[0]:
            _stage(*staged)
        q = start()
        try:
            q.processAllAvailable()
            for wave in waves[1:]:
                for staged in wave:
                    _stage(*staged)
                q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _replay_to_memory(
    spark: SparkSession,
    stream: DataFrame,
    waves: list[Wave],
    schema: str,
    mode: str = "append",
    partitions: int = 8,
) -> DataFrame:
    """`_replay` into a memory sink; returns everything the stream
    emitted as a DataFrame of ``schema``."""
    name = f"itg_replay_{os.getpid()}_{next(_counter)}"
    _replay(
        spark,
        lambda: stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .start(),
        waves,
        partitions,
    )
    rows = spark.table(name).collect()
    spark.catalog.dropTempView(name)
    return spark.createDataFrame(rows, schema)


def _replay_upsert(
    spark: SparkSession,
    stream: DataFrame,
    waves: list[Wave],
    keys: list[str],
    value: str,
) -> DataFrame:
    """`_replay` of an update-mode ``stream`` into a ``keys``-keyed
    parquet store; returns the final store snapshot.

    The foreachBatch sink MERGEs each micro-batch's delta rows into the
    store executor-side: a delta-wins-else-base full-outer coalesce
    (the warehouse_merge_upsert shape, a Delta/Iceberg MERGE INTO in
    production), written to a versioned path per batch. The only
    driver-held state is the current store PATH string, O(1) at any
    volume; no batch row crosses to the driver.
    """
    store_root = _scratch_dir(prefix="gotsdb_stream_store_")
    state_path: list = [None]

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        target = os.path.join(store_root, f"v{batch_id}")
        delta = batch_df.select(*keys, value)
        if state_path[0] is None:
            delta.write.mode("overwrite").parquet(target)
        else:
            cur = spark.read.parquet(state_path[0]).withColumnRenamed(
                value, "cur_v"
            )
            merged = cur.join(
                delta.withColumnRenamed(value, "delta_v"), keys, "full_outer"
            ).select(*keys, F.coalesce("delta_v", "cur_v").alias(value))
            merged.write.mode("overwrite").parquet(target)
        state_path[0] = target

    checkpoint = _scratch_dir(prefix="gotsdb_stream_store_ckpt_")
    _replay(
        spark,
        lambda: stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start(),
        waves,
    )
    return spark.read.parquet(state_path[0])


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
    """Watermarked tumbling-window counts, complete mode, against
    DuckDB aggregating the same events in batch.

    Replay layout: 4 shuffled files at 2 per trigger = 2 micro-batches.
    Complete-mode aggregation only needs >1 batch to prove cross-batch
    state accumulation (watermark state-dropping is exercised by the
    append-mode queries); each extra micro-batch costs a full stateful
    plan execution, so the wave count stays minimal."""
    replay = _scratch_dir(prefix="gotsdb_stream_itg_")
    ev = load_table(spark, "events", sf_dir).where(
        F.col("event_type").isin("purchase", "signup")
    )
    return _replay_to_memory(
        spark,
        windowed_event_counts(read_events_stream(spark, replay, 2), watermark="1 hour"),
        [[(replay, ev.orderBy(F.hash("event_id")), 4)]],
        "window_start timestamp, event_type string, n bigint, sum_value double",
        mode="complete",
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
    sentinel = [(-1, _utc_us("2025-01-01"), -1, "purchase", 0.0, None)]
    return _replay_to_memory(
        spark,
        session_window_values(
            read_events_stream(spark, replay, 64), gap="30 minutes", watermark="2 hours"
        ),
        [[(replay, ev, 1)], [(replay, sentinel, 1)]],
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

    Three waves:

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
    sentinel = [(0, _utc_us("2024-03-01"), 0, "sentinel", 0.0, None)]
    return _replay_to_memory(
        spark,
        windowed_event_counts(
            read_events_stream(spark, replay, 64), window="1 hour", watermark="1 hour"
        ),
        [[(replay, on_time, 1)], [(replay, late, 1)], [(replay, sentinel, 1)]],
        "window_start timestamp, event_type string, n bigint, sum_value double",
    )


def _purchases_and_errors(spark: SparkSession, sf_dir: str):
    """The on-time (before Jan 20) purchases and errors both interval
    joins replay."""
    ev = load_table(spark, "events", sf_dir)
    on_time = F.col("ts") < F.lit("2024-01-20").cast("timestamp")
    return (
        ev.where((F.col("event_type") == "purchase") & on_time),
        ev.where((F.col("event_type") == "error") & on_time),
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

    Two waves per side:

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

    purchases, errors = _purchases_and_errors(spark, sf_dir)
    late_cut = F.lit("2024-01-05").cast("timestamp")
    late_p, late_e = (
        df.where(F.col("ts") < late_cut).withColumn(
            "event_id", F.col("event_id") + 10_000_000
        )
        for df in (purchases, errors)
    )
    p_dir = _scratch_dir(prefix="gotsdb_ssj_p_")
    e_dir = _scratch_dir(prefix="gotsdb_ssj_e_")
    joined = join_purchases_with_recent_errors(
        read_events_stream(spark, p_dir, 64),
        read_events_stream(spark, e_dir, 64),
        horizon="1 hour",
    ).select("p_id", "p_user", "e_id")
    return _replay_to_memory(
        spark,
        joined,
        [
            [(p_dir, purchases, 1), (e_dir, errors, 1)],
            [(p_dir, late_p, 1), (e_dir, late_e, 1)],
        ],
        "p_id long, p_user long, e_id long",
        partitions=4,
    )


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
    on_time = ev.where(F.col("ts") < F.lit("2024-01-20").cast("timestamp"))
    replay = _scratch_dir(prefix="gotsdb_dedup_stream_")
    deduped = dedup_events(
        read_events_stream(spark, replay, 64), watermark="30 days"
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * 1000).cast("long").alias("v_milli"),
    )
    return _replay_to_memory(
        spark,
        deduped,
        [[(replay, on_time, 1)], [(replay, on_time, 1)]],
        "event_id long, user_id long, event_type string, v_milli long",
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
    cut = F.lit("2024-01-15").cast("timestamp")
    replay = _scratch_dir(prefix="gotsdb_stateful_")
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
    emitted = _replay_to_memory(
        spark,
        totals,
        [
            [(replay, ev.where(F.col("ts") < cut), 1)],
            [(replay, ev.where(F.col("ts") >= cut), 1)],
        ],
        "user_id long, n_events long, total_milli long",
        mode="update",
    )
    return emitted.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("total_milli").alias("total_milli"),
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
    return _replay_to_memory(
        spark,
        enriched,
        [[(replay, ev.orderBy(F.hash("event_id")), 8)]],
        "day timestamp, n_name string, n bigint, value_e3 bigint",
        mode="complete",
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

    purchases, errors = _purchases_and_errors(spark, sf_dir)
    p_dir = _scratch_dir(prefix="gotsdb_ssjo_p_")
    e_dir = _scratch_dir(prefix="gotsdb_ssjo_e_")
    joined = join_purchases_with_recent_errors(
        read_events_stream(spark, p_dir, 64),
        read_events_stream(spark, e_dir, 64),
        horizon="1 hour",
        how="leftOuter",
    ).select("p_id", "p_user", "e_id")
    waves = [[(p_dir, purchases, 1), (e_dir, errors, 1)]]
    for k, day in enumerate(["2024-03-01", "2024-03-02"]):
        sentinel = [(20_000_000 + k, _utc_us(day), -1, "sentinel", 0.0, None)]
        waves.append([(p_dir, sentinel, 1), (e_dir, sentinel, 1)])
    return _replay_to_memory(
        spark, joined, waves, "p_id long, p_user long, e_id long", partitions=4
    ).where(F.col("p_user") >= 0)


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
    `_replay_upsert` MERGEs those delta rows into a (window,
    type)-keyed parquet store executor-side — the MERGE INTO a
    Delta/Iceberg leaderboard table a production deployment runs per
    trigger.

    Top-3 ranking happens at read time over the final store snapshot,
    partitioned by window — the leaderboard query, not the stream,
    pays the sort, and each partition is ≤ |event types| rows.

    The final leaderboard must hash-match DuckDB computing the same
    hop-exploded batch aggregation — cross-batch incremental
    maintenance provably converges to the batch answer.
    """
    from pyspark.sql.window import Window as W

    replay = _scratch_dir(prefix="gotsdb_stream_topk_")
    ev = load_table(spark, "events", sf_dir)
    counts = (
        read_events_stream(spark, replay, 2)
        .groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    board = _replay_upsert(
        spark,
        counts,
        [[(replay, ev.orderBy(F.hash("event_id")), 6)]],
        ["ws", "event_type"],
        "n",
    ).select(
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
    first event — the upsert must converge to the batch answer under
    the SHUFFLED replay, which is exactly what the hash gate proves:
    the output is hash-compared against the identical DuckDB batch
    oracle as the batch query (same SQL text, imported — both engines
    and both execution modes agree on every integer).

    Scale: streaming state and store are user-day-bounded (the
    randomization-unit grain), never event-bounded, but the user-day
    grain GROWS with users x experiment duration, so nothing
    data-sized may pass through the driver: `_replay_upsert` keeps the
    store executor-side. The read-time z^2 then runs as a 4-cell
    aggregate over the final store snapshot — the same DECIMAL(38,0)
    cross-multiplied exact form as the batch query.
    """
    replay = _scratch_dir(prefix="gotsdb_stream_ab_")
    ev = load_table(spark, "events", sf_dir)
    units = (
        read_events_stream(spark, replay, 2)
        .groupBy("user_id", F.col("ts").cast("date").alias("d"))
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv")
        )
    )
    board = _replay_upsert(
        spark,
        units,
        [[(replay, ev.orderBy(F.hash("event_id")), 6)]],
        ["user_id", "d"],
        "conv",
    ).select(
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
    replay in three waves (before Jan 15 / from Jan 15 / a far-future
    sentinel), and the foreachBatch sink ledgers every emitted session
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
    parquet ledger executor-side (no data-sized driver state); the
    only driver-side collect is the DISTINCT BATCH-ID list, bounded by
    the wave count. Streaming state is user-session-bounded and the
    watermark evicts it; the audit itself is one groupBy over the
    session-grain ledger.

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
    cut = F.lit("2024-01-15").cast("timestamp")
    sentinel = [(-1, _utc_us("2025-01-01"), -1, "purchase", 0.0, None)]
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

    _replay(
        spark,
        lambda: stream.writeStream.foreachBatch(ledger)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start(),
        [
            [(replay, ev.where(F.col("ts") < cut), 1)],
            [(replay, ev.where(F.col("ts") >= cut), 1)],
            [(replay, sentinel, 1)],
        ],
    )
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
    must equal DuckDB aggregating the full event set in batch. The
    restarted query must (a) skip every already-committed source file
    via the offset log, (b) restore the straddling windows' partial
    counts from the state store (the epoch-1 watermark parks just
    behind the cutoff, so the cutoff hour's state is durable ONLY in
    the checkpoint), and (c) never re-expose epoch-1 output rows
    through the sink's transaction log.

    Replay layout: epoch 1 = purchases/signups before Jan 15 11:30 (a
    cut that splits a live hour at every fixture scale), processed to
    quiescence, query stopped; epoch 2 = a NEW query instance on the
    remaining timeline plus one far-future sentinel (3 days past max
    ts) whose watermark push closes and emits every real window while
    its own window never emits. Sums use exact e3 integers so the
    cross-epoch merge is hash-exact, not tolerance-compared.

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
    ev = load_table(spark, "events", sf_dir).where(
        F.col("event_type").isin("purchase", "signup")
    )
    cutoff = F.lit("2024-01-15 11:30:00").cast("timestamp")
    sentinel = [(10**9, _max_ts_us(ev) + 3 * _DAY_US, 0, "purchase", 0.0, "{}")]

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

    # Epoch 1: first half of the timeline, then a planned stop.
    _replay(spark, start, [[(replay, ev.where(F.col("ts") < cutoff), 2)]])
    # Epoch 2: the rest of the timeline and the flush sentinel land
    # while the job is down; a NEW instance resumes from the same
    # checkpoint (epoch-1 files stay in the source dir; the offset log
    # skips them).
    _replay(
        spark,
        start,
        [[(replay, ev.where(F.col("ts") >= cutoff), 2), (replay, sentinel, 1)]],
    )
    return spark.read.schema(
        "window_start timestamp, event_type string,"
        " n bigint, sum_v_milli bigint"
    ).parquet(out)


def _per_minute_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(minute, event_type) event counts, as emitted by a real
    replay: a watermarked 1-minute tumbling aggregation in append mode.

    All events land first (4 shuffled files, 2 per trigger); a
    far-future sentinel (3 days past max ts) then pushes the 10-minute
    watermark beyond every real minute, so append mode emits them all.
    The sentinel's own window never closes and never appears. State
    and output are bounded by calendar-minutes x types at any event
    volume.
    """
    replay = _scratch_dir(prefix="gotsdb_stream_minute_")
    ev = load_table(spark, "events", sf_dir)
    sentinel = [(10**9, _max_ts_us(ev) + 3 * _DAY_US, 0, "sentinel", 0.0, "{}")]
    per_min = (
        read_events_stream(spark, replay, 2)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .agg(F.count("*").cast("long").alias("n"))
        .select(F.col("w.start").alias("m"), "event_type", "n")
    )
    return _replay_to_memory(
        spark,
        per_min,
        [[(replay, ev.orderBy(F.hash("event_id")), 4)], [(replay, sentinel, 1)]],
        "m timestamp, event_type string, n bigint",
    ).localCheckpoint(eager=False)


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
    """Ingest backpressure audit off a REAL streaming replay: the
    per-type per-minute arrival counts of `_per_minute_counts`, reduced
    at read time to the rate-limiter readout — observed peak
    events/minute, WHEN the peak happened, and how many minutes
    exceeded the {budget}/min budget. This is the measurement that
    sizes a production rate limiter / trigger interval (the
    backpressure twin of streaming_session_eviction_audit's state
    ledger), and the hash gate proves the streamed per-minute counters
    equal DuckDB's batch per-minute aggregation exactly. Peak-minute
    ties resolve to the EARLIEST minute in both engines (min over the
    max-count minutes); the read-time reduction is two
    dictionary-sized aggregates.

    Reference parity: the reference ingests via synchronous HTTP
    point-writes with no flow control (main.go:79); this is [TARGET]
    streaming machinery.
    """
    emitted = _per_minute_counts(spark, sf_dir)
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
    active minutes per type from `_per_minute_counts` (the same stream
    as streaming_rate_limit_audit); at read time the longest silence
    per type is the max minute-difference between CONSECUTIVE active
    minutes, with WHEN it began (earliest tie) — the ingest-health twin
    of the rate-limit audit: that one reads the peak, this reads the
    longest quiet stretch, which is what pages an on-call when a
    producer stalls. Minute resolution is the honest streamable grain:
    state stays bounded by calendar-minutes x types at any volume (a
    raw-event lag chain would carry per-event state forever). The gap
    chain is exact integer minute arithmetic in both engines; the
    read-time lag window is partitioned by type over the minute
    dictionary (~43.2k rows/month) — never row-count-sized.

    Reference parity: the reference ingests via synchronous HTTP
    point-writes and cannot see silence at all (main.go:79); this is
    [TARGET] streaming machinery.
    """
    from pyspark.sql.window import Window

    emitted = _per_minute_counts(spark, sf_dir)
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
