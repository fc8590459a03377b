"""Structured Streaming ingest for the `events` stream (SURVEY.md §2.3).

The reference's write path is a synchronous HTTP point-write into a hot
map (main.go:79-104 → engine.go:175-185). Here ingestion is Spark
Structured Streaming: a file (or any) source → event-time watermark →
windowed/stateful operators → foreachBatch sinks. Each transformation is
a plain DataFrame→DataFrame function, so the SAME code runs in batch
mode — the batch↔stream equivalence tests in tests/test_streaming.py
rely on exactly that.

Scale notes:
- Watermarks bound state: the windowed aggregations keep only windows
  newer than (max event time − delay); at 100 TB/day this is the only
  viable stateful design (state is O(open windows × groups), not O(events)).
- A replayed epoch re-runs its foreachBatch sink. The KV-log sink
  writes a driver-sized epoch as one file named by its checkpoint and
  epoch, so the replay replaces that file; a Spark-written epoch is
  appended again and stays correct only because the engine's fold is
  idempotent (see stream_into_collection_log).
"""

from __future__ import annotations

import hashlib
import os

import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gotsdb_spark.storage.engine import _COMPACT_ROW_GROUP_BYTES, write_segment

# Post-conversion event schema (ts already a µs timestamp — streaming
# replays read data re-written by gotsdb_spark, not the raw ns fixture).
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream over a directory of event parquet files.

    maxFilesPerTrigger paces replay so watermark advancement across
    micro-batches is actually exercised (one big batch would hide all
    late-data behavior). In production the source would be Kafka; only
    this constructor changes.
    """
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window counts/sums per event_type with a watermark.

    Pure transform: works on a batch DataFrame (watermark is a no-op in
    batch) and a streaming one — the equivalence test compares the two.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_window_values(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows (gap-based), the streaming twin of the
    batch lag+cumsum sessionization in operators.timeseries."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("session_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def dedup_events(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exactly-once event ingestion: drop duplicate event_ids within the
    watermark horizon (state is bounded by the watermark — the 100 TB
    requirement for streaming dedup)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def _fits_driver(df: DataFrame) -> bool:
    """Spark's own test for a relation small enough to collect to the
    driver: the optimized plan's size estimate is at most a positive
    ``spark.sql.autoBroadcastJoinThreshold``. Starts no job; a source
    without file statistics estimates huge and does not fit."""
    limit = df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if limit <= 0:
        return False
    return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() <= limit


def stream_into_collection_log(
    events: DataFrame,
    log_path: str,
    checkpoint: str,
    key_col: str = "event_id",
    value_col: str = "props",
):
    """Micro-batch upsert into a KV collection log (the streaming analog
    of the reference's HTTP write path, engine.go:175-185).

    foreachBatch writes (key, value, write_ts, seq=epoch) rows to the
    same Parquet log format storage.Engine compacts — so a collection
    can be fed by a stream and read through the KV API. A micro-batch
    that fits the driver (`_fits_driver`) is collected with ``toArrow``
    and written on the driver as one key-sorted segment (`write_segment`)
    named ``part-<checkpoint hash>-e<epoch>.snappy.parquet``; a larger
    one is a Spark append of key-sorted files in
    ``_COMPACT_ROW_GROUP_BYTES`` row groups. Either way `_probe_log` can
    prune the files by key.

    A replayed epoch (a failure between the sink write and the checkpoint
    commit) re-runs the sink. A driver-written epoch then replaces its
    own file, so the log holds each row once; the checkpoint hash keeps
    two streams writing into one log apart. A Spark-written epoch is
    appended a second time, and a driver-written file that an Engine
    merge or compaction has already folded is written again beside the
    fold: there only the engine's fold is idempotent, because the copies
    carry the same ``seq`` (the epoch id) and ``write_ts``, so the
    latest-per-key rule picks an identical row whichever copy it keeps.

    ``write_ts`` is the event time, while a KV-API flush writes the wall
    clock, so a streamed row loses to a later ``write_key`` + flush of
    its key unless its event time is later than that flush.
    """
    tag = hashlib.sha1(os.path.abspath(checkpoint).encode()).hexdigest()[:16]

    def sink(batch: DataFrame, epoch_id: int) -> None:
        rows = batch.select(
            F.col(key_col).cast("string").alias("key"),
            F.col(value_col).cast("string").alias("value"),
            F.col("ts").alias("write_ts"),
            F.lit(epoch_id).cast("long").alias("seq"),
        )
        if not _fits_driver(rows):
            (
                rows.sortWithinPartitions("key")
                .write.mode("append")
                .option("parquet.block.size", _COMPACT_ROW_GROUP_BYTES)
                .parquet(log_path)
            )
            return
        t = rows.toArrow()
        if t.num_rows:
            os.makedirs(log_path, exist_ok=True)
            write_segment(
                log_path,
                t.take(pc.sort_indices(t, [("key", "ascending")])),
                name=f"part-{tag}-e{epoch_id:012d}.snappy.parquet",
            )

    return (
        events.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )


def run_stream_to_memory(
    transformed: DataFrame, name: str, output_mode: str = "append"
):
    """Drive a streaming DataFrame to completion into an in-memory table
    (test harness: processAllAvailable makes the run synchronous)."""
    q = (
        transformed.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    q.processAllAvailable()
    return q


def join_purchases_with_recent_errors(
    purchases: DataFrame,
    errors: DataFrame,
    horizon: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each purchase ⋈ errors by the same
    user within the preceding `horizon`.

    Both sides carry watermarks so Spark can bound the join state: a
    buffered error row is dropped once the purchase-side watermark
    passes its ts + horizon. Without the time bound, stream-stream join
    state grows forever — the interval condition is what makes this
    viable at 100 TB/day.

    how="leftOuter" adds the hard semantic: a purchase with NO error in
    its window emits exactly once, with NULL error columns, and only
    when the watermark proves no matching error can still arrive —
    correct outer results from unbounded inputs is what the watermark
    machinery exists for.
    """
    p = purchases.select(
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
        F.col("user_id").alias("p_user"),
        F.col("value").alias("p_value"),
    ).withWatermark("p_ts", horizon)
    e = errors.select(
        F.col("event_id").alias("e_id"),
        F.col("ts").alias("e_ts"),
        F.col("user_id").alias("e_user"),
    ).withWatermark("e_ts", horizon)
    return p.join(
        e,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {horizon}"))
        & (F.col("e_ts") <= F.col("p_ts")),
        how,
    )
