"""Time-series operators: tumbling/sliding/session windows, gap-fill,
as-of join (SURVEY.md §2.3).

The reference is "a (soon to be timeseries) database" (reference
README.md:3) with no time support at all (SURVEY.md §1.1 — nothing models
time). This module supplies the TSDB surface it was heading toward.

Scale notes:
- All windowing uses event-time bucketing expressions (date_trunc /
  F.window) that are pure row-local functions → no shuffle until the
  aggregation itself, which is partial-aggregated map-side.
- The as-of join avoids pairwise range explosion by using the
  union+window trick: O(n log n) per key instead of O(n·m).
- Gap-fill generates the calendar spine with sequence()+explode —
  distributed, never a driver-side loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from gotsdb_spark.operators.registry import query
from gotsdb_spark.sources.registry import load_table


@query(
    "ts_hourly_event_stats",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour,
           event_type,
           count(*)   AS n,
           sum(value) AS sum_value,
           avg(value) AS avg_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events
    GROUP BY 1, 2
    """,
)
def ts_hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour aggregation via date_trunc (row-local bucketing)."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("sum_value"),
            F.avg("value").alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


@query(
    "ts_sliding_window_revenue",
    oracle="""
    -- A 1h window sliding by 15m: each event belongs to exactly 4 windows
    -- whose starts are floor(epoch/900)*900 - j*900, j in 0..3.
    SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 - j * 900)
               AT TIME ZONE 'UTC' AS TIMESTAMP) AS window_start,
           count(*)   AS n,
           sum(value) AS sum_value
    FROM events, unnest([0, 1, 2, 3]) AS t(j)
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def ts_sliding_window_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 hour, slide 15 min) over purchase events.

    F.window() is the native Spark primitive — it expands each row into
    its (window_len / slide) buckets before the partial aggregation, the
    same shape the oracle reproduces with unnest.
    """
    ev = load_table(spark, "events", sf_dir).where(F.col("event_type") == "purchase")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "n",
            "sum_value",
        )
    )


@query(
    "ts_sessionize_users",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, value,
             CAST(sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           count(*)   AS n_events,
           min(ts)    AS session_start,
           max(ts)    AS session_end,
           sum(value) AS session_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def ts_sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: 30-minute inactivity gap splits sessions.

    The lag+cumsum idiom — one shuffle on user_id, two window passes,
    then a partial-aggregated groupBy. (Streaming uses session_window,
    see gotsdb_spark.streaming.)
    """
    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.col("ts").cast("double") - F.lag(F.col("ts")).over(w).cast("double")
            > 1800.0,
            1,
        )
        .when(F.lag("ts").over(w).isNull(), 1)
        .otherwise(0),
    )
    wc = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(wc))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.sum("value").alias("session_value"),
    )


@query(
    "ts_gap_fill_daily",
    oracle="""
    WITH bounds AS (
      SELECT min(date_trunc('day', ts)) AS lo, max(date_trunc('day', ts)) AS hi
      FROM events
    ), spine AS (
      SELECT et.event_type, CAST(g.d AS TIMESTAMP) AS day
      FROM (SELECT DISTINCT event_type FROM events) et,
           bounds, unnest(generate_series(bounds.lo, bounds.hi, INTERVAL 1 DAY)) AS g(d)
    ), daily AS (
      SELECT event_type, date_trunc('day', ts) AS day, sum(value) AS day_value
      FROM events GROUP BY 1, 2
    )
    SELECT s.event_type, s.day,
           coalesce(d.day_value, 0.0) AS day_value,
           d.day_value IS NULL AS was_gap
    FROM spine s LEFT JOIN daily d
      ON s.event_type = d.event_type AND s.day = d.day
    """,
)
def ts_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill / resample: dense daily spine per event_type, zero-filled.

    The spine is sequence()+explode over the global [min,max] day range —
    generated distributed, broadcast-joined back (tiny vs the fact side).
    ONE events pass builds the per-(type, day) aggregate (checkpointed);
    the day bounds and the type domain both derive from it —
    min/max over truncated days equals the truncated global min/max ts,
    so no separate bounds scan is needed (round-10 scan-audit fix).
    """
    ev = load_table(spark, "events", sf_dir)
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.sum("value").alias("day_value"))
        .localCheckpoint(eager=False)
    )
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = (
        daily.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day"),
        )
    )
    return (
        spine.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("day_value", F.lit(0.0)).alias("day_value"),
            F.col("day_value").isNull().alias("was_gap"),
        )
    )


@query(
    "ts_locf_fill",
    oracle="""
    WITH bounds AS (
      SELECT min(date_trunc('day', ts)) AS lo, max(date_trunc('day', ts)) AS hi
      FROM events WHERE event_type = 'purchase'
    ), spine AS (
      SELECT CAST(d AS TIMESTAMP) AS day
      FROM bounds, unnest(generate_series(bounds.lo, bounds.hi, INTERVAL 1 DAY)) AS g(d)
    ), daily AS (
      SELECT date_trunc('day', ts) AS day, avg(value) AS day_avg
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT day,
           last_value(day_avg IGNORE NULLS) OVER (
             ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_avg
    FROM spine LEFT JOIN daily USING (day)
    """,
)
def ts_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF (last-observation-carried-forward) fill over a daily spine.

    F.last(ignorenulls=True) over an unbounded-preceding frame is the
    TSDB 'fill previous' idiom. Single unpartitioned window is fine here
    because the spine is one row per day (tiny even for decades); per-key
    variants partition by the series key.
    """
    ev = load_table(spark, "events", sf_dir).where(F.col("event_type") == "purchase")
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("lo"),
        F.date_trunc("day", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.avg("value").alias("day_avg")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        spine.join(daily, ["day"], "left")
        .select("day", F.last("day_avg", ignorenulls=True).over(w).alias("filled_avg"))
    )


@query(
    "ts_asof_join_last_error",
    oracle="""
    SELECT p.event_id, p.ts, p.user_id, p.value, e.ts AS last_error_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON p.user_id = e.user_id AND p.ts >= e.ts
    """,
)
def ts_asof_join_last_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase ↔ the most recent error for that user.

    Spark lacks a native ASOF JOIN; the scalable idiom is union+window:
    tag both sides, union, sort within user_id by ts, and carry the last
    right-side timestamp forward. O(n log n) per key, one shuffle — never
    the O(n·m) pairwise range join. Both "sides" come from the same
    table here, so the union is expressed as ONE scan with an
    In-pushdown filter and conditional columns, not two scans of
    events.
    """
    ev = load_table(spark, "events", sf_dir)
    is_left = (F.col("event_type") == "purchase").cast("int")
    # Right rows sort before left rows at equal ts (is_left ASC) so an
    # error at exactly p.ts is visible to the purchase (>= semantics).
    unioned = ev.where(F.col("event_type").isin("purchase", "error")).select(
        F.when(is_left == 1, F.col("event_id")).alias("event_id"),
        "ts",
        "user_id",
        F.when(is_left == 1, F.col("value")).alias("value"),
        is_left.alias("is_left"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "is_left")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = unioned.withColumn(
        "last_error_ts",
        F.last(F.when(F.col("is_left") == 0, F.col("ts")), ignorenulls=True).over(w),
    )
    return carried.where(F.col("is_left") == 1).select(
        "event_id", "ts", "user_id", "value", "last_error_ts"
    )


@query(
    "ts_moving_average",
    oracle="""
    SELECT user_id, event_id, ts, value,
           avg(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW
           ) AS ma10
    FROM events
    """,
)
def ts_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-row trailing moving average per user (ROWS frame)."""
    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-9, W.currentRow)
    return ev.select(
        "user_id", "event_id", "ts", "value", F.avg("value").over(w).alias("ma10")
    )


@query(
    "ts_range_join_event_order_day",
    oracle="""
    SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate
    FROM events e
    JOIN orders o
      ON e.user_id = o.o_custkey
     AND o.o_orderdate >= ts - INTERVAL 10000 DAY
     AND o.o_orderdate <  ts
    """,
)
def ts_range_join_event_order_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join: orders within a trailing window of each event.

    The equi-part (user_id = o_custkey) keys the shuffle; the range
    predicate is applied post-join. At 100 TB you'd additionally bucket
    both sides by the time range to bound the per-key fan-out.
    """
    ev = load_table(spark, "events", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    return (
        ev.join(
            orders,
            (ev.user_id == orders.o_custkey)
            & (orders.o_orderdate >= F.col("ts") - F.expr("INTERVAL 10000 DAY"))
            & (orders.o_orderdate < F.col("ts")),
        )
        .select("event_id", "user_id", "o_orderkey", "o_orderdate")
    )


@query(
    "ts_time_weighted_avg",
    oracle="""
    WITH pts AS (
      SELECT user_id, ts, value,
             lead(ts)  OVER w AS next_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           sum(value * (epoch(next_ts) - epoch(ts)))
             / NULLIF(sum(epoch(next_ts) - epoch(ts)), 0) AS twa
    FROM pts
    WHERE next_ts IS NOT NULL
    GROUP BY user_id
    """,
)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user over irregular samples.

    Each sample is weighted by how long it was 'current' (until the next
    sample) — the TSDB aggregate that a plain avg() gets wrong on
    irregular data. lead() + one grouped sum; a single shuffle on the
    series key.
    """
    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pts = ev.select(
        "user_id",
        "value",
        F.col("ts").cast("double").alias("t"),
        F.lead(F.col("ts").cast("double")).over(w).alias("next_t"),
    ).where(F.col("next_t").isNotNull())
    dur = F.col("next_t") - F.col("t")
    # NULLIF guards the degenerate all-samples-at-one-instant user:
    # sum(dur) = 0 would raise ANSI divide-by-zero and kill the whole
    # query (one pathological series must not fail a 100 TB job); the
    # oracle mirrors with NULLIF so both engines report NULL.
    return pts.groupBy("user_id").agg(
        (
            F.sum(F.col("value") * dur) / F.nullif(F.sum(dur), F.lit(0.0))
        ).alias("twa")
    )


@query(
    "ts_linear_interpolate",
    oracle="""
    WITH samples AS (
      SELECT ts, value, event_id FROM events WHERE event_type = 'purchase'
    ), bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM samples
    ), grid AS (
      SELECT CAST(g.t AS TIMESTAMP) AS gt
      FROM bounds, unnest(generate_series(bounds.lo, bounds.hi, INTERVAL 6 HOUR)) AS g(t)
    ), tagged AS (
      SELECT gt AS ts, NULL AS value, 1 AS is_grid, NULL AS event_id FROM grid
      UNION ALL
      SELECT ts, value, 0 AS is_grid, event_id FROM samples
    ), flanked AS (
      SELECT ts, value, is_grid,
             last_value(CASE WHEN is_grid = 0 THEN epoch(ts) END IGNORE NULLS)
               OVER (ORDER BY ts, is_grid, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t0,
             last_value(CASE WHEN is_grid = 0 THEN value END IGNORE NULLS)
               OVER (ORDER BY ts, is_grid, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
             first_value(CASE WHEN is_grid = 0 THEN epoch(ts) END IGNORE NULLS)
               OVER (ORDER BY ts, is_grid, event_id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t1,
             first_value(CASE WHEN is_grid = 0 THEN value END IGNORE NULLS)
               OVER (ORDER BY ts, is_grid, event_id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1
      FROM tagged
    )
    SELECT ts AS grid_ts,
           CASE WHEN t1 = t0 THEN v0
                ELSE v0 + (v1 - v0) * (epoch(ts) - t0) / (t1 - t0) END AS interp
    FROM flanked
    WHERE is_grid = 1 AND t0 IS NOT NULL AND t1 IS NOT NULL
    """,
)
def ts_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of purchase values onto a 6-hour grid.

    The union+window idiom, made scale-safe: tag grid points and
    samples, and find each grid point's flanking samples (previous and
    next) with windows partitioned BY DAY — never a global
    unpartitioned sort (the naive form funnels every sample into one
    task; the oracle runs exactly that naive form, proving this
    decomposition result-identical). Cross-day flanks are carried
    through a days-sized summary frame: each day's first/last sample
    is one row, the summary window costs O(days), and a left join on
    the day key (broadcastable) hands every grid row the latest
    earlier / earliest later sample when its own day has none before/
    after it. Same exact-overlap-carry pattern as the rolling-zscore
    anomaly scorer — window-key cardinality grows with the time range
    instead of collapsing to one task.
    """
    ev = load_table(spark, "events", sf_dir)
    # Checkpointed: the grid bounds, the tagged union (read twice) and
    # the per-day summary all consume the filtered sample set; without
    # it each consumer re-scanned events (5 scans before the round-10
    # audit fix).
    samples = (
        ev.where(F.col("event_type") == "purchase")
        .select("ts", "value", "event_id")
        .localCheckpoint(eager=False)
    )
    bounds = samples.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 6 HOUR"))).alias("ts")
    ).select(
        "ts",
        F.lit(None).cast("double").alias("value"),
        F.lit(1).alias("is_grid"),
        F.lit(None).cast("long").alias("event_id"),
    )
    tagged = (
        samples.select("ts", "value", F.lit(0).alias("is_grid"), "event_id")
        .unionByName(grid)
        .withColumn("day", F.date_trunc("day", "ts"))
    )
    # event_id is the within-(ts, is_grid) tie-break: duplicate sample
    # timestamps would otherwise make v0/v1 partition-order-dependent
    # (fixture timestamps are unique, but the operator must not rely on
    # it). Grid rows carry NULL event_id and are unique per ts, so the
    # null never decides an ordering that matters.
    wb = (
        W.partitionBy("day")
        .orderBy("ts", "is_grid", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wf = (
        W.partitionBy("day")
        .orderBy("ts", "is_grid", "event_id")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    sample_t = F.when(F.col("is_grid") == 0, F.col("ts").cast("double"))
    sample_v = F.when(F.col("is_grid") == 0, F.col("value"))
    flanked = tagged.select(
        "ts",
        "is_grid",
        "day",
        F.last(sample_t, ignorenulls=True).over(wb).alias("t0d"),
        F.last(sample_v, ignorenulls=True).over(wb).alias("v0d"),
        F.first(sample_t, ignorenulls=True).over(wf).alias("t1d"),
        F.first(sample_v, ignorenulls=True).over(wf).alias("v1d"),
    )
    # One row per day that HAS samples: its first/last sample. Carried
    # across the (tiny) day spine so a grid row whose own day lacks a
    # flanking sample inherits the nearest one from an adjacent day.
    day_sum = samples.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.min(F.col("ts").cast("double")).alias("first_t"),
        F.min_by("value", F.struct("ts", "event_id")).alias("first_v"),
        F.max(F.col("ts").cast("double")).alias("last_t"),
        F.max_by("value", F.struct("ts", "event_id")).alias("last_v"),
    )
    spine = tagged.select("day").distinct().join(day_sum, "day", "left")
    wprev = W.orderBy("day").rowsBetween(W.unboundedPreceding, -1)
    wnext = W.orderBy("day").rowsBetween(1, W.unboundedFollowing)
    carried = spine.select(
        "day",
        F.last("last_t", ignorenulls=True).over(wprev).alias("prev_t"),
        F.last("last_v", ignorenulls=True).over(wprev).alias("prev_v"),
        F.first("first_t", ignorenulls=True).over(wnext).alias("next_t"),
        F.first("first_v", ignorenulls=True).over(wnext).alias("next_v"),
    )
    full = flanked.join(F.broadcast(carried), "day").select(
        "ts",
        "is_grid",
        F.coalesce("t0d", "prev_t").alias("t0"),
        F.coalesce("v0d", "prev_v").alias("v0"),
        F.coalesce("t1d", "next_t").alias("t1"),
        F.coalesce("v1d", "next_v").alias("v1"),
    )
    interp = F.when(F.col("t1") == F.col("t0"), F.col("v0")).otherwise(
        F.col("v0")
        + (F.col("v1") - F.col("v0"))
        * (F.col("ts").cast("double") - F.col("t0"))
        / (F.col("t1") - F.col("t0"))
    )
    return (
        full.where(
            (F.col("is_grid") == 1) & F.col("t0").isNotNull() & F.col("t1").isNotNull()
        )
        .select(F.col("ts").alias("grid_ts"), interp.alias("interp"))
    )


@query(
    "ts_ewma_final",
    oracle="""
    WITH ordered AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vs
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           list_reduce(vs, (acc, v) -> 0.9 * acc + 0.1 * v) AS ewma
    FROM ordered
    """,
)
def ts_ewma_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA (α=0.1) per user — a genuinely recursive aggregate.

    Window functions can't express the recursion, so it's a fold over
    the time-ordered value list (identical left-fold order in both
    engines → bit-identical floats). At scale the list per key must fit
    a task; for unbounded streams the stateful-streaming version
    (applyInPandasWithState) maintains the same recurrence incrementally.
    """
    ev = load_table(spark, "events", sf_dir)
    ordered = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("rows_sorted")
    )
    vs = F.transform(F.col("rows_sorted"), lambda r: r.value)
    ewma = F.aggregate(
        F.expr("slice(transform(rows_sorted, r -> r.value), 2, size(rows_sorted) - 1)"),
        F.element_at(vs, 1),
        lambda acc, v: acc * 0.9 + v * 0.1,
    )
    return ordered.select("user_id", ewma.alias("ewma"))


@query(
    "ts_pruned_week_stats",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
           count(*) AS n, sum(value) AS sum_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
    GROUP BY 1, 2
    """,
)
def ts_pruned_week_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily stats for one week via the partition-pruned scan path.

    Reads the dt-partitioned events layout with BOTH the row-level ts
    predicate and the derived dt partition predicate, so 23 of the 30
    day-directories are skipped at planning time (PartitionFilters in
    the scan; pinned by a plan test). At 100 TB this is the difference
    between scanning a week and scanning the whole table.
    """
    from gotsdb_spark.sources.registry import load_events_range

    ev = load_events_range(spark, sf_dir, "2024-01-08 00:00:00", "2024-01-15 00:00:00")
    return ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))


@query(
    "ts_m4_downsample",
    oracle="""
    WITH t AS (
      SELECT event_type, value, ts, event_id,
             CAST(floor(epoch(ts) / 21600) AS BIGINT) * 21600 AS bsec
      FROM events
    ), r AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type, bsec
                                ORDER BY ts, event_id) AS rna,
             row_number() OVER (PARTITION BY event_type, bsec
                                ORDER BY ts DESC, event_id DESC) AS rnd
      FROM t
    )
    SELECT event_type,
           CAST(to_timestamp(bsec) AT TIME ZONE 'UTC' AS TIMESTAMP)
             AS bucket_start,
           count(*) AS n,
           min(value) AS v_min,
           max(value) AS v_max,
           max(CASE WHEN rna = 1 THEN value END) AS first_value,
           max(CASE WHEN rnd = 1 THEN value END) AS last_value
    FROM r GROUP BY event_type, bsec
    """,
)
def ts_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling: per series and pixel bucket keep min, max,
    first, and last — the four points that make a line chart of the
    bucket pixel-identical to plotting every raw point.

    The standard TSDB visualization reducer (M4, Jugel et al., VLDB
    2014): a dashboard query over a year of data returns 4 points per
    pixel column instead of millions. first/last are argmin/argmax over
    the total order (ts, event_id) — ties impossible, so the result is
    deterministic. Both windows and the final aggregation share the
    (event_type, bucket) hash partitioning: ONE shuffle total.
    """
    ev = load_table(spark, "events", sf_dir)
    bsec = (F.floor(F.unix_timestamp("ts") / 21600) * 21600).cast("long")
    base = ev.select("event_type", "value", "ts", "event_id", bsec.alias("bsec"))
    wa = W.partitionBy("event_type", "bsec").orderBy("ts", "event_id")
    wd = W.partitionBy("event_type", "bsec").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = base.withColumn("rna", F.row_number().over(wa)).withColumn(
        "rnd", F.row_number().over(wd)
    )
    return (
        ranked.groupBy("event_type", "bsec")
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
            F.max(F.when(F.col("rna") == 1, F.col("value"))).alias("first_value"),
            F.max(F.when(F.col("rnd") == 1, F.col("value"))).alias("last_value"),
        )
        .select(
            "event_type",
            F.to_timestamp(F.col("bsec")).alias("bucket_start"),
            "n",
            "v_min",
            "v_max",
            "first_value",
            "last_value",
        )
    )


@query(
    "ts_counter_rate",
    oracle="""
    WITH d AS (
      SELECT event_type, ts, value,
             value - lag(value) OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) AS delta
      FROM events
    )
    SELECT event_type,
           date_trunc('day', ts) AS day,
           count(*) AS n_samples,
           CAST(sum(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_resets,
           CAST(sum(CAST(floor(1e6 * (CASE WHEN delta IS NULL THEN 0
                                           WHEN delta < 0 THEN value
                                           ELSE delta END)) AS BIGINT))
                AS BIGINT) AS increase_micros
    FROM d GROUP BY event_type, date_trunc('day', ts)
    """,
)
def ts_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL-style counter increase with reset handling: per series
    (user_id, event_type), a sample's contribution is its delta from
    the previous sample — unless the counter went backwards (process
    restart), in which case the counter restarted from zero and the
    current value IS the increase. Daily totals per event_type.

    One window shuffle on the series key (the natural partitioning a
    metrics store would already have), then a map-side-combinable
    aggregation. Contributions are summed in integer micros so the
    result is association-safe under any partitioning — the warehouse
    events layout is a 30-file parallel scan (sources/registry.py), so
    double summation order is NOT reproducible here; fixed-point makes
    the hash gate immune to it.
    """
    ev = load_table(spark, "events", sf_dir)
    ws = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    delta = F.col("value") - F.lag("value").over(ws)
    contrib = (
        F.when(delta.isNull(), 0.0)
        .when(delta < 0, F.col("value"))
        .otherwise(delta)
    )
    d = ev.select(
        "event_type",
        "ts",
        F.floor(F.lit(1e6) * contrib).cast("long").alias("c_micros"),
        (delta < 0).cast("int").alias("is_reset"),
    )
    return d.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("n_samples"),
        F.sum(F.coalesce("is_reset", F.lit(0))).cast("long").alias("n_resets"),
        F.sum("c_micros").alias("increase_micros"),
    )


@query(
    "ts_funnel_view_click_purchase",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
      FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_viewed,
           CAST(sum(CASE WHEN t_view < t_click THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clicked_after_view,
           CAST(sum(CASE WHEN t_view < t_click AND t_click < t_buy
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
    FROM firsts
    """,
)
def ts_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users whose FIRST view precedes their first
    click precedes their first purchase.

    The product-analytics staple. One partial+final aggregation per
    user (timestamps of each stage's first occurrence — map-side
    combinable mins), then a single global rollup of boolean counters:
    two shuffles, byte-sized rows, at any scale. NULL comparison
    semantics do the stage gating (a missing stage makes the < chain
    NULL, counted as false in both engines).
    """
    ev = load_table(spark, "events", sf_dir)
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_buy"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = F.col("t_view") < F.col("t_click")
    full = clicked & (F.col("t_click") < F.col("t_buy"))
    # when(...).otherwise(0) mirrors the oracle's CASE ... ELSE 0: a
    # NULL stage comparison counts as 0, so a cohort where NO user
    # reaches a stage still reports 0, not NULL (sum over an all-NULL
    # cast returns NULL — the funnel fuzzer caught the divergence).
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.sum(F.when(viewed, 1).otherwise(0)).cast("long").alias("n_viewed"),
        F.sum(F.when(clicked, 1).otherwise(0))
        .cast("long")
        .alias("n_clicked_after_view"),
        F.sum(F.when(full, 1).otherwise(0)).cast("long").alias("n_full_funnel"),
    )


@query(
    "ts_retention_cohorts",
    oracle="""
    WITH cohort AS (
      SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    )
    SELECT c.cohort_day,
           CAST(datediff('day', c.cohort_day, a.day) AS INT) AS day_offset,
           count(*) AS n_active
    FROM activity a JOIN cohort c USING (user_id)
    GROUP BY 1, 2
    """,
)
def ts_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day; for each
    (cohort, day-offset) how many came back.

    Two aggregations over (user, day) pairs plus one equi-join on
    user_id — all integer counters. At scale the cohort table is tiny
    relative to events (one row per user) and broadcastable; day
    distinct-ing happens before the join so the join input is already
    collapsed.
    """
    ev = load_table(spark, "events", sf_dir)
    day = F.date_trunc("day", "ts")
    cohort = ev.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    activity = ev.select("user_id", day.alias("day")).distinct()
    return (
        activity.join(cohort, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day"))
            .cast("int")
            .alias("day_offset"),
        )
        .agg(F.count("*").alias("n_active"))
    )


# Arbitrary-width bucketing origin: intentionally NOT hour-aligned.
_TB_ORIGIN = 1704071700  # 2024-01-01 00:15:00 UTC
_TB_WIDTH = 5400  # 90 minutes


@query(
    "ts_time_bucket_origin",
    oracle=f"""
    SELECT CAST(to_timestamp({_TB_ORIGIN} + CAST(floor(
             (epoch(ts) - {_TB_ORIGIN}) / {_TB_WIDTH}) AS BIGINT)
             * {_TB_WIDTH}) AT TIME ZONE 'UTC' AS TIMESTAMP) AS bucket_start,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
             AS value_micros
    FROM events
    GROUP BY 1, 2
    """,
)
def ts_time_bucket_origin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_bucket with an arbitrary width AND origin (the TimescaleDB
    idiom date_trunc can't express): 90-minute buckets anchored at
    00:15, including correct flooring for timestamps before the origin.

    Row-local arithmetic (epoch diff, floor-div, rebuild timestamp), so
    bucketing happens at scan speed and the only shuffle is the
    partial+final aggregation. Value sums are integer micros —
    association-safe over the 30-file partitioned events scan
    (sub-second fractions can't flip the bucket: floor((floor(t)-o)/w)
    equals floor((t-o)/w) for integer origin and width).
    """
    ev = load_table(spark, "events", sf_dir)
    bucket_sec = (
        F.lit(_TB_ORIGIN)
        + F.floor((F.unix_timestamp("ts") - _TB_ORIGIN) / _TB_WIDTH)
        * _TB_WIDTH
    )
    return (
        ev.select(
            F.to_timestamp(bucket_sec).alias("bucket_start"),
            "event_type",
            F.floor(F.col("value") * 1e6).cast("long").alias("v_micros"),
        )
        .groupBy("bucket_start", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("v_micros").alias("value_micros"),
        )
    )


@query(
    "ts_asof_join_tolerance",
    oracle="""
    SELECT event_id, ts, user_id,
           CASE WHEN last_error_ts >= ts - INTERVAL 1 HOUR
                THEN last_error_ts END AS recent_error_ts,
           CAST(last_error_ts IS NOT NULL
                AND last_error_ts >= ts - INTERVAL 1 HOUR AS INT)
             AS has_recent_error
    FROM (
      SELECT p.event_id, p.ts, p.user_id, e.ts AS last_error_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        ON p.user_id = e.user_id AND p.ts >= e.ts
    ) matched
    """,
)
def ts_asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness bound: the most recent error only
    counts if it happened within the last hour (pandas merge_asof's
    `tolerance`, kdb's wj window — the form most production as-of
    queries actually need).

    Same union+window plan as ts_asof_join_last_error — the tolerance
    is a row-local timestamp comparison AFTER the carry, so it adds
    zero shuffle. Comparison is native timestamp arithmetic (µs exact),
    never unix_timestamp (which truncates sub-second digits and would
    diverge from the oracle at the boundary).
    """
    ev = load_table(spark, "events", sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", F.lit(1).alias("is_left")
    )
    errors = ev.where(F.col("event_type") == "error").select(
        F.lit(None).cast("long").alias("event_id"),
        "ts",
        "user_id",
        F.lit(0).alias("is_left"),
    )
    unioned = purchases.unionByName(errors)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "is_left")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = unioned.withColumn(
        "last_error_ts",
        F.last(F.when(F.col("is_left") == 0, F.col("ts")), ignorenulls=True).over(w),
    )
    fresh = F.col("last_error_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")
    return carried.where(F.col("is_left") == 1).select(
        "event_id",
        "ts",
        "user_id",
        F.when(fresh, F.col("last_error_ts")).alias("recent_error_ts"),
        (F.col("last_error_ts").isNotNull() & fresh).cast("int")
        .alias("has_recent_error"),
    )


@query(
    "scd2_user_event_history",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), changes AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, event_type,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           CAST(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                IS NULL AS INT) AS is_current
    FROM changes
    """,
)
def scd2_user_event_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension type 2 built from an event log: one
    validity interval per run of equal attribute values, closed by the
    next change's timestamp, open (is_current) on the last.

    The warehouse-dimension pattern: lag() finds change points, lead()
    closes the interval — two windows over the SAME (user_id) hash
    partitioning, so the whole history build is one shuffle. Ordering
    is total via (ts, event_id), making run boundaries deterministic.
    """
    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .select("user_id", "event_type", "ts", "event_id")
    )
    # event_id tie-break: two change points at the SAME timestamp (two
    # different-type events sharing a ts) would otherwise make lead(ts)
    # order-dependent. Fixture timestamps are unique; the operator must
    # not rely on it.
    w2 = W.partitionBy("user_id").orderBy("ts", "event_id")
    valid_to = F.lead("ts").over(w2)
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().cast("int").alias("is_current"),
    )


@query(
    "session_path_analysis",
    oracle="""
    WITH paths AS (
      SELECT user_id, date_trunc('day', ts) AS day,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM events GROUP BY user_id, date_trunc('day', ts)
    )
    SELECT path,
           count(*) AS n_sessions,
           count(DISTINCT user_id) AS n_users
    FROM paths
    GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 15
    """,
)
def session_path_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: the most common within-day event-type sequences.

    The clickstream staple behind funnel discovery. The per-session
    path is an ORDERED aggregation — Spark's collect_list is
    order-nondeterministic, so the path is built by sorting
    (ts, event_id, type) structs AFTER collection (the
    agg_collect_sorted idiom), which is deterministic under any
    partitioning. Two aggregations, both map-side combinable; top-k
    tie-breaks on the path text.
    """
    ev = load_table(spark, "events", sf_dir)
    path = F.concat_ws(
        ">",
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s.event_type,
        ),
    )
    paths = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(path.alias("path"))
    return (
        paths.groupBy("path")
        .agg(
            F.count("*").alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(15)
    )


@query(
    "ts_activity_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    ), islands AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (PARTITION BY user_id
                                           ORDER BY day) AS INT)
                   * INTERVAL 1 DAY AS island
      FROM days
    ), streaks AS (
      SELECT user_id, island, count(*) AS streak_days FROM islands
      GROUP BY user_id, island
    )
    SELECT CAST(streak_days AS INT) AS streak_days,
           count(*) AS n_streaks,
           count(DISTINCT user_id) AS n_users
    FROM streaks GROUP BY 1
    """,
)
def ts_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: consecutive-day activity streak distribution.

    The canonical SQL islands trick — day minus the per-user row_number
    is constant exactly within a consecutive run, so one window plus
    one groupBy finds every streak with no self-join and no iteration.
    Both the window and the island aggregation share the user_id
    partitioning: one shuffle, then the small histogram rollup.
    """
    ev = load_table(spark, "events", sf_dir)
    days = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("day"))
    islands = days.withColumn(
        "island", F.date_sub(F.col("day").cast("date"), rn)
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count("*").cast("int").alias("streak_days")
    )
    return streaks.groupBy("streak_days").agg(
        F.count("*").alias("n_streaks"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "orders_mom_growth",
    oracle="""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
      FROM orders GROUP BY 1
    )
    SELECT month, revenue_cents,
           lag(revenue_cents) OVER (ORDER BY month) AS prev_cents,
           revenue_cents * 1.0
             / lag(revenue_cents) OVER (ORDER BY month) - 1.0 AS mom_growth
    FROM monthly
    """,
)
def orders_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: the BI time-series staple.

    lag() over the MONTHLY series — a handful of rows after the
    aggregation, so the unpartitioned window is trivially safe (the
    anti-pattern is lag over the raw fact table). Fixed-point cents
    make consecutive months' ratios identical across engines; the
    first month's growth is NULL by construction.
    """
    orders = load_table(spark, "orders", sf_dir)
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "revenue_cents"
        )
    )
    w = W.orderBy("month")
    prev = F.lag("revenue_cents").over(w)
    return monthly.select(
        "month",
        "revenue_cents",
        prev.alias("prev_cents"),
        (F.col("revenue_cents") / prev.cast("double") - 1.0).alias(
            "mom_growth"
        ),
    )


@query(
    "ts_error_burst_detection",
    oracle="""
    WITH buckets AS (
      SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 600) AS BIGINT) * 600)
               AT TIME ZONE 'UTC' AS TIMESTAMP) AS bucket,
             count(*) AS n_errors
      FROM events WHERE event_type = 'error'
      GROUP BY 1
    ), stats AS (
      SELECT avg(n_errors) AS mu, stddev_samp(n_errors) AS sigma
      FROM buckets
    )
    SELECT bucket, n_errors
    FROM buckets, stats
    WHERE n_errors > mu + 2.0 * sigma
    """,
)
def ts_error_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-burst (anomaly) detection: 10-minute error-count buckets
    exceeding mean + 2 sigma of the whole series.

    The alerting primitive: bucket counts are one partial+final
    aggregation; the global (mu, sigma) is a 1-row aggregate broadcast
    back over the buckets (a scalar cross join, not a self-join per
    row). Counts are integers, so only the final threshold comparison
    touches floats — identical inputs to stddev in both engines, drift
    orders of magnitude below any count's distance from the threshold.
    """
    ev = load_table(spark, "events", sf_dir)
    bucket = F.to_timestamp(
        F.floor(F.unix_timestamp("ts") / 600).cast("long") * 600
    )
    buckets = (
        ev.where(F.col("event_type") == "error")
        .groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n_errors"))
    )
    stats = buckets.agg(
        F.avg("n_errors").alias("mu"),
        F.stddev_samp("n_errors").alias("sigma"),
    )
    return (
        buckets.crossJoin(F.broadcast(stats))
        .where(F.col("n_errors") > F.col("mu") + 2.0 * F.col("sigma"))
        .select("bucket", "n_errors")
    )


@query(
    "division_full_coverage_suppliers",
    oracle="""
    WITH months AS (
      SELECT DISTINCT date_trunc('month', o_orderdate) AS m
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1996-01-01'
    ), supplier_months AS (
      SELECT DISTINCT l.l_suppkey,
             date_trunc('month', o.o_orderdate) AS m
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
        AND o.o_orderdate < TIMESTAMP '1996-01-01'
    )
    SELECT l_suppkey AS suppkey,
           count(*) AS n_months
    FROM supplier_months
    GROUP BY l_suppkey
    HAVING count(*) = (SELECT count(*) FROM months)
    """,
)
def division_full_coverage_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Relational division: suppliers active in EVERY month of 1995 —
    the 'for all' quantifier, answered with count-distinct equality
    instead of nested NOT EXISTS.

    Division's scalable form: distinct (supplier, month) pairs (one
    dedup shuffle), a count per supplier, and a 1-row scalar subquery
    for the divisor cardinality — no double-negated correlated
    subquery, which Spark would execute as a per-row re-scan shape.
    """
    orders = load_table(spark, "orders", sf_dir).where(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1996-01-01")
    )
    li = load_table(spark, "lineitem", sf_dir)
    month = F.date_trunc("month", "o_orderdate")
    months = orders.select(month.alias("m")).distinct()
    sm = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select("l_suppkey", month.alias("m"))
        .distinct()
    )
    n_months = months.count()
    return (
        sm.groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.count("*").alias("n_months"))
        .where(F.col("n_months") == n_months)
    )


@query(
    "ts_inter_arrival_stats",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT event_type,
           count(gap_us) AS n_gaps,
           CAST(min(gap_us) AS BIGINT) AS min_gap_us,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us,
           quantile_cont(gap_us, 0.5) AS median_gap_us,
           quantile_cont(gap_us, 0.99) AS p99_gap_us
    FROM gaps GROUP BY event_type
    """,
)
def ts_inter_arrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time distribution per event stream: min/max/median
    /p99 gaps in microseconds.

    The workload-characterization query behind capacity planning and
    SLO burn alerts. Gaps are integer microsecond diffs over a total
    (ts, event_id) order — one window shuffle on the stream key, then a
    partial+final stats aggregation. Exact interpolated percentiles
    over integer inputs are bit-identical across engines (same
    a + (b-a)*f arithmetic on the same sorted values).
    """
    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gaps = ev.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    )
    return gaps.groupBy("event_type").agg(
        F.count("gap_us").alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.percentile("gap_us", 0.5).alias("median_gap_us"),
        F.percentile("gap_us", 0.99).alias("p99_gap_us"),
    )


@query(
    "ts_user_activity_entropy",
    oracle="""
    WITH counts AS (
      SELECT user_id, event_type, count(*) AS c FROM events
      GROUP BY user_id, event_type
    ), totals AS (
      SELECT user_id, CAST(sum(c) AS BIGINT) AS total FROM counts
      GROUP BY user_id
    ), ent AS (
      SELECT c.user_id,
             -sum((c.c * 1.0 / t.total) * ln(c.c * 1.0 / t.total))
               AS entropy
      FROM counts c JOIN totals t ON c.user_id = t.user_id
      GROUP BY c.user_id
    )
    SELECT CAST(floor(entropy * 10) AS INT) AS entropy_decile,
           count(*) AS n_users,
           min(entropy) AS min_entropy,
           max(entropy) AS max_entropy
    FROM ent GROUP BY 1
    """,
)
def ts_user_activity_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity: Shannon entropy of each user's event-type
    mix, bucketed into a distribution.

    The bot/power-user separator (entropy ~0 = single-action automation,
    high = diverse organic use). The p·ln(p) sum runs over at most 5
    event types per user — a tiny, fixed-order-insensitive sum (5 terms
    cannot drift past the gate's rounding) — and the per-user entropy
    then rolls into a decile histogram: two shuffles total, both
    map-side combinable.
    """
    ev = load_table(spark, "events", sf_dir)
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("c")
    )
    totals = counts.groupBy("user_id").agg(F.sum("c").alias("total"))
    p = F.col("c") / F.col("total")
    ent = (
        counts.join(totals, "user_id")
        .groupBy("user_id")
        .agg((-F.sum(p * F.log(p))).alias("entropy"))
    )
    return ent.groupBy(
        F.floor(F.col("entropy") * 10).cast("int").alias("entropy_decile")
    ).agg(
        F.count("*").alias("n_users"),
        F.min("entropy").alias("min_entropy"),
        F.max("entropy").alias("max_entropy"),
    )


@query(
    "ts_weekday_seasonality",
    oracle="""
    SELECT CAST(isodow(o_orderdate) AS INT) AS iso_weekday,
           count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders GROUP BY 1
    """,
)
def ts_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile of order volume and revenue.

    The seasonality baseline every forecast subtracts first. Weekday
    numbering is a classic cross-engine trap (Spark dayofweek starts
    Sunday=1, DuckDB dayofweek starts Sunday=0); both sides therefore
    speak ISO — Spark weekday() (Monday=0) + 1 equals DuckDB isodow
    (Monday=1). Row-local date math, one counter aggregation.
    """
    orders = load_table(spark, "orders", sf_dir)
    return orders.groupBy(
        (F.weekday("o_orderdate") + 1).cast("int").alias("iso_weekday")
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "revenue_cents"
        ),
    )


@query(
    "ts_trailing_hour_rate",
    oracle="""
    WITH rates AS (
      SELECT event_id, user_id,
             count(*) OVER (PARTITION BY user_id ORDER BY ts
                            RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                            AND CURRENT ROW) AS events_last_hour
      FROM events
    )
    SELECT CAST(events_last_hour AS INT) AS events_last_hour,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM rates GROUP BY 1
    """,
)
def ts_trailing_hour_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-hour activity rate via a TIME-RANGE window
    frame, rolled into a rate histogram.

    The rate-limiter / abuse-detection primitive: every event sees how
    many events its user produced in the preceding hour — a RANGE (not
    ROWS) frame over event time, so ties and dense bursts are counted
    by clock, not by row position. Spark expresses the interval frame
    as rangeBetween(-3600, 0) over epoch seconds — semantically
    identical to the oracle's INTERVAL frame because the fixture's
    sub-second timestamps make microsecond epoch ordering equal to
    timestamp ordering within each user.
    """
    ev = load_table(spark, "events", sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    rates = ev.select(
        F.count("*").over(w).cast("int").alias("events_last_hour"),
        "user_id",
    )
    return rates.groupBy("events_last_hour").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "ts_value_log_histogram",
    oracle="""
    SELECT CAST(floor(log10(value)) AS INT) AS magnitude,
           count(*) AS n,
           min(value) AS min_v,
           max(value) AS max_v
    FROM events WHERE value > 0
    GROUP BY 1
    """,
)
def ts_value_log_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-of-magnitude histogram: bucket metric values by
    floor(log10) — the first look at any long-tailed metric, where a
    linear histogram puts everything in one bin.

    Row-local math plus a counter aggregation. The positive-value guard
    is part of the contract (log of a non-positive metric is a data
    bug this query would surface as a missing bucket, not a NaN).
    """
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.where(F.col("value") > 0)
        .groupBy(
            F.floor(F.log10("value")).cast("int").alias("magnitude")
        )
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )
    )


@query(
    "ts_dau_wau_stickiness",
    oracle="""
    WITH user_days AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    ), dau AS (
      SELECT day, count(*) AS dau FROM user_days GROUP BY day
    ), wau AS (
      SELECT target_day AS day, count(DISTINCT user_id) AS wau FROM (
        SELECT user_id,
               day + unnest(list_transform(generate_series(0, 6),
                                           i -> to_days(CAST(i AS INT)))) AS target_day
        FROM user_days
      ) spread
      GROUP BY target_day
    )
    SELECT d.day, d.dau, w.wau,
           d.dau * 1.0 / w.wau AS stickiness
    FROM dau d JOIN wau w ON d.day = w.day
    """,
)
def ts_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU stickiness per day.

    The growth-accounting metric. COUNT DISTINCT over a sliding window
    isn't a window function in either engine — the scalable idiom is
    the explode trick: each (user, day) activity row fans out to the 7
    future days whose trailing window contains it, then one
    count-distinct per target day. Fan-out is 7x the (user, day)
    pairs (already deduped), not 7x the events. Days with no activity
    in the prior week simply have no row (inner join) — explicit is
    better than a silently-zero denominator.
    """
    ev = load_table(spark, "events", sf_dir)
    user_days = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    dau = user_days.groupBy("day").agg(F.count("*").alias("dau"))
    spread = user_days.select(
        "user_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(6)),
                lambda i: F.timestamp_add("DAY", i, F.col("day")),
            )
        ).alias("day"),
    )
    wau = spread.groupBy("day").agg(
        F.countDistinct("user_id").alias("wau")
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        (F.col("dau") / F.col("wau").cast("double")).alias("stickiness"),
    )


@query(
    "ts_hour_weekday_heatmap",
    oracle="""
    SELECT CAST(isodow(ts) AS INT) AS iso_weekday,
           CAST(hour(ts) AS INT) AS hour_of_day,
           count(*) AS n,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1, 2
    """,
)
def ts_hour_weekday_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap: the (weekday x hour-of-day) matrix every ops
    dashboard opens with.

    Two row-local date parts (ISO weekday numbering as in
    ts_weekday_seasonality) and one counter aggregation over at most
    168 cells.
    """
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy(
        (F.weekday("ts") + 1).cast("int").alias("iso_weekday"),
        F.hour("ts").cast("int").alias("hour_of_day"),
    ).agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "ts_rolling_zscore_anomaly",
    oracle="""
    WITH w AS (
      SELECT event_id, event_type, ts, value,
             avg(value) OVER win AS mu,
             stddev_samp(value) OVER win AS sigma,
             count(*) OVER win AS n_win
      FROM events
      WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, event_type, ts, value,
           (value - mu) / sigma AS zscore
    FROM w
    WHERE n_win >= 20 AND sigma > 0 AND abs((value - mu) / sigma) > 2.5
    """,
)
def ts_rolling_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style anomaly flags: each event scored against the
    trailing 100 events of its type (current row excluded), with a
    20-event warm-up guard.

    Scale-safe plan: a single `PARTITION BY event_type` window would
    collapse parallelism to the event-type cardinality (~5) — at 100×
    the data each partition is billions of rows sorted in one task. So
    the bounded ROWS frame is computed per (event_type, day-bucket)
    with an EXACT overlap carry: per-bucket row positions plus a tiny
    per-bucket count table determine, from cumulative offsets alone,
    which tail rows of earlier buckets fall inside a later bucket's
    100-row lookback; those rows are duplicated into that bucket
    (handles buckets smaller than the frame, which need carry from
    several buckets back). The final window partitions on
    (event_type, bucket) — cardinality grows with the time range, and
    the bucket granularity (day here) is the knob to match ingest
    rate. Carry volume is ≤ 100 rows per (type, bucket): bounded
    because the frame is bounded. Results are identical to the global
    window, which is exactly what the unchanged single-window oracle
    checks.
    """
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "ts", "value", F.to_date("ts").alias("bkt")
    )
    # Intra-bucket position: window key (event_type, bkt) scales.
    # Checkpointed — the bucket metadata, the carry rows, and the home
    # rows all consume it, and re-deriving it per consumer repeats the
    # scan AND the position-window shuffle (4 events scans before the
    # round-10 audit fix).
    pos = ev.withColumn(
        "j",
        F.row_number().over(
            W.partitionBy("event_type", "bkt").orderBy("ts", "event_id")
        ),
    ).localCheckpoint(eager=False)
    # Tiny per-bucket metadata: row count + cumulative rows before it.
    meta = pos.groupBy("event_type", "bkt").agg(F.count("*").alias("cnt"))
    cum = F.coalesce(
        F.sum("cnt").over(
            W.partitionBy("event_type")
            .orderBy("bkt")
            .rowsBetween(W.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    meta = meta.withColumn("cum_before", cum)
    # (src bucket → home bucket) carry pairs: src's rows overlap home's
    # 100-row lookback iff src ends after home_start - 100. The pairs
    # table is O(n_buckets) rows — broadcastable by construction.
    home = meta.select(
        "event_type",
        F.col("bkt").alias("home_bkt"),
        F.col("cum_before").alias("home_cum"),
    )
    src = meta.select(
        "event_type",
        F.col("bkt").alias("src_bkt"),
        F.col("cum_before").alias("src_cum"),
        F.col("cnt").alias("src_cnt"),
    )
    pairs = (
        home.join(src, "event_type")
        .where(
            (F.col("src_bkt") < F.col("home_bkt"))
            & (F.col("src_cum") + F.col("src_cnt") > F.col("home_cum") - 100)
        )
        # A src row at intra position j has global position src_cum + j;
        # it belongs in home's lookback iff that is ≥ home_cum - 100.
        .select(
            F.col("event_type").alias("p_et"),
            "home_bkt",
            F.col("src_bkt").alias("p_bkt"),
            (F.col("home_cum") - 100 - F.col("src_cum")).alias("min_j_excl"),
        )
    )
    carry = (
        pos.join(
            F.broadcast(pairs),
            on=[
                F.col("event_type") == F.col("p_et"),
                F.col("bkt") == F.col("p_bkt"),
            ],
        )
        .where(F.col("j") > F.col("min_j_excl"))
        .select(
            "event_id",
            "event_type",
            "ts",
            "value",
            F.col("home_bkt").alias("grp"),
            F.lit(0).alias("is_home"),
        )
    )
    homes = pos.select(
        "event_id",
        "event_type",
        "ts",
        "value",
        F.col("bkt").alias("grp"),
        F.lit(1).alias("is_home"),
    )
    ext = homes.unionByName(carry)
    win = (
        W.partitionBy("event_type", "grp")
        .orderBy("ts", "event_id")
        .rowsBetween(-100, -1)
    )
    mu = F.avg("value").over(win)
    sigma = F.stddev_samp("value").over(win)
    n_win = F.count("*").over(win)
    z = (F.col("value") - mu) / sigma
    return (
        ext.select(
            "event_id",
            "event_type",
            "ts",
            "value",
            "is_home",
            n_win.alias("n_win"),
            sigma.alias("sigma"),
            z.alias("zscore"),
        )
        .where(
            (F.col("is_home") == 1)
            & (F.col("n_win") >= 20)
            & (F.col("sigma") > 0)
            & (F.abs("zscore") > 2.5)
        )
        .select("event_id", "event_type", "ts", "value", "zscore")
    )


@query(
    "ts_dpp_expensive_days",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT strftime(o_orderdate + INTERVAL 29 YEAR, '%Y-%m-%d') AS dt
      FROM orders WHERE o_totalprice > 490000
    )
    SELECT e.dt, count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS dt, user_id
          FROM events) e
    JOIN dim ON dim.dt = e.dt
    GROUP BY e.dt
    """,
)
def ts_dpp_expensive_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact scan reads only the day
    directories that survive a runtime dimension filter.

    The dim (days with a >490k order, shifted into the events calendar)
    is only known at run time; joining it against the dt-PARTITIONED
    events layout makes Catalyst inject a dynamicpruning subquery into
    the scan's PartitionFilters — whole day directories are skipped
    before a single row is read (pinned by
    tests/test_plans.py::test_dpp_subquery_prunes_event_partitions).
    At 100 TB this is the difference between scanning 30 days and
    scanning 3, with no change to the query text.
    """
    from gotsdb_spark.sources.registry import _ensure_events_partitioned, read_parquet

    orders = load_table(spark, "orders", sf_dir)
    dim = (
        orders.where(F.col("o_totalprice") > 490000)
        .select(
            F.date_format(
                F.expr("o_orderdate + INTERVAL 29 YEARS"), "yyyy-MM-dd"
            ).alias("dt")
        )
        .distinct()
    )
    part = _ensure_events_partitioned(spark, sf_dir)
    if part is not None:
        ev = read_parquet(spark, part).select("dt", "user_id")
    else:  # pragma: no cover - fixture always materializes
        ev = load_table(spark, "events", sf_dir).select(
            F.date_format("ts", "yyyy-MM-dd").alias("dt"), "user_id"
        )
    return (
        ev.join(F.broadcast(dim), "dt")
        .groupBy("dt")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@query(
    "ts_seasonal_naive_forecast",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ), joined AS (
      SELECT cur.event_type, cur.n AS actual, prev.n AS forecast
      FROM hourly cur
      JOIN hourly prev
        ON prev.event_type = cur.event_type
       AND prev.h = cur.h - INTERVAL 7 DAY
    )
    SELECT event_type,
           count(*) AS n_points,
           avg(abs(actual - forecast)) AS mae,
           avg(CAST(actual - forecast AS DOUBLE)) AS bias,
           CAST(sum(CASE WHEN forecast = actual THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hits
    FROM joined GROUP BY event_type
    """,
)
def ts_seasonal_naive_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive backtest: forecast each hour's event count with
    the same hour one week earlier, score MAE/bias per series.

    The baseline every forecasting system must beat — and the honest
    way to express it on sparse series is a self-join on (series,
    hour - 7d), not a row-offset lag (row offsets lie when hours are
    missing). One shuffle keyed by series+hour; error metrics are
    integer differences averaged, so they hash-match exactly.
    """
    ev = load_table(spark, "events", sf_dir)
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("n"))
    cur = hourly.select(
        "event_type", "h", F.col("n").alias("actual")
    )
    prev = hourly.select(
        F.col("event_type").alias("p_type"),
        (F.col("h") + F.expr("INTERVAL 7 DAYS")).alias("p_h"),
        F.col("n").alias("forecast"),
    )
    joined = cur.join(
        prev,
        (F.col("event_type") == F.col("p_type")) & (F.col("h") == F.col("p_h")),
    )
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_points"),
        F.avg(F.abs(F.col("actual") - F.col("forecast"))).alias("mae"),
        F.avg((F.col("actual") - F.col("forecast")).cast("double")).alias("bias"),
        F.sum(
            F.when(F.col("forecast") == F.col("actual"), 1).otherwise(0)
        ).cast("long").alias("n_hits"),
    )


@query(
    "ts_stl_decompose",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
             epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS es,
             avg(value) AS v
      FROM events GROUP BY 1, 2, 3
    ), with_trend AS (
      SELECT event_type, h, v,
             floor(avg(v) OVER (
               PARTITION BY event_type ORDER BY es
               RANGE BETWEEN 43200 PRECEDING AND 43200 FOLLOWING
             ) * 1e6 + 0.5001) / 1e6 AS trend
      FROM hourly
    ), with_seasonal AS (
      SELECT event_type, h, v, trend,
             floor(avg(v - trend) OVER (
               PARTITION BY event_type, extract(hour FROM h)
             ) * 1e6 + 0.5001) / 1e6 AS seasonal
      FROM with_trend
    )
    SELECT event_type, h,
           floor(v * 1e6 + 0.5001) / 1e6 AS v,
           trend, seasonal,
           floor((v - trend - seasonal) * 1e6 + 0.5001) / 1e6 AS residual
    FROM with_seasonal
    """,
)
def ts_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style decomposition: value = trend + seasonal + residual.

    Trend is a centered ±12h time-RANGE moving average (range frames
    stay correct on sparse series where row frames drift); seasonal is
    the per-(series, hour-of-day) mean deviation from trend; residual
    is what remains — the anomaly-detection input. Two window passes
    over the same series partitioning plus one reuse; components are
    half-up rounded at 1e-6 with a 1e-4 tie-nudge (floor(x*1e6+0.5001)).
    Averages of 3-decimal inputs are small-denominator rationals: they
    land either EXACTLY on a 0.5e-6 rounding boundary (where a 1e-16
    summation-order difference flips the digit — the nudge resolves
    the tie identically in both engines, and must exceed the double
    ulp at the 1e7 magnitude, which 1e-9 did not) or at least 1/(2q)
    away from it, far beyond the nudge — so no non-tie value can flip.
    """
    ev = load_table(spark, "events", sf_dir)
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.avg("value").alias("v"))
    hourly = hourly.withColumn("es", F.unix_timestamp("h"))
    w_trend = (
        W.partitionBy("event_type").orderBy("es").rangeBetween(-43200, 43200)
    )
    with_trend = hourly.withColumn(
        "trend", F.floor(F.avg("v").over(w_trend) * 1e6 + 0.5001) / 1e6
    )
    w_season = W.partitionBy("event_type", F.hour("h"))
    with_seasonal = with_trend.withColumn(
        "seasonal",
        F.floor(F.avg(F.col("v") - F.col("trend")).over(w_season) * 1e6 + 0.5001)
        / 1e6,
    )
    return with_seasonal.select(
        "event_type",
        "h",
        (F.floor(F.col("v") * 1e6 + 0.5001) / 1e6).alias("v"),
        "trend",
        "seasonal",
        (
            F.floor(
                (F.col("v") - F.col("trend") - F.col("seasonal")) * 1e6 + 0.5001
            )
            / 1e6
        ).alias("residual"),
    )


@query(
    "scd2_asof_lookup",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), changes AS (
      SELECT user_id, event_type, ts FROM ordered
      WHERE prev_type IS NULL OR prev_type <> event_type
    ), dim AS (
      SELECT user_id, event_type AS state_type,
             ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
      FROM changes
    )
    SELECT e.event_id, e.user_id, e.ts, d.state_type, d.valid_from
    FROM events e
    JOIN dim d
      ON d.user_id = e.user_id
     AND d.valid_from <= e.ts
     AND (d.valid_to IS NULL OR e.ts < d.valid_to)
    WHERE e.event_type = 'purchase'
    """,
)
def scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of) lookup against an SCD2 dimension: each
    purchase joins the validity interval that contained its timestamp.

    The temporal-correctness join every warehouse needs and most get
    wrong (joining is_current leaks future state into past facts). The
    equi-key (user_id) drives the shuffle; the interval predicate
    selects exactly one version per fact. At 100 TB both sides
    co-partition on the key and versions-per-key stays small, so the
    per-key interval scan is bounded. Dimension built by
    scd2_user_event_history's change-point windows.
    """
    ev = load_table(spark, "events", sf_dir)
    dim = scd2_user_event_history(spark, sf_dir).select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("state_type"),
        F.col("valid_from"),
        F.col("valid_to"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return (
        purchases.join(
            dim,
            (F.col("user_id") == F.col("d_user"))
            & (F.col("valid_from") <= F.col("ts"))
            & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
        )
        .select("event_id", "user_id", "ts", "state_type", "valid_from")
    )


@query(
    "winsorized_value_stats",
    oracle="""
    WITH q AS (
      SELECT event_type,
             floor(quantile_cont(value, 0.05) * 1e6 + 0.5001) / 1e6 AS p05,
             floor(quantile_cont(value, 0.95) * 1e6 + 0.5001) / 1e6 AS p95
      FROM events GROUP BY event_type
    ), clipped AS (
      SELECT e.event_type,
             least(greatest(e.value, q.p05), q.p95) AS v,
             CASE WHEN e.value < q.p05 THEN 1 ELSE 0 END AS lo,
             CASE WHEN e.value > q.p95 THEN 1 ELSE 0 END AS hi
      FROM events e JOIN q USING (event_type)
    )
    SELECT event_type,
           count(*) AS n,
           floor(avg(v) * 1e4 + 0.5001) / 1e4 AS winsorized_mean,
           CAST(sum(lo) AS BIGINT) AS n_clipped_low,
           CAST(sum(hi) AS BIGINT) AS n_clipped_high
    FROM clipped GROUP BY event_type
    """,
)
def winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized statistics: clip each series at its own p05/p95
    before averaging — the outlier-robust mean every metrics pipeline
    reports next to the raw one.

    Quantiles come from one percentile_cont pass per series (both
    engines use linear interpolation over the same sorted values);
    thresholds and the final mean are half-up rounded with the
    ulp-exceeding tie-nudge (see ts_stl_decompose) so clip decisions
    and output agree bit-for-bit. Two shuffles: the quantile agg and
    the broadcast-joined clip + re-agg.
    """
    ev = load_table(spark, "events", sf_dir)
    q = ev.groupBy("event_type").agg(
        (
            F.floor(
                F.expr("percentile_cont(0.05) WITHIN GROUP (ORDER BY value)")
                * 1e6
                + 0.5001
            )
            / 1e6
        ).alias("p05"),
        (
            F.floor(
                F.expr("percentile_cont(0.95) WITHIN GROUP (ORDER BY value)")
                * 1e6
                + 0.5001
            )
            / 1e6
        ).alias("p95"),
    )
    clipped = ev.join(F.broadcast(q), "event_type").select(
        "event_type",
        F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")).alias("v"),
        F.when(F.col("value") < F.col("p05"), 1).otherwise(0).alias("lo"),
        F.when(F.col("value") > F.col("p95"), 1).otherwise(0).alias("hi"),
    )
    return clipped.groupBy("event_type").agg(
        F.count("*").alias("n"),
        (F.floor(F.avg("v") * 1e4 + 0.5001) / 1e4).alias("winsorized_mean"),
        F.sum("lo").cast("long").alias("n_clipped_low"),
        F.sum("hi").cast("long").alias("n_clipped_high"),
    )


_MOTIF = "vcp"  # view → click → purchase, strictly adjacent

_MOTIF_ORACLE = f"""
    WITH seqs AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           CAST((len(seq) - len(replace(seq, '{_MOTIF}', '')))
                // {len(_MOTIF)} AS BIGINT) AS n_motifs
    FROM seqs
"""


@query("ts_sequence_motif_counts", oracle=_MOTIF_ORACLE)
def ts_sequence_motif_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite: count strictly-adjacent event motifs
    (view→click→purchase) per user.

    Funnels (ts_funnel_viewcartpurchase) ask "did each stage EVER
    happen in order"; this asks for CONSECUTIVE pattern occurrences —
    the sequenced-behavior primitive behind conversion-path and
    bot-detection queries that SQL row patterns (MATCH_RECOGNIZE)
    express on engines that have it. Here the per-user event stream
    collapses to a compact symbol string (one char per event, ordered
    by (ts, event_id) — a deterministic total order), and the
    non-overlapping motif count is exact string arithmetic:
    (len − len(replace(seq, motif, ''))) / |motif|, identical
    left-to-right semantics in both engines.

    Scale: one shuffle keyed by user; per-user state is that user's
    event count (the same bound every sessionization carries. At
    100 TB you'd collapse per (user, session) — same plan, smaller
    strings). The string build is array_sort over a collected struct
    array — row-local JVM work after the shuffle, no window, no
    explode.
    """
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "ts", "event_id", F.substring("event_type", 1, 1).alias("ini")
    )
    seqs = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "ini"))),
                lambda s: s.ini,
            ),
        ).alias("seq"),
    )
    n_motifs = (
        (F.length("seq") - F.length(F.replace(F.col("seq"), F.lit(_MOTIF))))
        / len(_MOTIF)
    ).cast("long")
    return seqs.select("user_id", "n_events", n_motifs.alias("n_motifs"))


# ---------------------------------------------------------------------------
# Quantified sequence patterns (MATCH_RECOGNIZE A B+ C) — round-6 queue.
#
# NOT yet registered (round-5 driver window at capacity);
# tests/test_pattern_quantified.py runs the full DuckDB oracle
# comparison, so round 6 only adds the @query decorator.
# ---------------------------------------------------------------------------

_QPATTERN = "vc+p"  # view → one-or-more clicks → purchase

QUANTIFIED_PATTERN_ORACLE = f"""
    WITH seqs AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           CAST(len(regexp_extract_all(seq, '{_QPATTERN}')) AS BIGINT)
             AS n_matches,
           CAST(COALESCE(
             (SELECT max(len(m))
              FROM unnest(regexp_extract_all(seq, 'c+')) AS t(m)), 0)
             AS BIGINT) AS longest_click_run
    FROM seqs
"""


@query("ts_pattern_quantified_funnels", oracle=QUANTIFIED_PATTERN_ORACLE)
def ts_pattern_quantified_funnels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE with a quantifier: count per user of the row
    pattern view (click)+ purchase — 'one or more clicks between a view
    and a purchase', the shape `A B+ C` that strict-adjacency motif
    counting (ts_sequence_motif_counts) cannot express — plus the
    longest click run as the quantifier's witness.

    Same compact-symbol-string construction as the motif query (one
    deterministic (ts, event_id)-ordered char per event, built
    row-locally after one user-keyed shuffle); the pattern is then a
    leftmost non-overlapping greedy regex count, semantics identical in
    Spark (regexp_count) and DuckDB (len(regexp_extract_all)) for this
    backtracking-free pattern.

    Scale: identical to the motif query — one shuffle keyed by user,
    per-user state bounded by that user's event count (session-scoped
    at warehouse scale), regex evaluated row-locally JVM-side.
    """
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "ts", "event_id", F.substring("event_type", 1, 1).alias("ini")
    )
    seqs = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "ini"))),
                lambda s: s.ini,
            ),
        ).alias("seq"),
    )
    runs = F.expr("regexp_extract_all(seq, 'c+', 0)")
    return seqs.select(
        "user_id",
        "n_events",
        F.expr(f"regexp_count(seq, '{_QPATTERN}')").cast("long").alias("n_matches"),
        F.coalesce(F.array_max(F.transform(runs, F.length)), F.lit(0))
        .cast("long")
        .alias("longest_click_run"),
    )


# ---------------------------------------------------------------------------
# Holt linear-trend exponential smoothing — round-6 queue.
#
# NOT yet registered (round-5 driver window at capacity);
# tests/test_holt_trend.py runs the full DuckDB oracle comparison, so
# round 6 only adds the @query decorator.
# ---------------------------------------------------------------------------

_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.3

HOLT_TREND_ORACLE = f"""
    WITH RECURSIVE daily AS (
      SELECT event_type,
             datediff('day', DATE '2025-01-01', CAST(ts AS DATE)) AS x,
             CAST(sum(CAST(floor(value * 1000) AS BIGINT)) // count(*)
                  AS BIGINT) / 1000.0 AS y
      FROM events GROUP BY 1, 2
    ), idxd AS (
      SELECT event_type, y,
             row_number() OVER (PARTITION BY event_type ORDER BY x) AS i,
             count(*) OVER (PARTITION BY event_type) AS n_days
      FROM daily
    ), hw(event_type, i, n_days, l, b) AS (
      SELECT a.event_type, 2, a.n_days,
             floor(b.y * 1e9 + 0.5) / 1e9,
             floor((b.y - a.y) * 1e9 + 0.5) / 1e9
      FROM idxd a JOIN idxd b ON b.event_type = a.event_type AND b.i = 2
      WHERE a.i = 1
      UNION ALL
      SELECT hw.event_type, hw.i + 1, hw.n_days,
             floor(({_HOLT_ALPHA} * d.y
                    + (1 - {_HOLT_ALPHA}) * (hw.l + hw.b)) * 1e9 + 0.5) / 1e9,
             floor(({_HOLT_BETA} * (floor(({_HOLT_ALPHA} * d.y
                      + (1 - {_HOLT_ALPHA}) * (hw.l + hw.b)) * 1e9 + 0.5) / 1e9
                      - hw.l)
                    + (1 - {_HOLT_BETA}) * hw.b) * 1e9 + 0.5) / 1e9
      FROM hw JOIN idxd d
        ON d.event_type = hw.event_type AND d.i = hw.i + 1
    )
    SELECT event_type,
           CAST(n_days AS BIGINT) AS n_days,
           CAST(floor(l * 1e6 + 0.5001) AS BIGINT) AS level_e6,
           CAST(floor(b * 1e6 + 0.5001) AS BIGINT) AS trend_e6,
           CAST(floor((l + b) * 1e6 + 0.5001) AS BIGINT) AS forecast_e6
    FROM hw WHERE i = n_days
"""


@query("ts_holt_linear_trend", oracle=HOLT_TREND_ORACLE)
def ts_holt_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend) of the daily
    mean series per event_type, with a one-step-ahead forecast — the
    trend-aware upgrade of ts_ewma_final that SQL window functions
    cannot express (the state is a coupled two-term recurrence).

    Construction: the per-type daily series collapses via one
    map-side-combinable groupBy, is collected into a (day-ordered)
    array per type, and the recurrence runs as a JVM higher-order
    F.aggregate fold over that array — no driver loop, no Python, no
    per-step join. Both states are floored to the 1e-9 grid after
    every step (the graph_pagerank_nations convention), so the fold's
    floating point cannot drift between engines; the DuckDB oracle is
    a recursive CTE stepping the identical formulas — a genuinely
    different evaluation strategy (row recursion vs array fold)
    reaching the same fixed sequence.

    Scale: one shuffle keyed by event_type; per-group state is the
    day array (bounded by the calendar — the same dictionary-trick
    bound as Theil–Sen). At 100 TB this is the shape for thousands of
    independent per-key forecasts: fold per key, never iterate on the
    driver.
    """
    daily = (
        load_table(spark, "events", sf_dir)
        .select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2025-01-01").cast("date")
            ).alias("x"),
            F.floor(F.col("value") * 1000).cast("bigint").alias("v_e3"),
        )
        .groupBy("event_type", "x")
        .agg((F.expr("CAST(sum(v_e3) DIV count(*) AS BIGINT)") / 1000.0).alias("y"))
    )
    series = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("x", "y"))), lambda s: s.y
        ).alias("ys"),
    )
    r9 = lambda c: F.floor(c * 1e9 + 0.5) / 1e9  # noqa: E731
    a, bcoef = _HOLT_ALPHA, _HOLT_BETA
    init = F.struct(
        r9(F.col("ys").getItem(1)).alias("l"),
        r9(F.col("ys").getItem(1) - F.col("ys").getItem(0)).alias("b"),
    )

    def step(acc, y):
        new_l = r9(a * y + (1 - a) * (acc.l + acc.b))
        return F.struct(
            new_l.alias("l"),
            r9(bcoef * (new_l - acc.l) + (1 - bcoef) * acc.b).alias("b"),
        )

    state = F.aggregate(
        F.slice(F.col("ys"), 3, F.greatest(F.size("ys") - 2, F.lit(0))),
        init,
        step,
    )
    return series.where(F.size("ys") >= 2).select(
        "event_type",
        "n_days",
        F.floor(state.l * 1e6 + 0.5001).cast("bigint").alias("level_e6"),
        F.floor(state.b * 1e6 + 0.5001).cast("bigint").alias("trend_e6"),
        F.floor((state.l + state.b) * 1e6 + 0.5001).cast("bigint").alias("forecast_e6"),
    )


# ---------------------------------------------------------------------------
# Cohort time-to-convert order statistics — round 6.
# ---------------------------------------------------------------------------

TIME_TO_CONVERT_ORACLE = """
    WITH views AS (
      SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS v_ts
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), conv AS (
      SELECT e.user_id, v.v_ts, min(CAST(e.ts AS TIMESTAMP)) AS p_ts
      FROM events e JOIN views v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= v.v_ts
      GROUP BY e.user_id, v.v_ts
    ), gaps AS (
      -- floor to whole seconds BEFORE subtracting: Spark's
      -- unix_timestamp truncates sub-second parts per timestamp, and
      -- DuckDB's epoch() keeps fractions, so the raw difference can
      -- disagree by a second across engines
      SELECT date_trunc('day', v_ts) AS cohort_day,
             CAST((CAST(floor(epoch(p_ts)) AS BIGINT)
                   - CAST(floor(epoch(v_ts)) AS BIGINT)) // 60 AS BIGINT)
               AS gap_min
      FROM conv
    ), dic AS (
      SELECT cohort_day, gap_min, count(*) AS c
      FROM gaps GROUP BY cohort_day, gap_min
    ), cum AS (
      SELECT cohort_day, gap_min, c,
             sum(c) OVER (PARTITION BY cohort_day ORDER BY gap_min) AS cc
      FROM dic
    ), tot AS (
      SELECT cohort_day, CAST(sum(c) AS BIGINT) AS n FROM dic GROUP BY 1
    )
    SELECT cum.cohort_day,
           max(tot.n) AS n_converted,
           CAST(min(CASE WHEN cc >= (n + 1) // 2
                    THEN gap_min END) AS BIGINT) AS p50_gap_min,
           CAST(min(CASE WHEN cc >= (9 * n + 9) // 10
                    THEN gap_min END) AS BIGINT) AS p90_gap_min
    FROM cum JOIN tot ON cum.cohort_day = tot.cohort_day
    GROUP BY cum.cohort_day
"""


@query("ts_time_to_convert_cohorts", oracle=TIME_TO_CONVERT_ORACLE)
def ts_time_to_convert_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert order statistics per acquisition cohort: for
    each user, the gap between their FIRST view and the first purchase
    at-or-after it; per first-view day, the count of converters and
    the exact p50/p90 gap in minutes — the latency layer the
    conversion-rate funnel (ts_funnel_conversion) doesn't show.

    Percentiles are exact LOWER ORDER STATISTICS (k = ⌈p·n⌉ selected
    by cumulative counts — pure integers, no interpolation, no engine
    quantile function), computed over the (cohort, gap-minute)
    dictionary: the cumulative window is partitioned per cohort day
    and its input is bounded by minutes-in-range, never by user count.
    Scale: two map-side-combinable groupBys keyed by user, an equi-join
    on user_id for the at-or-after restriction, then dictionary-sized
    work only.
    """
    ev = load_table(spark, "events", sf_dir).select("user_id", "ts", "event_type")
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .join(views, "user_id")
        .where(F.col("ts") >= F.col("v_ts"))
        .groupBy("user_id", "v_ts")
        .agg(F.min("ts").alias("p_ts"))
    )
    gaps = conv.select(
        F.date_trunc("day", "v_ts").alias("cohort_day"),
        F.expr(
            "CAST((unix_timestamp(p_ts) - unix_timestamp(v_ts)) DIV 60"
            " AS BIGINT)"
        ).alias("gap_min"),
    )
    # Checkpointed: the cumulative window and the per-cohort totals
    # both consume the dictionary; without it each re-derived the full
    # views⋈purchases chain (4 events scans before the round-10 fix).
    dic = (
        gaps.groupBy("cohort_day", "gap_min")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    cum = dic.withColumn(
        "cc", F.sum("c").over(W.partitionBy("cohort_day").orderBy("gap_min"))
    )
    tot = dic.groupBy("cohort_day").agg(F.sum("c").cast("long").alias("n"))
    return (
        cum.join(tot, "cohort_day")
        .groupBy("cohort_day")
        .agg(
            F.max("n").alias("n_converted"),
            F.min(
                F.when(F.expr("cc >= (n + 1) DIV 2"), F.col("gap_min"))
            )
            .cast("long")
            .alias("p50_gap_min"),
            F.min(
                F.when(F.expr("cc >= (9 * n + 9) DIV 10"), F.col("gap_min"))
            )
            .cast("long")
            .alias("p90_gap_min"),
        )
    )


# ---------------------------------------------------------------------------
# Holt-Winters additive seasonal smoothing — round 7.
# ---------------------------------------------------------------------------

_HW_ALPHA = 0.5
_HW_BETA = 0.3
_HW_GAMMA = 0.2
_HW_M = 7  # weekly seasonality over the daily series

HW_SEASONAL_ORACLE = f"""
    WITH RECURSIVE daily AS (
      SELECT event_type,
             datediff('day', DATE '2025-01-01', CAST(ts AS DATE)) AS x,
             CAST(sum(CAST(floor(value * 1000) AS BIGINT)) // count(*)
                  AS BIGINT) AS y_e3
      FROM events GROUP BY 1, 2
    ), series AS (
      SELECT event_type, count(*) AS n_days,
             list(y_e3 ORDER BY x) AS ys
      FROM daily GROUP BY 1
    ), base AS (
      SELECT event_type, n_days, ys,
             floor(list_sum(ys[1:7]) / 7000.0 * 1e9 + 0.5) / 1e9 AS l0,
             floor((list_sum(ys[8:14]) - list_sum(ys[1:7])) / 49000.0
                   * 1e9 + 0.5) / 1e9 AS b0
      FROM series WHERE n_days >= 15
    ), init AS (
      SELECT event_type, n_days, ys, l0 AS l, b0 AS b,
             CAST(list_transform(ys[1:7],
                    v -> floor((v / 1000.0 - l0) * 1e9 + 0.5) / 1e9)
                  AS DOUBLE[]) AS seas
      FROM base
    ), hw AS (
      SELECT event_type, n_days, ys, 7 AS t, l, b, seas FROM init
      UNION ALL
      SELECT event_type, n_days, ys, t + 1,
             lnew,
             floor(({_HW_BETA!r} * (lnew - l) + {1 - _HW_BETA!r} * b)
                   * 1e9 + 0.5) / 1e9,
             list_concat(seas[2:7],
               [floor(({_HW_GAMMA!r} * (y - lnew)
                       + {1 - _HW_GAMMA!r} * seas[1]) * 1e9 + 0.5) / 1e9])
      FROM (
        SELECT *, ys[t + 1] / 1000.0 AS y,
               floor(({_HW_ALPHA!r} * (ys[t + 1] / 1000.0 - seas[1])
                      + {1 - _HW_ALPHA!r} * (l + b)) * 1e9 + 0.5) / 1e9
                 AS lnew
        FROM hw WHERE t < n_days
      )
    )
    SELECT event_type,
           CAST(n_days AS BIGINT) AS n_days,
           CAST(floor(l * 1e6 + 0.5001) AS BIGINT) AS level_e6,
           CAST(floor(b * 1e6 + 0.5001) AS BIGINT) AS trend_e6,
           CAST(floor(seas[1] * 1e6 + 0.5001) AS BIGINT) AS season_e6,
           CAST(floor((l + b + seas[1]) * 1e6 + 0.5001) AS BIGINT)
             AS forecast_e6
    FROM hw WHERE t = n_days
"""


@query("ts_holt_winters_seasonal", oracle=HW_SEASONAL_ORACLE)
def ts_holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing (level + trend + m=7
    weekly seasonal state) of the per-type daily mean series, with a
    one-step-ahead forecast — the gamma-term upgrade of
    ts_holt_linear_trend: a metric with a strong weekday cycle (e.g.
    signups dipping every weekend) no longer leaks the cycle into the
    trend estimate.

    State is the coupled triple (l, b, s[1..m]) — inexpressible with
    SQL window functions — carried through a JVM higher-order
    F.aggregate fold whose accumulator is a STRUCT holding the rolling
    seasonal ARRAY (seas[1] is always s_{{t-m}}, the component the
    current step consumes; each step rotates the array left and appends
    the refreshed component). Init is the classic two-window scheme on
    EXACT e3 integers (l0 = mean of days 1..7, b0 = (mean of 8..14 -
    mean of 1..7)/m, s_i = y_i - l0), so both engines start the
    recurrence from bit-identical doubles; every state assignment
    floors to the 1e-9 grid (the ts_holt_linear_trend convention), so
    the fold cannot drift from DuckDB's recursive CTE stepping the
    identical formulas over a LIST-typed state column.

    Scale: one shuffle keyed by event_type; per-key state is the
    calendar-bounded day array. The fold shape is how thousands of
    independent per-key seasonal forecasts run at 100 TB — per key
    inside the executor, never iterating on the driver.

    Reference parity: the reference (j0shgrant/gotsdb) has no
    aggregation surface at all (internal/storage/types.go:3); this is
    [TARGET] forecasting machinery.
    """
    daily = (
        load_table(spark, "events", sf_dir)
        .select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2025-01-01").cast("date")
            ).alias("x"),
            F.floor(F.col("value") * 1000).cast("bigint").alias("v_e3"),
        )
        .groupBy("event_type", "x")
        .agg(F.expr("CAST(sum(v_e3) DIV count(*) AS BIGINT)").alias("y_e3"))
    )
    series = (
        daily.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("x", "y_e3"))),
                lambda s: s.y_e3,
            ).alias("ys"),
        )
        .where(F.col("n_days") >= 2 * _HW_M + 1)
    )
    r9 = lambda c: F.floor(c * 1e9 + 0.5) / 1e9  # noqa: E731
    isum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda a, y: a + y
    )
    sum7a = isum(F.slice("ys", 1, _HW_M))
    sum7b = isum(F.slice("ys", _HW_M + 1, _HW_M))
    l0 = r9(sum7a / 7000.0)
    b0 = r9((sum7b - sum7a) / 49000.0)
    seas0 = F.transform(F.slice("ys", 1, _HW_M), lambda v: r9(v / 1000.0 - l0))
    init = F.struct(l0.alias("l"), b0.alias("b"), seas0.alias("seas"))
    a, a1 = _HW_ALPHA, 1 - _HW_ALPHA
    g, g1 = _HW_GAMMA, 1 - _HW_GAMMA
    bt, bt1 = _HW_BETA, 1 - _HW_BETA

    def step(acc, v):
        y = v / 1000.0
        s1 = F.element_at(acc.seas, 1)
        lnew = r9(F.lit(a) * (y - s1) + F.lit(a1) * (acc.l + acc.b))
        bnew = r9(F.lit(bt) * (lnew - acc.l) + F.lit(bt1) * acc.b)
        snew = r9(F.lit(g) * (y - lnew) + F.lit(g1) * s1)
        return F.struct(
            lnew.alias("l"),
            bnew.alias("b"),
            F.concat(F.slice(acc.seas, 2, _HW_M - 1), F.array(snew)).alias(
                "seas"
            ),
        )

    state = F.aggregate(
        F.slice("ys", _HW_M + 1, F.size("ys") - _HW_M), init, step
    )
    s_next = F.element_at(state.seas, 1)
    return series.select(
        "event_type",
        "n_days",
        F.floor(state.l * 1e6 + 0.5001).cast("bigint").alias("level_e6"),
        F.floor(state.b * 1e6 + 0.5001).cast("bigint").alias("trend_e6"),
        F.floor(s_next * 1e6 + 0.5001).cast("bigint").alias("season_e6"),
        F.floor((state.l + state.b + s_next) * 1e6 + 0.5001)
        .cast("bigint")
        .alias("forecast_e6"),
    )


# ---------------------------------------------------------------------------
# Seasonal-naive vs last-value forecast-error audit — round 7.
# ---------------------------------------------------------------------------

SEASONAL_NAIVE_ORACLE = """
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '2025-01-01', CAST(ts AS DATE)) AS x,
             CAST(sum(CAST(floor(value * 1000) AS BIGINT)) // count(*)
                  AS BIGINT) AS y_e3
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT event_type, x, y_e3,
             lag(y_e3, 1) OVER (PARTITION BY event_type ORDER BY x) AS l1,
             lag(y_e3, 7) OVER (PARTITION BY event_type ORDER BY x) AS l7
      FROM daily
    ), errs AS (
      SELECT event_type,
             CAST(count(l7) AS BIGINT) AS n_scored,
             CAST(sum(CASE WHEN l7 IS NOT NULL
                           THEN abs(y_e3 - l1) END) AS BIGINT) AS sae_naive_e3,
             CAST(sum(abs(y_e3 - l7)) AS BIGINT) AS sae_seasonal_e3
      FROM lagged WHERE l1 IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n_scored,
           CAST(sae_naive_e3 // n_scored AS BIGINT) AS mae_naive_e3,
           CAST(sae_seasonal_e3 // n_scored AS BIGINT) AS mae_seasonal_e3,
           CAST(sae_seasonal_e3 * 1000000 // NULLIF(sae_naive_e3, 0)
                AS BIGINT) AS seasonal_vs_naive_e6
    FROM errs
"""


@query("ts_seasonal_naive_error", oracle=SEASONAL_NAIVE_ORACLE)
def ts_seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline audit: mean absolute error of the lag-1 naive
    forecast vs the lag-7 seasonal-naive forecast on the per-type daily
    series, scored over the SAME days (those where both lags exist) —
    the denominator of MASE and the first question any forecasting
    rollout (including ts_holt_winters_seasonal) must answer: does a
    weekly cycle actually beat "same as yesterday"? A ratio below 1e6
    says seasonality is real; above says the gamma term is fitting
    noise.

    Exact integers end-to-end: the daily series is the e3 mean
    dictionary, errors are |y−lag| sums of e3 integers, MAE is integer
    division, and the head-to-head ratio is an exact e6 rational —
    nothing for engines to disagree on.

    Scale: one shuffle to the (type, day) dictionary (calendar-bounded
    per type), then ONE type-partitioned window computing both lags in
    a single pass — never a global window, state bounded by the day
    span.
    """
    daily = (
        load_table(spark, "events", sf_dir)
        .select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2025-01-01").cast("date")
            ).alias("x"),
            F.floor(F.col("value") * 1000).cast("bigint").alias("v_e3"),
        )
        .groupBy("event_type", "x")
        .agg(F.expr("CAST(sum(v_e3) DIV count(*) AS BIGINT)").alias("y_e3"))
    )
    w = W.partitionBy("event_type").orderBy("x")
    lagged = daily.select(
        "event_type",
        "y_e3",
        F.lag("y_e3", 1).over(w).alias("l1"),
        F.lag("y_e3", 7).over(w).alias("l7"),
    ).where(F.col("l1").isNotNull())
    errs = lagged.groupBy("event_type").agg(
        F.count("l7").cast("long").alias("n_scored"),
        F.sum(
            F.when(F.col("l7").isNotNull(), F.abs(F.col("y_e3") - F.col("l1")))
        )
        .cast("long")
        .alias("sae_naive_e3"),
        F.sum(F.abs(F.col("y_e3") - F.col("l7"))).cast("long").alias(
            "sae_seasonal_e3"
        ),
    )
    return errs.select(
        "event_type",
        "n_scored",
        F.expr("CAST(sae_naive_e3 DIV n_scored AS BIGINT)").alias("mae_naive_e3"),
        F.expr("CAST(sae_seasonal_e3 DIV n_scored AS BIGINT)").alias(
            "mae_seasonal_e3"
        ),
        F.expr(
            "CAST(sae_seasonal_e3 * 1000000 DIV NULLIF(sae_naive_e3, 0)"
            " AS BIGINT)"
        ).alias("seasonal_vs_naive_e6"),
    )


# ---------------------------------------------------------------------------
# Damped-trend Holt smoothing — round 8.
# ---------------------------------------------------------------------------

_HD_ALPHA = 0.5
_HD_BETA = 0.3
_HD_PHI = 0.9  # damping factor
_HD_H = 7  # forecast horizon (days)
# Σ φ^k for k=1..H — the damped multiplier of the trend in the h-step
# forecast. Computed once in Python and embedded as the SAME double
# literal in both engines' expressions.
_HD_PHI_HSUM = sum(_HD_PHI**k for k in range(1, _HD_H + 1))

HOLT_DAMPED_ORACLE = f"""
    WITH RECURSIVE daily AS (
      SELECT event_type,
             datediff('day', DATE '2025-01-01', CAST(ts AS DATE)) AS x,
             CAST(sum(CAST(floor(value * 1000) AS BIGINT)) // count(*)
                  AS BIGINT) AS y_e3
      FROM events GROUP BY 1, 2
    ), series AS (
      SELECT event_type, count(*) AS n_days,
             list(y_e3 ORDER BY x) AS ys
      FROM daily GROUP BY 1
    ), rec AS (
      SELECT event_type, n_days, ys, 1 AS t,
             floor(ys[1] / 1000.0 * 1e9 + 0.5) / 1e9 AS l,
             floor((ys[2] - ys[1]) / 1000.0 * 1e9 + 0.5) / 1e9 AS b
      FROM series WHERE n_days >= 3
      UNION ALL
      SELECT event_type, n_days, ys, t + 1,
             lnew,
             floor(({_HD_BETA!r} * (lnew - l)
                    + {1 - _HD_BETA!r} * {_HD_PHI!r} * b) * 1e9 + 0.5) / 1e9
      FROM (
        SELECT *,
               floor(({_HD_ALPHA!r} * (ys[t + 1] / 1000.0)
                      + {1 - _HD_ALPHA!r} * (l + {_HD_PHI!r} * b))
                     * 1e9 + 0.5) / 1e9 AS lnew
        FROM rec WHERE t < n_days
      )
    )
    SELECT event_type,
           CAST(n_days AS BIGINT) AS n_days,
           CAST(floor(l * 1e6 + 0.5001) AS BIGINT) AS level_e6,
           CAST(floor(b * 1e6 + 0.5001) AS BIGINT) AS trend_e6,
           CAST(floor((l + {_HD_PHI_HSUM!r} * b) * 1e6 + 0.5001) AS BIGINT)
             AS forecast_h7_e6
    FROM rec WHERE t = n_days
"""


@query("ts_holt_winters_damped", oracle=HOLT_DAMPED_ORACLE)
def ts_holt_winters_damped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAMPED-trend Holt smoothing (Gardner–McKenzie φ-damping) of the
    per-type daily mean series with a 7-day-ahead forecast — the
    long-horizon companion of ts_holt_linear_trend: an undamped linear
    trend extrapolates to ±∞ and is the classic over-forecast at
    h > a few steps; damping multiplies each successive trend
    increment by φ < 1, so the h-step forecast converges to
    l + b·φ/(1−φ) instead of diverging. The M3-competition result that
    made this the default in production forecast libraries.

    Recurrence (α level, β trend, φ damping):
      l_t = α·y_t + (1−α)·(l_{{t-1}} + φ·b_{{t-1}})
      b_t = β·(l_t − l_{{t-1}}) + (1−β)·φ·b_{{t-1}}
      ŷ_{{t+h}} = l_t + (φ + φ² + … + φ^h)·b_t
    Like ts_holt_winters_seasonal, the coupled (l, b) state is carried
    through a JVM higher-order F.aggregate fold with every assignment
    floored to the 1e-9 grid, starting from exact-e3-integer init
    (l₀ = y₁, b₀ = y₂ − y₁), so the fold cannot drift from DuckDB's
    recursive CTE stepping the identical formulas; the φ-sum horizon
    multiplier is one Python-computed double literal embedded
    identically in both engines.

    Scale: one shuffle keyed by event_type; per-key state is two
    doubles over the calendar-bounded day array — thousands of
    independent per-key forecasts run inside executors, never on the
    driver.

    Reference parity: the reference (j0shgrant/gotsdb) has no
    aggregation surface at all (internal/storage/types.go:3); this is
    [TARGET] forecasting machinery.
    """
    daily = (
        load_table(spark, "events", sf_dir)
        .select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2025-01-01").cast("date")
            ).alias("x"),
            F.floor(F.col("value") * 1000).cast("bigint").alias("v_e3"),
        )
        .groupBy("event_type", "x")
        .agg(F.expr("CAST(sum(v_e3) DIV count(*) AS BIGINT)").alias("y_e3"))
    )
    series = (
        daily.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("x", "y_e3"))),
                lambda s: s.y_e3,
            ).alias("ys"),
        )
        .where(F.col("n_days") >= 3)
    )
    r9 = lambda c: F.floor(c * 1e9 + 0.5) / 1e9  # noqa: E731
    l0 = r9(F.element_at("ys", 1) / 1000.0)
    b0 = r9((F.element_at("ys", 2) - F.element_at("ys", 1)) / 1000.0)
    init = F.struct(l0.alias("l"), b0.alias("b"))
    a, a1 = _HD_ALPHA, 1 - _HD_ALPHA
    bt, bt1 = _HD_BETA, 1 - _HD_BETA
    ph = _HD_PHI

    def step(acc, v):
        y = v / 1000.0
        lnew = r9(F.lit(a) * y + F.lit(a1) * (acc.l + F.lit(ph) * acc.b))
        bnew = r9(
            F.lit(bt) * (lnew - acc.l) + F.lit(bt1) * F.lit(ph) * acc.b
        )
        return F.struct(lnew.alias("l"), bnew.alias("b"))

    state = F.aggregate(F.slice("ys", 2, F.size("ys") - 1), init, step)
    return series.select(
        "event_type",
        "n_days",
        F.floor(state.l * 1e6 + 0.5001).cast("bigint").alias("level_e6"),
        F.floor(state.b * 1e6 + 0.5001).cast("bigint").alias("trend_e6"),
        F.floor((state.l + F.lit(_HD_PHI_HSUM) * state.b) * 1e6 + 0.5001)
        .cast("bigint")
        .alias("forecast_h7_e6"),
    )


# ---------------------------------------------------------------------------
# First-order Markov transition matrix over event sequences — round 8.
# ---------------------------------------------------------------------------

MARKOV_ORACLE = """
    WITH seq AS (
      SELECT event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS nxt
      FROM events
    ), trans AS (
      SELECT event_type AS from_type, nxt AS to_type, count(*) AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    ), marg AS (
      SELECT from_type, sum(n) AS tot FROM trans GROUP BY 1
    )
    SELECT t.from_type, t.to_type,
           CAST(t.n AS BIGINT) AS n_transitions,
           CAST(t.n * 1000000 // m.tot AS BIGINT) AS p_e6
    FROM trans t JOIN marg m USING (from_type)
"""


@query("events_markov_transitions", oracle=MARKOV_ORACLE)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of per-user event
    sequences: P(next event type | current event type) with exact e6
    probabilities — the behavioral fingerprint behind "what do users do
    after an error?" (error→abandon vs error→retry), and the
    generative null model that sequence-pattern mining
    (ts_pattern_quantified) is measured against.

    Each user's events are ordered by (ts, event_id) — the repo's total
    ordering for event streams, so the successor relation is
    deterministic cross-engine — and the successor is one LEAD in a
    user-partitioned window. Transition counts are a map-side-
    combinable groupBy to the |types|² matrix; row-normalization joins
    the |types|-row marginal back (broadcast) and divides exactly
    (n·1e6 DIV total). No floats anywhere.

    Scale: the window state is per-user (bounded by one user's
    history); the matrix is type-bounded (25 cells here), so everything
    after the first shuffle is O(1)-sized regardless of data volume.

    Reference parity: the reference (j0shgrant/gotsdb) has no ordering
    or windowing surface (internal/storage/types.go:3); this is
    [TARGET] product-analytics machinery.
    """
    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    trans = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    marg = trans.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return trans.join(F.broadcast(marg), "from_type").select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n_transitions"),
        F.expr("CAST(n * 1000000 DIV tot AS BIGINT)").alias("p_e6"),
    )


# ---------------------------------------------------------------------------
# Holt-Winters MULTIPLICATIVE seasonal smoothing — round 8.
# ---------------------------------------------------------------------------

HW_MULT_ORACLE = f"""
    WITH RECURSIVE daily AS (
      SELECT event_type,
             datediff('day', DATE '2025-01-01', CAST(ts AS DATE)) AS x,
             CAST(sum(CAST(floor(value * 1000) AS BIGINT)) // count(*)
                  AS BIGINT) AS y_e3
      FROM events GROUP BY 1, 2
    ), series AS (
      SELECT event_type, count(*) AS n_days,
             list(y_e3 ORDER BY x) AS ys,
             min(y_e3) AS ymin
      FROM daily GROUP BY 1
    ), base AS (
      SELECT event_type, n_days, ys,
             floor(list_sum(ys[1:7]) / 7000.0 * 1e9 + 0.5) / 1e9 AS l0,
             floor((list_sum(ys[8:14]) - list_sum(ys[1:7])) / 49000.0
                   * 1e9 + 0.5) / 1e9 AS b0
      FROM series WHERE n_days >= 15 AND ymin > 0
    ), init AS (
      SELECT event_type, n_days, ys, l0 AS l, b0 AS b,
             CAST(list_transform(ys[1:7],
                    v -> floor((v / 1000.0) / l0 * 1e9 + 0.5) / 1e9)
                  AS DOUBLE[]) AS seas
      FROM base
    ), hw AS (
      SELECT event_type, n_days, ys, 7 AS t, l, b, seas FROM init
      UNION ALL
      SELECT event_type, n_days, ys, t + 1,
             lnew,
             floor(({_HW_BETA!r} * (lnew - l) + {1 - _HW_BETA!r} * b)
                   * 1e9 + 0.5) / 1e9,
             list_concat(seas[2:7],
               [floor(({_HW_GAMMA!r} * (y / lnew)
                       + {1 - _HW_GAMMA!r} * seas[1]) * 1e9 + 0.5) / 1e9])
      FROM (
        SELECT *, ys[t + 1] / 1000.0 AS y,
               floor(({_HW_ALPHA!r} * ((ys[t + 1] / 1000.0) / seas[1])
                      + {1 - _HW_ALPHA!r} * (l + b)) * 1e9 + 0.5) / 1e9
                 AS lnew
        FROM hw WHERE t < n_days
      )
    )
    SELECT event_type,
           CAST(n_days AS BIGINT) AS n_days,
           CAST(floor(l * 1e6 + 0.5001) AS BIGINT) AS level_e6,
           CAST(floor(b * 1e6 + 0.5001) AS BIGINT) AS trend_e6,
           CAST(floor(seas[1] * 1e6 + 0.5001) AS BIGINT) AS season_e6,
           CAST(floor((l + b) * seas[1] * 1e6 + 0.5001) AS BIGINT)
             AS forecast_e6
    FROM hw WHERE t = n_days
"""


@query("ts_holt_winters_multiplicative", oracle=HW_MULT_ORACLE)
def ts_holt_winters_multiplicative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters MULTIPLICATIVE seasonal smoothing — the variant for
    series whose seasonal swing scales WITH the level (a retail metric
    whose weekend dip is -20%, not -2000 units): seasonal components
    are ratios around 1.0, the update divides by them where the
    additive form subtracts, and the forecast multiplies (l + b) by
    the next ratio. Completes the forecasting family: linear trend
    (ts_holt_linear_trend) / damped (ts_holt_winters_damped) /
    additive seasonal (ts_holt_winters_seasonal) / multiplicative
    seasonal (this).

      l_t = α·(y_t / s_{{t-m}}) + (1-α)·(l_{{t-1}} + b_{{t-1}})
      b_t = β·(l_t - l_{{t-1}}) + (1-β)·b_{{t-1}}
      s_t = γ·(y_t / l_t) + (1-γ)·s_{{t-m}}

    Same machinery as the additive twin: coupled (l, b, s[1..7])
    struct carried through a JVM F.aggregate fold, rolling seasonal
    array rotation, exact-e3-integer init (s_i = y_i/l0 here), every
    assignment floored to the 1e-9 grid so the fold cannot drift from
    DuckDB's recursive CTE. Series with any non-positive daily mean
    are excluded up front (multiplicative decomposition is undefined
    there — the standard applicability gate, enforced identically in
    both engines).

    Scale: one shuffle keyed by event_type; per-key state is the
    calendar-bounded day array inside the executor.

    Reference parity: the reference (j0shgrant/gotsdb) has no
    aggregation surface (internal/storage/types.go:3); this is
    [TARGET] forecasting machinery.
    """
    daily = (
        load_table(spark, "events", sf_dir)
        .select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2025-01-01").cast("date")
            ).alias("x"),
            F.floor(F.col("value") * 1000).cast("bigint").alias("v_e3"),
        )
        .groupBy("event_type", "x")
        .agg(F.expr("CAST(sum(v_e3) DIV count(*) AS BIGINT)").alias("y_e3"))
    )
    series = (
        daily.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("x", "y_e3"))),
                lambda s: s.y_e3,
            ).alias("ys"),
            F.min("y_e3").alias("ymin"),
        )
        .where((F.col("n_days") >= 2 * _HW_M + 1) & (F.col("ymin") > 0))
    )
    r9 = lambda c: F.floor(c * 1e9 + 0.5) / 1e9  # noqa: E731
    isum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda a, y: a + y
    )
    sum7a = isum(F.slice("ys", 1, _HW_M))
    sum7b = isum(F.slice("ys", _HW_M + 1, _HW_M))
    l0 = r9(sum7a / 7000.0)
    b0 = r9((sum7b - sum7a) / 49000.0)
    seas0 = F.transform(
        F.slice("ys", 1, _HW_M), lambda v: r9((v / 1000.0) / l0)
    )
    init = F.struct(l0.alias("l"), b0.alias("b"), seas0.alias("seas"))
    a, a1 = _HW_ALPHA, 1 - _HW_ALPHA
    g, g1 = _HW_GAMMA, 1 - _HW_GAMMA
    bt, bt1 = _HW_BETA, 1 - _HW_BETA

    def step(acc, v):
        y = v / 1000.0
        s1 = F.element_at(acc.seas, 1)
        lnew = r9(F.lit(a) * (y / s1) + F.lit(a1) * (acc.l + acc.b))
        bnew = r9(F.lit(bt) * (lnew - acc.l) + F.lit(bt1) * acc.b)
        snew = r9(F.lit(g) * (y / lnew) + F.lit(g1) * s1)
        return F.struct(
            lnew.alias("l"),
            bnew.alias("b"),
            F.concat(F.slice(acc.seas, 2, _HW_M - 1), F.array(snew)).alias(
                "seas"
            ),
        )

    state = F.aggregate(
        F.slice("ys", _HW_M + 1, F.size("ys") - _HW_M), init, step
    )
    s_next = F.element_at(state.seas, 1)
    return series.select(
        "event_type",
        "n_days",
        F.floor(state.l * 1e6 + 0.5001).cast("bigint").alias("level_e6"),
        F.floor(state.b * 1e6 + 0.5001).cast("bigint").alias("trend_e6"),
        F.floor(s_next * 1e6 + 0.5001).cast("bigint").alias("season_e6"),
        F.floor((state.l + state.b) * s_next * 1e6 + 0.5001)
        .cast("bigint")
        .alias("forecast_e6"),
    )


# ---------------------------------------------------------------------------
# Holt-Winters damped-trend + additive-seasonal smoothing — round 9.
# ---------------------------------------------------------------------------

# Reuses the additive-seasonal constants (alpha/beta/gamma, m=7) and
# the damped-trend phi; the phi-sum horizon multiplier is one
# Python-computed double embedded identically in both engines.
_HWDS_H = 7
_HWDS_PHI_HSUM = sum(_HD_PHI**k for k in range(1, _HWDS_H + 1))

HW_DAMPED_SEASONAL_ORACLE = f"""
    WITH RECURSIVE daily AS (
      SELECT event_type,
             datediff('day', DATE '2025-01-01', CAST(ts AS DATE)) AS x,
             CAST(sum(CAST(floor(value * 1000) AS BIGINT)) // count(*)
                  AS BIGINT) AS y_e3
      FROM events GROUP BY 1, 2
    ), series AS (
      SELECT event_type, count(*) AS n_days,
             list(y_e3 ORDER BY x) AS ys
      FROM daily GROUP BY 1
    ), base AS (
      SELECT event_type, n_days, ys,
             floor(list_sum(ys[1:7]) / 7000.0 * 1e9 + 0.5) / 1e9 AS l0,
             floor((list_sum(ys[8:14]) - list_sum(ys[1:7])) / 49000.0
                   * 1e9 + 0.5) / 1e9 AS b0
      FROM series WHERE n_days >= 15
    ), init AS (
      SELECT event_type, n_days, ys, l0 AS l, b0 AS b,
             CAST(list_transform(ys[1:7],
                    v -> floor((v / 1000.0 - l0) * 1e9 + 0.5) / 1e9)
                  AS DOUBLE[]) AS seas
      FROM base
    ), hw AS (
      SELECT event_type, n_days, ys, 7 AS t, l, b, seas FROM init
      UNION ALL
      SELECT event_type, n_days, ys, t + 1,
             lnew,
             floor(({_HW_BETA!r} * (lnew - l)
                    + {1 - _HW_BETA!r} * {_HD_PHI!r} * b)
                   * 1e9 + 0.5) / 1e9,
             list_concat(seas[2:7],
               [floor(({_HW_GAMMA!r} * (y - lnew)
                       + {1 - _HW_GAMMA!r} * seas[1]) * 1e9 + 0.5) / 1e9])
      FROM (
        SELECT *, ys[t + 1] / 1000.0 AS y,
               floor(({_HW_ALPHA!r} * (ys[t + 1] / 1000.0 - seas[1])
                      + {1 - _HW_ALPHA!r} * (l + {_HD_PHI!r} * b))
                     * 1e9 + 0.5) / 1e9
                 AS lnew
        FROM hw WHERE t < n_days
      )
    )
    SELECT event_type,
           CAST(n_days AS BIGINT) AS n_days,
           CAST(floor(l * 1e6 + 0.5001) AS BIGINT) AS level_e6,
           CAST(floor(b * 1e6 + 0.5001) AS BIGINT) AS trend_e6,
           CAST(floor(seas[1] * 1e6 + 0.5001) AS BIGINT) AS season_e6,
           CAST(floor((l + {_HD_PHI!r} * b + seas[1]) * 1e6 + 0.5001)
                AS BIGINT) AS forecast_e6,
           CAST(floor((l + {_HWDS_PHI_HSUM!r} * b + seas[1]) * 1e6 + 0.5001)
                AS BIGINT) AS forecast_h7_e6
    FROM hw WHERE t = n_days
"""


@query("ts_holt_winters_damped_seasonal", oracle=HW_DAMPED_SEASONAL_ORACLE)
def ts_holt_winters_damped_seasonal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Holt-Winters with BOTH phi-damped trend and additive m=7
    seasonality — the remaining cell of the exponential-smoothing
    taxonomy this repo covers (linear trend: ts_holt_linear_trend;
    damped trend: ts_holt_winters_damped; additive/multiplicative
    seasonal: ts_holt_winters_seasonal/_multiplicative). The
    M3-competition default for long-horizon seasonal series: the
    weekday cycle stays out of the trend AND the h-step forecast
    converges to l + b*phi/(1-phi) + s instead of diverging.

    Recurrence (alpha level, beta trend, gamma seasonal, phi damping):
      l_t = alpha*(y_t - s_{{t-m}}) + (1-alpha)*(l_{{t-1}} + phi*b_{{t-1}})
      b_t = beta*(l_t - l_{{t-1}}) + (1-beta)*phi*b_{{t-1}}
      s_t = gamma*(y_t - l_t) + (1-gamma)*s_{{t-m}}
      yhat_{{t+h}} = l_t + (phi + ... + phi^h)*b_t + s_{{t+h-m}}
    State (l, b, seas[1..7]) rides the same JVM higher-order
    F.aggregate fold as the seasonal twin, every assignment floored to
    the 1e-9 grid from exact-e3-integer init, so the fold cannot drift
    from DuckDB's recursive CTE stepping the identical formulas; the
    one-step and seven-step phi multipliers are Python-computed double
    literals embedded identically in both engines.

    Scale: one shuffle keyed by event_type; per-key state is two
    doubles plus a 7-slot array over the calendar-bounded day array —
    thousands of independent per-key forecasts run inside executors,
    never on the driver.

    Reference parity: the reference (j0shgrant/gotsdb) has no
    aggregation surface at all (internal/storage/types.go:3); this is
    [TARGET] forecasting machinery.
    """
    daily = (
        load_table(spark, "events", sf_dir)
        .select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2025-01-01").cast("date")
            ).alias("x"),
            F.floor(F.col("value") * 1000).cast("bigint").alias("v_e3"),
        )
        .groupBy("event_type", "x")
        .agg(F.expr("CAST(sum(v_e3) DIV count(*) AS BIGINT)").alias("y_e3"))
    )
    series = (
        daily.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("x", "y_e3"))),
                lambda s: s.y_e3,
            ).alias("ys"),
        )
        .where(F.col("n_days") >= 2 * _HW_M + 1)
    )
    r9 = lambda c: F.floor(c * 1e9 + 0.5) / 1e9  # noqa: E731
    isum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda a, y: a + y
    )
    sum7a = isum(F.slice("ys", 1, _HW_M))
    sum7b = isum(F.slice("ys", _HW_M + 1, _HW_M))
    l0 = r9(sum7a / 7000.0)
    b0 = r9((sum7b - sum7a) / 49000.0)
    seas0 = F.transform(F.slice("ys", 1, _HW_M), lambda v: r9(v / 1000.0 - l0))
    init = F.struct(l0.alias("l"), b0.alias("b"), seas0.alias("seas"))
    a, a1 = _HW_ALPHA, 1 - _HW_ALPHA
    g, g1 = _HW_GAMMA, 1 - _HW_GAMMA
    bt, bt1 = _HW_BETA, 1 - _HW_BETA
    ph = _HD_PHI

    def step(acc, v):
        y = v / 1000.0
        s1 = F.element_at(acc.seas, 1)
        lnew = r9(
            F.lit(a) * (y - s1) + F.lit(a1) * (acc.l + F.lit(ph) * acc.b)
        )
        bnew = r9(
            F.lit(bt) * (lnew - acc.l) + F.lit(bt1) * F.lit(ph) * acc.b
        )
        snew = r9(F.lit(g) * (y - lnew) + F.lit(g1) * s1)
        return F.struct(
            lnew.alias("l"),
            bnew.alias("b"),
            F.concat(F.slice(acc.seas, 2, _HW_M - 1), F.array(snew)).alias(
                "seas"
            ),
        )

    state = F.aggregate(
        F.slice("ys", _HW_M + 1, F.size("ys") - _HW_M), init, step
    )
    s_next = F.element_at(state.seas, 1)
    return series.select(
        "event_type",
        "n_days",
        F.floor(state.l * 1e6 + 0.5001).cast("bigint").alias("level_e6"),
        F.floor(state.b * 1e6 + 0.5001).cast("bigint").alias("trend_e6"),
        F.floor(s_next * 1e6 + 0.5001).cast("bigint").alias("season_e6"),
        F.floor(
            (state.l + F.lit(ph) * state.b + s_next) * 1e6 + 0.5001
        )
        .cast("bigint")
        .alias("forecast_e6"),
        F.floor(
            (state.l + F.lit(_HWDS_PHI_HSUM) * state.b + s_next) * 1e6
            + 0.5001
        )
        .cast("bigint")
        .alias("forecast_h7_e6"),
    )


# ---------------------------------------------------------------------------
# SAX symbolic aggregate approximation — round 9b.
# ---------------------------------------------------------------------------

_SAX_P = 8  # PAA segments per series
# Gaussian breakpoints for a 4-symbol alphabet (quartiles of N(0,1)),
# embedded as the SAME double literals in both engines' expressions.
_SAX_BP = 0.6745

# Shared-verbatim float fragments: n/s1/s2 = per-type day count and
# exact e3 value sums; seg_sum/seg_cnt = per-segment exact sums. The
# z-score of a segment mean is ONE double expression over exact
# integers.
_SAX_MU = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
_SAX_SIG = (
    f"sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - {_SAX_MU} * {_SAX_MU})"
)
_SAX_Z = (
    f"((CAST(seg_sum AS DOUBLE) / CAST(seg_cnt AS DOUBLE) - {_SAX_MU})"
    f" / {_SAX_SIG})"
)
_SAX_SYM = (
    f"CASE WHEN {_SAX_Z} < -{_SAX_BP} THEN 'a'"
    f" WHEN {_SAX_Z} < 0.0 THEN 'b'"
    f" WHEN {_SAX_Z} < {_SAX_BP} THEN 'c'"
    " ELSE 'd' END"
)

SAX_ORACLE = f"""
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '2025-01-01', CAST(ts AS DATE)) AS x,
             CAST(sum(CAST(floor(value * 1000) AS BIGINT)) // count(*)
                  AS BIGINT) AS y_e3
      FROM events GROUP BY 1, 2
    ), stats AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             sum(CAST(y_e3 AS HUGEINT)) AS s1,
             sum(CAST(y_e3 AS HUGEINT) * y_e3) AS s2
      FROM daily GROUP BY event_type
    ), idx AS (
      SELECT event_type, y_e3,
             row_number() OVER (PARTITION BY event_type ORDER BY x) - 1 AS i
      FROM daily
    ), segs AS (
      SELECT i.event_type,
             CAST(i.i * {_SAX_P} // s.n AS BIGINT) AS seg,
             sum(CAST(i.y_e3 AS HUGEINT)) AS seg_sum,
             CAST(count(*) AS BIGINT) AS seg_cnt
      FROM idx i JOIN stats s USING (event_type)
      WHERE s.n >= {_SAX_P}
      GROUP BY 1, 2
    ), syms AS (
      SELECT g.event_type, g.seg, {_SAX_SYM} AS sym
      FROM segs g JOIN stats s USING (event_type)
      -- DuckDB resolves seg_sum/seg_cnt/n/s1/s2 unqualified from g, s
    )
    SELECT y.event_type,
           s.n AS n_days,
           CAST(s.s1 // s.n AS BIGINT) AS mean_e3,
           string_agg(y.sym, '' ORDER BY y.seg) AS sax
    FROM syms y JOIN stats s USING (event_type)
    GROUP BY y.event_type, s.n, s.s1
"""


@query("ts_sax_symbolic", oracle=SAX_ORACLE)
def ts_sax_symbolic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation) of the per-type daily
    event series: z-normalize, Piecewise-Aggregate into {p} equal-width
    segments, then quantize each segment mean against the N(0,1)
    quartile breakpoints into an 'a'-'d' string — the classic
    shape-indexing transform (Lin/Keogh) that lets a 100 TB archive of
    series be motif-mined, clustered, or similarity-searched as SHORT
    STRINGS (equi-joinable, groupBy-able) instead of float vectors:
    two series with the same SAX word are shape-candidates without a
    single float comparison at query time.

    Determinism path: the daily series is the exact e3 integer
    dictionary; per-type moments (n, sum, sum-of-squares — the latter
    DECIMAL(38,0)) and per-segment sums are exact integers; the only
    floats are the segment z-scores, each ONE double expression shared
    VERBATIM between the Spark query and the DuckDB oracle (_SAX_*
    fragments above) compared against shared literals — the symbol
    boundary decision is therefore bit-identical in both engines. Day
    ranks come from a type-PARTITIONED row_number; segment assignment
    i*{p} DIV n is integer.

    Scale: one shuffle to the (type, day) dictionary
    (calendar-bounded per type), one partitioned window for ranks, two
    bounded groupBys, a grid-sized stats join, and a {p}-element
    sorted-struct fold into the word. No global window, nothing
    row-count-sized past the first groupBy.

    Reference parity: the reference (j0shgrant/gotsdb) has no series
    surface (internal/storage/types.go:3); this is [TARGET]
    time-series machinery.
    """
    daily = (
        load_table(spark, "events", sf_dir)
        .select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2025-01-01").cast("date")
            ).alias("x"),
            F.floor(F.col("value") * 1000).cast("bigint").alias("v_e3"),
        )
        .groupBy("event_type", "x")
        .agg(F.expr("CAST(sum(v_e3) DIV count(*) AS BIGINT)").alias("y_e3"))
        # Checkpointed: the moment stats and the rank pass both consume
        # the dictionary (round-10 scan-audit fix — one events pass).
        .localCheckpoint(eager=False)
    )
    dec = "decimal(38,0)"
    # Also checkpointed: three joins read the grid-sized stats frame.
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("y_e3").cast(dec)).alias("s1"),
        F.sum(F.col("y_e3").cast(dec) * F.col("y_e3")).alias("s2"),
    ).localCheckpoint(eager=False)
    idx = daily.select(
        "event_type",
        "y_e3",
        (
            F.row_number().over(W.partitionBy("event_type").orderBy("x")) - 1
        ).alias("i"),
    )
    segs = (
        idx.join(stats.where(F.col("n") >= _SAX_P), "event_type")
        .select(
            "event_type",
            F.expr(f"CAST(i * {_SAX_P} DIV n AS BIGINT)").alias("seg"),
            "y_e3",
        )
        .groupBy("event_type", "seg")
        .agg(
            F.sum(F.col("y_e3").cast(dec)).alias("seg_sum"),
            F.count(F.lit(1)).cast("long").alias("seg_cnt"),
        )
    )
    syms = segs.join(stats, "event_type").select(
        "event_type", "seg", F.expr(_SAX_SYM).alias("sym")
    )
    return (
        syms.join(stats, "event_type")
        .groupBy("event_type", "n", "s1")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg", "sym"))),
                    lambda s: s.sym,
                ),
                "",
            ).alias("sax")
        )
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.expr("CAST(s1 DIV n AS BIGINT)").alias("mean_e3"),
            "sax",
        )
    )


ts_sax_symbolic.__doc__ = ts_sax_symbolic.__doc__.format(p=_SAX_P)


# ---------------------------------------------------------------------------
# Classical seasonal decomposition by moving averages — round 10.
# ---------------------------------------------------------------------------

SEASONAL_DECOMP_ORACLE = """
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '2025-01-01', CAST(ts AS DATE)) AS x,
             CAST(sum(CAST(floor(value * 1000) AS BIGINT)) // count(*)
                  AS BIGINT) AS y_e3
      FROM events GROUP BY 1, 2
    ), ma AS (
      SELECT event_type, x, y_e3,
             CAST(sum(y_e3) OVER w AS BIGINT) AS trend_sum_e3,
             CAST(count(*) OVER w AS BIGINT) AS frame_n
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY x
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), det AS (
      SELECT event_type, ((x % 7) + 7) % 7 AS dow,
             7 * y_e3 - trend_sum_e3 AS det_x7_e3
      FROM ma WHERE frame_n = 7
    ), raw AS (
      SELECT event_type, dow,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(floor(sum(det_x7_e3) * 1.0 / (7 * count(*)) + 0.5001)
                  AS BIGINT) AS seas_raw_e3
      FROM det GROUP BY event_type, dow
    )
    SELECT event_type, dow, n_days, seas_raw_e3,
           CAST(7 * seas_raw_e3
                - sum(seas_raw_e3) OVER (PARTITION BY event_type)
                AS BIGINT) AS seas_adj_x7_e3
    FROM raw
"""


@query("ts_seasonal_decompose", oracle=SEASONAL_DECOMP_ORACLE)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition by moving averages: per
    event_type, the weekly seasonal indices of the daily series —
    trend = centered 7-day moving average, detrended = series − trend,
    seasonal index = per-weekday mean of the detrended values, then
    adjusted so the 7 indices sum to zero. This is decompose()/
    seasonal_decompose(model='additive') reduced to dataflow — the
    DIAGNOSTIC complement of the Holt-Winters smoothing family
    (ts_holt_winters_*), which fits a forecast recursively; the MA
    decomposition instead answers 'what IS the weekly shape?' with no
    smoothing-constant choices.

    Exactness: the daily series is the e3 integer dictionary; the
    centered MA is kept as the INTEGER frame sum (never divided), so
    detrended·7 = 7y − Σframe is exact; per-weekday means make the
    single float division, floored once on identical integers in both
    engines; the sum-to-zero adjustment multiplies through by 7 so it
    stays an exact integer (seas_adj_x7_e3 = 7·raw − Σraw).
    Incomplete edge frames (count < 7) are excluded, as classical
    decomposition does.

    Scale: one map-side-combinable shuffle to the (type, day)
    dictionary (single consumer, so no checkpoint is needed), one
    type-partitioned window whose input is calendar-bounded per
    type, one grid-sized groupBy, one 7-row-per-type window. Nothing
    row-count-sized past the first shuffle.

    Reference parity: the reference (j0shgrant/gotsdb) has no series
    surface (internal/storage/types.go:3); this is [TARGET]
    time-series machinery.
    """
    daily = (
        load_table(spark, "events", sf_dir)
        .select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2025-01-01").cast("date")
            ).alias("x"),
            F.floor(F.col("value") * 1000).cast("bigint").alias("v_e3"),
        )
        .groupBy("event_type", "x")
        .agg(F.expr("CAST(sum(v_e3) DIV count(*) AS BIGINT)").alias("y_e3"))
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("x")
        .rowsBetween(-3, 3)
    )
    ma = daily.select(
        "event_type",
        "x",
        "y_e3",
        F.sum("y_e3").over(w).cast("long").alias("trend_sum_e3"),
        F.count(F.lit(1)).over(w).cast("long").alias("frame_n"),
    )
    det = ma.where(F.col("frame_n") == 7).select(
        "event_type",
        # ((x % 7) + 7) % 7: SQL's % keeps the dividend's sign, and the
        # series anchor (2025-01-01) postdates part of the fixture, so
        # a bare x % 7 would split one weekday into ±k buckets.
        (((F.col("x") % 7) + 7) % 7).alias("dow"),
        (7 * F.col("y_e3") - F.col("trend_sum_e3")).alias("det_x7_e3"),
    )
    raw = det.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.floor(
            F.sum("det_x7_e3") * 1.0 / (7 * F.count(F.lit(1))) + 0.5001
        )
        .cast("long")
        .alias("seas_raw_e3"),
    )
    w_adj = W.partitionBy("event_type")
    return raw.select(
        "event_type",
        "dow",
        "n_days",
        "seas_raw_e3",
        (7 * F.col("seas_raw_e3") - F.sum("seas_raw_e3").over(w_adj))
        .cast("long")
        .alias("seas_adj_x7_e3"),
    )


# ---------------------------------------------------------------------------
# STL-style ROBUST seasonal decomposition — round 11.
# ---------------------------------------------------------------------------

STL_ROBUST_ORACLE = """
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '2025-01-01', CAST(ts AS DATE)) AS x,
             CAST(sum(CAST(floor(value * 1000) AS BIGINT)) // count(*)
                  AS BIGINT) AS y_e3
      FROM events GROUP BY 1, 2
    ), ma AS (
      SELECT event_type, x, y_e3,
             CAST(sum(y_e3) OVER w AS BIGINT) AS trend_sum_e3,
             CAST(count(*) OVER w AS BIGINT) AS frame_n
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY x
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), det AS (
      SELECT event_type, x, ((x % 7) + 7) % 7 AS dow,
             7 * y_e3 - trend_sum_e3 AS det_x7_e3
      FROM ma WHERE frame_n = 7
    ), raw AS (
      SELECT event_type, dow,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(floor(sum(det_x7_e3) * 1.0 / (7 * count(*)) + 0.5001)
                  AS BIGINT) AS seas_raw_e3
      FROM det GROUP BY event_type, dow
    ), resid AS (
      SELECT d.event_type, d.dow, d.det_x7_e3,
             abs(CAST(d.det_x7_e3 AS HUGEINT) - 7 * r.seas_raw_e3) AS ar
      FROM det d JOIN raw r
        ON r.event_type = d.event_type AND r.dow = d.dow
    ), marm AS (
      SELECT event_type, CAST(sum(ar) // count(*) AS HUGEINT) AS mar
      FROM resid GROUP BY event_type
    ), wtd AS (
      SELECT r.event_type, r.dow, r.det_x7_e3,
             CAST(m.mar * 1000 AS HUGEINT)
               // greatest(r.ar, greatest(m.mar // 1000,
                                          CAST(1 AS HUGEINT))) AS w
      FROM resid r JOIN marm m ON m.event_type = r.event_type
    ), rob AS (
      SELECT event_type, dow,
             CAST(floor(sum(CAST(w AS HUGEINT) * det_x7_e3) * 1.0
                        / (7 * sum(w)) + 0.5001) AS BIGINT) AS seas_rob_e3
      FROM wtd GROUP BY event_type, dow
    )
    SELECT r.event_type, r.dow, r.n_days, r.seas_raw_e3, b.seas_rob_e3,
           CAST(7 * b.seas_rob_e3
                - sum(b.seas_rob_e3) OVER (PARTITION BY r.event_type)
                AS BIGINT) AS rob_adj_x7_e3
    FROM raw r JOIN rob b
      ON b.event_type = r.event_type AND b.dow = r.dow
"""


@query("ts_stl_robust_decompose", oracle=STL_ROBUST_ORACLE)
def ts_stl_robust_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style ROBUST seasonal decomposition (loess-free): the
    classical MA-7 decomposition of ts_seasonal_decompose, iterated
    once with outlier DOWN-WEIGHTING — exactly STL's robustness
    iteration idea (Cleveland et al.: fit, compute residuals, derive
    robustness weights, re-fit with the weights), with the loess
    smoothers replaced by this repo's integer-exact MA/weekday-mean
    machinery and the bisquare replaced by the scale-free IRLS weight
    rule already proven in stats_irls_quantile_regression
    (statistics.py:2401): w = (mar·1000) // max(|r|, mar//1000, 1),
    mar the per-type mean absolute residual — w ∈ [0, 1e6] at ANY
    data volume, so one anomalous spike week no longer drags its
    weekday's seasonal index (the raw index is reported alongside;
    the gap IS the outlier diagnostic).

    Exactness: residuals r = det_x7 − 7·seas_raw are exact integers
    on the ×7 e3 grid; mar is an integer floor-division kept
    HUGEINT/decimal (the round-11 DIV-overflow convention); weights
    are integer floor-divisions of exact integers; the re-weighted
    weekday mean makes ONE float division floored identically in both
    engines; the sum-to-zero adjustment multiplies through by 7 to
    stay integer (rob_adj_x7_e3 = 7·rob − Σrob).

    Scale: one map-side-combinable shuffle to the (type, day)
    dictionary, one type-partitioned bounded-frame window, then
    everything downstream is dictionary- or grid-sized (det is
    checkpointed — the raw fit, the residual pass, and the
    re-weighted fit all consume it; raw is checkpointed for the
    residual join and the final report). The weight join keys on
    event_type (grid-sized mar frame) — no broadcast hint needed.

    Reference parity: the reference (j0shgrant/gotsdb) has no series
    surface (internal/storage/types.go:3); this is [TARGET]
    time-series machinery.
    """
    daily = (
        load_table(spark, "events", sf_dir)
        .select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2025-01-01").cast("date")
            ).alias("x"),
            F.floor(F.col("value") * 1000).cast("bigint").alias("v_e3"),
        )
        .groupBy("event_type", "x")
        .agg(F.expr("CAST(sum(v_e3) DIV count(*) AS BIGINT)").alias("y_e3"))
    )
    w = W.partitionBy("event_type").orderBy("x").rowsBetween(-3, 3)
    ma = daily.select(
        "event_type",
        "x",
        "y_e3",
        F.sum("y_e3").over(w).cast("long").alias("trend_sum_e3"),
        F.count(F.lit(1)).over(w).cast("long").alias("frame_n"),
    )
    det = (
        ma.where(F.col("frame_n") == 7)
        .select(
            "event_type",
            "x",
            (((F.col("x") % 7) + 7) % 7).alias("dow"),
            (7 * F.col("y_e3") - F.col("trend_sum_e3")).alias("det_x7_e3"),
        )
        # three consumers: raw fit, residual pass, re-weighted fit
        .localCheckpoint(eager=False)
    )
    raw = (
        det.groupBy("event_type", "dow")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.floor(
                F.sum("det_x7_e3") * 1.0 / (7 * F.count(F.lit(1))) + 0.5001
            )
            .cast("long")
            .alias("seas_raw_e3"),
        )
        # two consumers: the residual join and the final report
        .localCheckpoint(eager=False)
    )
    dec = "decimal(38,0)"
    resid = det.join(
        raw.select("event_type", "dow", "seas_raw_e3"), ["event_type", "dow"]
    ).select(
        "event_type",
        "dow",
        "det_x7_e3",
        F.expr(
            "abs(CAST(det_x7_e3 AS DECIMAL(38,0)) - 7 * seas_raw_e3)"
        ).alias("ar"),
    )
    marm = resid.groupBy("event_type").agg(
        F.expr(
            "CAST(floor(CAST(sum(ar) AS DECIMAL(38,0)) / count(*))"
            " AS DECIMAL(38,0))"
        ).alias("mar")
    )
    wtd = resid.join(marm, "event_type").select(
        "event_type",
        "dow",
        "det_x7_e3",
        F.expr(
            "CAST(mar * 1000 AS DECIMAL(38,0)) DIV greatest("
            "ar, greatest(CAST(floor(mar / 1000) AS DECIMAL(38,0)),"
            " CAST(1 AS DECIMAL(38,0))))"
        ).alias("w"),
    )
    rob = wtd.groupBy("event_type", "dow").agg(
        F.floor(
            F.sum(F.col("w").cast(dec) * F.col("det_x7_e3")).cast("double")
            * 1.0
            / (7 * F.sum("w")).cast("double")
            + 0.5001
        )
        .cast("long")
        .alias("seas_rob_e3")
    )
    w_adj = W.partitionBy("event_type")
    return raw.join(rob, ["event_type", "dow"]).select(
        "event_type",
        "dow",
        "n_days",
        "seas_raw_e3",
        "seas_rob_e3",
        (7 * F.col("seas_rob_e3") - F.sum("seas_rob_e3").over(w_adj))
        .cast("long")
        .alias("rob_adj_x7_e3"),
    )


# ---------------------------------------------------------------------------
# Seasonal-strength score (variance-explained by the weekly cycle) — round 11.
# ---------------------------------------------------------------------------

SEASONAL_STRENGTH_ORACLE = """
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '2025-01-01', CAST(ts AS DATE)) AS x,
             CAST(sum(CAST(floor(value * 1000) AS BIGINT)) // count(*)
                  AS BIGINT) AS y_e3
      FROM events GROUP BY 1, 2
    ), ma AS (
      SELECT event_type, x, y_e3,
             CAST(sum(y_e3) OVER w AS BIGINT) AS trend_sum_e3,
             CAST(count(*) OVER w AS BIGINT) AS frame_n
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY x
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), det AS (
      SELECT event_type,
             ((x % 7) + 7) % 7 AS dow,
             7 * y_e3 - trend_sum_e3 AS d_x7
      FROM ma WHERE frame_n = 7
    ), sidx AS (
      SELECT event_type, dow,
             CAST(sum(d_x7) // count(*) AS BIGINT) AS s_x7
      FROM det GROUP BY 1, 2
    ), resid AS (
      SELECT d.event_type, d.d_x7, d.d_x7 - s.s_x7 AS r_x7
      FROM det d JOIN sidx s
        ON s.event_type = d.event_type AND s.dow = d.dow
    ), suff AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(d_x7) AS BIGINT) AS sd,
             CAST(sum(CAST(d_x7 AS HUGEINT) * d_x7) AS HUGEINT) AS sdd,
             CAST(sum(r_x7) AS BIGINT) AS sr,
             CAST(sum(CAST(r_x7 AS HUGEINT) * r_x7) AS HUGEINT) AS srr
      FROM resid GROUP BY 1
    )
    SELECT event_type, n AS n_days_used,
           CAST((CAST(n AS HUGEINT) * srr - CAST(sr AS HUGEINT) * sr)
                * 1000000
                // NULLIF(CAST(n AS HUGEINT) * sdd
                          - CAST(sd AS HUGEINT) * sd, 0) AS BIGINT)
             AS resid_var_ratio_e6,
           CAST(greatest(0, 1000000
                - (CAST(n AS HUGEINT) * srr - CAST(sr AS HUGEINT) * sr)
                  * 1000000
                  // NULLIF(CAST(n AS HUGEINT) * sdd
                            - CAST(sd AS HUGEINT) * sd, 0)) AS BIGINT)
             AS seasonal_strength_e6
    FROM suff
    ORDER BY event_type
"""


@query("ts_seasonal_strength", oracle=SEASONAL_STRENGTH_ORACLE)
def ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-strength score F_s = max(0, 1 - Var(remainder) /
    Var(detrended)) per event type — the Hyndman feasts/tsfeatures
    feature that turns ts_seasonal_decompose's components into ONE
    forecasting-readiness number: near 1 means the weekly cycle
    explains the detrended variance (model the seasonality), near 0
    means the "seasonal" indices are noise (don't).

    Composition: the same centered MA-7 trend and sign-safe weekday
    bucketing as ts_seasonal_decompose (full 7-day frames only), kept
    at x7 scale so the detrended series d_x7 = 7y - trend_sum and the
    weekday index s_x7 (floor-div mean) stay exact integers; the
    remainder is r_x7 = d_x7 - s_x7, and the variance ratio
    (n*Srr - Sr^2)/(n*Sdd - Sd^2) is an exact e6 integer quotient
    (scale cancels; HUGEINT/DECIMAL(38,0) accumulators) with NULL on a
    constant series, clamped at 0 via greatest in both engines.

    Scale: one map-side-combinable shuffle to the (type, day)
    dictionary (checkpointed — the MA window and both aggregate passes
    consume it); the MA window is type-partitioned with a bounded
    7-row frame; everything after is dictionary-sized.

    Reference parity: the reference (j0shgrant/gotsdb) has no series
    surface (internal/storage/types.go:3); this is [TARGET]
    time-series machinery.
    """
    dec = "decimal(38,0)"
    daily = (
        load_table(spark, "events", sf_dir)
        .select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2025-01-01").cast("date")
            ).alias("x"),
            F.floor(F.col("value") * 1000).cast("bigint").alias("v_e3"),
        )
        .groupBy("event_type", "x")
        .agg(F.expr("CAST(sum(v_e3) DIV count(*) AS BIGINT)").alias("y_e3"))
        .localCheckpoint(eager=False)
    )
    w = W.partitionBy("event_type").orderBy("x").rowsBetween(-3, 3)
    det = (
        daily.select(
            "event_type",
            "x",
            "y_e3",
            F.sum("y_e3").over(w).cast("long").alias("trend_sum_e3"),
            F.count(F.lit(1)).over(w).cast("long").alias("frame_n"),
        )
        .where(F.col("frame_n") == 7)
        .select(
            "event_type",
            (((F.col("x") % 7) + 7) % 7).alias("dow"),
            (F.lit(7) * F.col("y_e3") - F.col("trend_sum_e3")).alias("d_x7"),
        )
        # consumed by the weekday-index aggregate and the residual join
        .localCheckpoint(eager=False)
    )
    sidx = det.groupBy("event_type", "dow").agg(
        F.expr("CAST(sum(d_x7) DIV count(*) AS BIGINT)").alias("s_x7")
    )
    resid = det.join(sidx, ["event_type", "dow"]).select(
        "event_type",
        "d_x7",
        (F.col("d_x7") - F.col("s_x7")).alias("r_x7"),
    )
    suff = resid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d_x7").cast("long").alias("sd"),
        F.sum(F.col("d_x7").cast(dec) * F.col("d_x7")).alias("sdd"),
        F.sum("r_x7").cast("long").alias("sr"),
        F.sum(F.col("r_x7").cast(dec) * F.col("r_x7")).alias("srr"),
    )
    ratio = (
        f"(CAST(n AS {dec}) * srr - CAST(sr AS {dec}) * sr) * 1000000"
        f" DIV NULLIF(CAST(n AS {dec}) * sdd - CAST(sd AS {dec}) * sd, 0)"
    )
    return suff.select(
        "event_type",
        F.col("n").alias("n_days_used"),
        F.expr(f"CAST({ratio} AS BIGINT)").alias("resid_var_ratio_e6"),
        F.expr(
            f"CAST(greatest(CAST(0 AS {dec}), 1000000 - ({ratio}))"
            " AS BIGINT)"
        ).alias("seasonal_strength_e6"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Hurst exponent by rescaled-range (R/S) analysis — round 11.
# ---------------------------------------------------------------------------

_HURST_SIZES = (4, 8, 16)

HURST_ORACLE = f"""
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '2025-01-01', CAST(ts AS DATE)) AS day,
             CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, y,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
                  AS BIGINT) AS t
      FROM daily
    ), sized AS (
      SELECT i.event_type, m.m, i.y, i.t,
             (i.t - 1) // m.m AS blk,
             CAST(row_number() OVER (PARTITION BY i.event_type, m.m,
                                                  (i.t - 1) // m.m
                                     ORDER BY i.t) AS BIGINT) AS j,
             CAST(sum(i.y) OVER (PARTITION BY i.event_type, m.m,
                                              (i.t - 1) // m.m
                                 ORDER BY i.t) AS BIGINT) AS pfx
      FROM idx i CROSS JOIN (
        SELECT unnest([{", ".join(str(m) for m in _HURST_SIZES)}]) AS m) m
    ), wrows AS (
      SELECT event_type, m, blk, y, j, pfx,
             CAST(sum(y) OVER (PARTITION BY event_type, m, blk)
                  AS BIGINT) AS bs
      FROM sized
    ), blocks AS (
      SELECT event_type, m, blk,
             CAST(count(*) AS BIGINT) AS bn,
             CAST(max(bs) AS BIGINT) AS bs,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS bss,
             CAST(max(CAST(m AS HUGEINT) * pfx - CAST(j AS HUGEINT) * bs)
                  AS HUGEINT) AS wmax,
             CAST(min(CAST(m AS HUGEINT) * pfx - CAST(j AS HUGEINT) * bs)
                  AS HUGEINT) AS wmin
      FROM wrows
      GROUP BY event_type, m, blk
    ), rs AS (
      SELECT event_type, m,
             CAST(floor(CAST(wmax - wmin AS DOUBLE)
                        / sqrt(CAST(CAST(m AS HUGEINT) * bss
                                    - CAST(bs AS HUGEINT) * bs AS DOUBLE))
                        * 1e9 + 0.5001) AS BIGINT) AS rs_e9
      FROM blocks
      WHERE bn = m
        AND CAST(m AS HUGEINT) * bss - CAST(bs AS HUGEINT) * bs > 0
    ), per_size AS (
      SELECT event_type, m,
             CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(sum(rs_e9) // count(*) AS BIGINT) AS mean_rs_e9,
             CAST(floor(ln(CAST(m AS DOUBLE)) * 1e9 + 0.5001) AS BIGINT)
               AS x_e9,
             CAST(floor(ln(CAST(sum(rs_e9) // count(*) AS DOUBLE) / 1e9)
                        * 1e9 + 0.5001) AS BIGINT) AS y_e9
      FROM rs GROUP BY event_type, m
    ), slope AS (
      SELECT event_type,
             CAST((count(*) * sum(CAST(x_e9 AS HUGEINT) * y_e9)
                   - CAST(sum(x_e9) AS HUGEINT) * sum(y_e9)) * 1000000
                  // NULLIF(count(*) * sum(CAST(x_e9 AS HUGEINT) * x_e9)
                            - CAST(sum(x_e9) AS HUGEINT) * sum(x_e9), 0)
                  AS BIGINT) AS hurst_e6
      FROM per_size GROUP BY event_type
    )
    SELECT p.event_type, CAST(p.m AS BIGINT) AS window_size, p.n_blocks,
           p.mean_rs_e9, s.hurst_e6
    FROM per_size p JOIN slope s USING (event_type)
    ORDER BY p.event_type, p.m
"""


@query("ts_hurst_exponent", oracle=HURST_ORACLE)
def ts_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of each event type's daily series by classical
    rescaled-range (R/S) analysis over dyadic windows (4, 8, 16 days) — the
    long-memory detector: H ~ 0.5 is a random walk, H > 0.5 trending
    persistence (shocks echo for weeks — forecast with long context),
    H < 0.5 mean reversion. The log-log slope generalizes what
    ts_autocorrelation_daily sees one lag at a time.

    Determinism: within each full m-day block the mean-adjusted
    cumulative deviations are kept at xm scale (W_i = m*prefix_i -
    i*block_sum, exact HUGEINT/DECIMAL), so the range R*m = max W -
    min W is an exact integer, and m*S = sqrt(m*SS - S^2) makes
    R/S = (R*m)/(m*S) ONE double division + sqrt of exact integers —
    identical in both engines, e9-floored per block BEFORE the
    cross-block mean (an exact integer DIV), the information-gain
    idiom that keeps every aggregate an integer sum. The final slope
    is an exact integer OLS over the 3 (ln m, ln mean_RS) points
    (one per entry of _HURST_SIZES),
    both coordinates e9-floored first.

    Scale: one map-side-combinable shuffle to the (type, day)
    dictionary (checkpointed); the 3-size spine is a broadcast grid;
    every window partitions by (type, m, block) over bounded frames;
    blocks and sizes are calendar-bounded regardless of data volume.

    Reference parity: the reference (j0shgrant/gotsdb) has no series
    surface (internal/storage/types.go:3); this is [TARGET]
    time-series machinery.
    """
    dec = "decimal(38,0)"
    daily = (
        load_table(spark, "events", sf_dir)
        .groupBy(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2025-01-01").cast("date")
            ).alias("day"),
        )
        .agg(
            F.sum(F.floor(F.col("value") * 1000).cast("bigint"))
            .cast("long")
            .alias("y")
        )
        .localCheckpoint(eager=False)
    )
    idx = daily.select(
        "event_type",
        "y",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("day"))
        .cast("long")
        .alias("t"),
    )
    sizes = daily.sparkSession.createDataFrame(
        [(m,) for m in _HURST_SIZES], "m INT"
    )
    sized = idx.crossJoin(F.broadcast(sizes)).select(
        "event_type",
        "m",
        "y",
        "t",
        ((F.col("t") - 1) / F.col("m")).cast("long").alias("blk"),
    )
    wb = W.partitionBy("event_type", "m", "blk").orderBy("t")
    seq = sized.select(
        "event_type",
        "m",
        "blk",
        "y",
        F.row_number().over(wb).cast("long").alias("j"),
        F.sum("y").over(wb).cast("long").alias("pfx"),
        F.sum("y")
        .over(W.partitionBy("event_type", "m", "blk"))
        .cast("long")
        .alias("bs"),
    )
    blocks = (
        seq.select(
            "event_type",
            "m",
            "blk",
            "y",
            "bs",
            (
                F.col("m").cast(dec) * F.col("pfx")
                - F.col("j").cast(dec) * F.col("bs")
            ).alias("w"),
        )
        .groupBy("event_type", "m", "blk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("bn"),
            F.first("bs").alias("bsum"),
            F.sum(F.col("y").cast(dec) * F.col("y")).alias("bss"),
            F.max("w").alias("wmax"),
            F.min("w").alias("wmin"),
        )
    )
    rs = blocks.where(
        (F.col("bn") == F.col("m"))
        & (
            F.expr(f"CAST(m AS {dec}) * bss - CAST(bsum AS {dec}) * bsum")
            > 0
        )
    ).select(
        "event_type",
        "m",
        F.expr(
            "CAST(floor(CAST(wmax - wmin AS DOUBLE)"
            f" / sqrt(CAST(CAST(m AS {dec}) * bss"
            f" - CAST(bsum AS {dec}) * bsum AS DOUBLE))"
            " * 1e9 + 0.5001) AS BIGINT)"
        ).alias("rs_e9"),
    )
    per_size = rs.groupBy("event_type", "m").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.expr("CAST(sum(rs_e9) DIV count(*) AS BIGINT)").alias(
            "mean_rs_e9"
        ),
    ).select(
        "event_type",
        "m",
        "n_blocks",
        "mean_rs_e9",
        F.expr(
            "CAST(floor(ln(CAST(m AS DOUBLE)) * 1e9 + 0.5001) AS BIGINT)"
        ).alias("x_e9"),
        F.expr(
            "CAST(floor(ln(CAST(mean_rs_e9 AS DOUBLE) / 1e9)"
            " * 1e9 + 0.5001) AS BIGINT)"
        ).alias("y_e9"),
    ).localCheckpoint(eager=False)
    slope = per_size.groupBy("event_type").agg(
        F.expr(
            f"CAST((count(*) * sum(CAST(x_e9 AS {dec}) * y_e9)"
            f" - CAST(sum(x_e9) AS {dec}) * sum(y_e9)) * 1000000"
            f" DIV NULLIF(count(*) * sum(CAST(x_e9 AS {dec}) * x_e9)"
            f" - CAST(sum(x_e9) AS {dec}) * sum(x_e9), 0) AS BIGINT)"
        ).alias("hurst_e6")
    )
    return (
        per_size.join(slope, "event_type")
        .select(
            "event_type",
            F.col("m").cast("bigint").alias("window_size"),
            "n_blocks",
            "mean_rs_e9",
            "hurst_e6",
        )
        .orderBy("event_type", "window_size")
    )


# ---------------------------------------------------------------------------
# Markov entropy rate of the event-type chain — round 11.
# ---------------------------------------------------------------------------

MARKOV_ENTROPY_ORACLE = """
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ), trans AS (
      SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    ), marg AS (
      SELECT from_type, CAST(sum(c) AS BIGINT) AS r
      FROM trans GROUP BY from_type
    ), tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS total,
             CAST(count(DISTINCT from_type) AS BIGINT) AS n_states
      FROM trans
    ), terms AS (
      SELECT CAST(floor(-(CAST(t.c AS DOUBLE) / CAST(o.total AS DOUBLE))
                        * (ln(CAST(t.c AS DOUBLE) / CAST(m.r AS DOUBLE))
                           / ln(2.0))
                        * 1e9 + 0.5001) AS BIGINT) AS h_e9,
             o.total, o.n_states
      FROM trans t
      JOIN marg m USING (from_type)
      CROSS JOIN tot o
      WHERE t.c < m.r
    )
    SELECT CAST(max(total) AS BIGINT) AS n_transitions,
           CAST(max(n_states) AS BIGINT) AS n_states,
           CAST(sum(h_e9) AS BIGINT) AS entropy_rate_e9,
           CAST(floor(ln(CAST(max(n_states) AS DOUBLE)) / ln(2.0)
                      * 1e9 + 0.5001) AS BIGINT) AS max_entropy_e9,
           CAST(sum(h_e9) * 1000000
                // CAST(floor(ln(CAST(max(n_states) AS DOUBLE)) / ln(2.0)
                              * 1e9 + 0.5001) AS BIGINT)
                AS BIGINT) AS efficiency_e6
    FROM terms
"""


@query("ts_markov_entropy_rate", oracle=MARKOV_ENTROPY_ORACLE)
def ts_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the first-order event-type Markov chain — the
    one-number predictability summary of events_markov_transitions:
    H = -sum_ij (c_ij/C) * log2(c_ij/R_i) bits per step (the empirical
    joint-weighted conditional entropy), with efficiency = H /
    log2(|states|); near 1 means next-event prediction is hopeless,
    near 0 means sessions are near-deterministic scripts — which
    decides whether sequence features are worth modeling at all.

    Determinism: transitions use the repo's (ts, event_id) total
    ordering; each cell's term is e9-floored to an INTEGER from exact
    counts through an identical double expression BEFORE the
    cross-cell sum (the information-gain idiom — the sum runs over
    <= |types|^2 integer terms, never floats); deterministic
    self-certain cells (c = R_i, term exactly 0) are excluded in both
    engines rather than trusting ln(1.0) == 0 crossing floor.

    Scale: one per-user LEAD window (state bounded by one user's
    history), one map-side-combinable shuffle to the |types|^2 matrix;
    everything after is O(1)-sized.

    Reference parity: the reference (j0shgrant/gotsdb) has no ordering
    surface (internal/storage/types.go:3); this is [TARGET]
    time-series machinery.
    """
    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    trans = (
        seq.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        # consumed by the marginal and the term projection
        .localCheckpoint(eager=False)
    )
    marg = trans.groupBy("from_type").agg(F.sum("c").cast("long").alias("r"))
    tot = trans.agg(
        F.sum("c").cast("long").alias("total"),
        F.countDistinct("from_type").cast("long").alias("n_states"),
    )
    terms = (
        trans.join(F.broadcast(marg), "from_type")
        .crossJoin(F.broadcast(tot))
        .where(F.col("c") < F.col("r"))
        .select(
            F.expr(
                "CAST(floor(-(CAST(c AS DOUBLE) / CAST(total AS DOUBLE))"
                " * (ln(CAST(c AS DOUBLE) / CAST(r AS DOUBLE))"
                " / ln(2.0))"
                " * 1e9 + 0.5001) AS BIGINT)"
            ).alias("h_e9"),
            "total",
            "n_states",
        )
    )
    return terms.agg(
        F.max("total").cast("long").alias("n_transitions"),
        F.max("n_states").cast("long").alias("n_states"),
        F.sum("h_e9").cast("long").alias("entropy_rate_e9"),
        F.expr(
            "CAST(floor(ln(CAST(max(n_states) AS DOUBLE)) / ln(2.0)"
            " * 1e9 + 0.5001) AS BIGINT)"
        ).alias("max_entropy_e9"),
        F.expr(
            "CAST(sum(h_e9) * 1000000"
            " DIV CAST(floor(ln(CAST(max(n_states) AS DOUBLE)) / ln(2.0)"
            " * 1e9 + 0.5001) AS BIGINT) AS BIGINT)"
        ).alias("efficiency_e6"),
    )


# ---------------------------------------------------------------------------
# Fixed-frequency periodogram (weekly harmonics) — round 13.
# ---------------------------------------------------------------------------

_PERIODOGRAM_HARMONICS = (1, 2, 3)

# cos/sin of 2*pi*m/7 enter both engines as e9-floored integers built
# from the SAME verbatim double expression (m in 0..6, so each engine
# evaluates libm trig on just 7 distinct arguments; the +0.5001 nudge
# absorbs sub-ulp disagreement). Every multiplication downstream of the
# floor is exact integer arithmetic.
_TRIG_E9 = "CAST(floor({fn}(2 * pi() * m / 7) * 1e9 + 0.5001) AS BIGINT)"

PERIODOGRAM_ORACLE = f"""
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '2025-01-01', CAST(ts AS DATE)) AS x,
             CAST(sum(CAST(floor(value * 1000) AS BIGINT)) // count(*)
                  AS BIGINT) AS y_e3
      FROM events GROUP BY 1, 2
    ), st AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y_e3) AS BIGINT) AS s
      FROM daily GROUP BY 1
    ), cen AS MATERIALIZED (
      SELECT d.event_type, d.x, d.y_e3 - st.s // st.n AS yc, st.n
      FROM daily d JOIN st USING (event_type)
    ), terms AS (
      SELECT event_type, n, k, yc,
             (((k * x) % 7) + 7) % 7 AS m
      FROM cen
      CROSS JOIN (SELECT unnest([{", ".join(map(str, _PERIODOGRAM_HARMONICS))}]) AS k) h
    ), proj AS (
      SELECT event_type, k, max(n) AS n_days,
             CAST(sum(CAST(yc AS HUGEINT)
                      * {_TRIG_E9.format(fn="cos")}) AS HUGEINT) AS c_e9s,
             CAST(sum(CAST(yc AS HUGEINT)
                      * {_TRIG_E9.format(fn="sin")}) AS HUGEINT) AS s_e9s,
             CAST(sum(CAST(yc AS HUGEINT) * yc) AS HUGEINT) AS syy
      FROM terms GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(k AS BIGINT) AS harmonic,
           CAST(70 // k AS BIGINT) AS period_days_x10,
           n_days,
           CAST(2 * ((c_e9s // 1000) * (c_e9s // 1000)
                     + (s_e9s // 1000) * (s_e9s // 1000)) * 1000000
                // NULLIF(CAST(n_days AS HUGEINT) * syy
                          * 1000000000000, 0) AS BIGINT) AS power_share_e6
    FROM proj
    ORDER BY event_type, harmonic
"""


@query("ts_periodogram_weekly", oracle=PERIODOGRAM_ORACLE)
def ts_periodogram_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-frequency periodogram per event type: the share of
    detrended daily variance carried by each weekly harmonic
    (periods 7, 3.5 and 7/3 days), p_k = 2*(C_k^2 + S_k^2) /
    (n * Syy) with C_k = sum yc*cos(2 pi k x / 7) and S_k the sine
    projection — ts_seasonal_strength says HOW seasonal the series
    is; this names WHICH cycle carries the power (a pure weekday
    pattern loads harmonic 1; an AM/PM-alternating one loads 2).

    Determinism: daily means are exact e3 integers; centering
    subtracts the floor-div mean (identical remainder in both
    engines); cos/sin enter as e9-floored integers over the 7-point
    angle dictionary (k*x mod 7 — the ONLY trig evaluation, shared
    verbatim), so projections, their /1000 reductions, squares, and
    the final e6 share are exact HUGEINT/DECIMAL(38,0) arithmetic;
    NULL on a constant series via NULLIF in both engines.

    Scale: one map-side-combinable fact shuffle to the (type, day)
    dictionary (checkpointed — the per-type stats join and the
    harmonic explode both consume it); the explode is x3 on the
    dictionary, the projection aggregate is map-side combinable, and
    nothing downstream of the first groupBy is row-count-sized. No
    window, no pair join.

    Reference parity: the reference (j0shgrant/gotsdb) has no series
    surface (internal/storage/types.go:3); this is [TARGET]
    time-series machinery.
    """
    dec = "decimal(38,0)"
    daily = (
        load_table(spark, "events", sf_dir)
        .select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2025-01-01").cast("date")
            ).alias("x"),
            F.floor(F.col("value") * 1000).cast("bigint").alias("v_e3"),
        )
        .groupBy("event_type", "x")
        .agg(F.expr("CAST(sum(v_e3) DIV count(*) AS BIGINT)").alias("y_e3"))
        # consumed by the per-type stats aggregate AND the projection
        .localCheckpoint(eager=False)
    )
    st = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y_e3").cast("long").alias("s"),
    )
    cen = daily.join(st, "event_type").select(
        "event_type",
        "x",
        F.expr("y_e3 - s DIV n").alias("yc"),
        "n",
    )
    terms = cen.select(
        "event_type",
        "n",
        "x",
        "yc",
        F.explode(
            F.array(*[F.lit(k) for k in _PERIODOGRAM_HARMONICS])
        ).alias("k"),
    ).withColumn("m", F.expr("(((k * x) % 7) + 7) % 7"))
    proj = terms.groupBy("event_type", "k").agg(
        F.max("n").alias("n_days"),
        F.sum(
            F.col("yc").cast(dec)
            * F.expr(_TRIG_E9.format(fn="cos"))
        ).alias("c_e9s"),
        F.sum(
            F.col("yc").cast(dec)
            * F.expr(_TRIG_E9.format(fn="sin"))
        ).alias("s_e9s"),
        F.sum(F.col("yc").cast(dec) * F.col("yc")).alias("syy"),
    )
    return proj.select(
        "event_type",
        F.col("k").cast("bigint").alias("harmonic"),
        F.expr("CAST(70 DIV k AS BIGINT)").alias("period_days_x10"),
        "n_days",
        # Spark's DIV yields LONG even on DECIMAL operands, so each
        # /1000 reduction is re-widened before squaring (~5e29).
        F.expr(
            f"CAST(2 * (CAST(c_e9s DIV 1000 AS {dec}) * (c_e9s DIV 1000)"
            f" + CAST(s_e9s DIV 1000 AS {dec}) * (s_e9s DIV 1000)) * 1000000"
            f" DIV NULLIF(CAST(n_days AS {dec}) * syy"
            " * 1000000000000, 0) AS BIGINT)"
        ).alias("power_share_e6"),
    ).orderBy("event_type", "harmonic")


# ---------------------------------------------------------------------------
# Order-cohort repeat-purchase curve — round 13.
# ---------------------------------------------------------------------------

COHORT_REPEAT_ORACLE = """
    WITH om AS MATERIALIZED (
      SELECT o_custkey,
             CAST(date_part('year', o_orderdate) * 12
                  + date_part('month', o_orderdate) - 1 AS BIGINT) AS m
      FROM orders
    ), first AS MATERIALIZED (
      SELECT o_custkey, min(m) AS m0 FROM om GROUP BY o_custkey
    ), sizes AS (
      SELECT m0, CAST(count(*) AS BIGINT) AS cohort_size
      FROM first GROUP BY m0
    ), active AS (
      SELECT f.m0, om.m - f.m0 AS month_offset,
             CAST(count(DISTINCT om.o_custkey) AS BIGINT)
               AS active_customers
      FROM om JOIN first f ON f.o_custkey = om.o_custkey
      GROUP BY 1, 2
    )
    SELECT CAST(a.m0 // 12 AS INT) AS cohort_year,
           CAST(a.m0 % 12 + 1 AS INT) AS cohort_month,
           CAST(a.month_offset AS INT) AS month_offset,
           s.cohort_size,
           a.active_customers,
           CAST(a.active_customers * 1000000 // s.cohort_size AS BIGINT)
             AS repeat_rate_e6
    FROM active a JOIN sizes s ON s.m0 = a.m0
    ORDER BY cohort_year, cohort_month, month_offset
"""


@query("ts_cohort_repeat_purchase", oracle=COHORT_REPEAT_ORACLE)
def ts_cohort_repeat_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-cohort repeat-purchase curve: customers are cohorted by
    the calendar month of their FIRST order, and each later month
    offset gets the share of the cohort that placed >= 1 order that
    month — the retention curve a marketplace actually plots (offset 0
    is 100% by construction and serves as the self-check row). This
    composes the cohort machinery of ts_time_to_convert_cohorts into
    the repeat-rate reading: TTC measures time-to-first-conversion,
    this measures ongoing repeat behavior per acquisition vintage.

    Determinism: months are absolute integer month indexes
    (year*12 + month - 1), rates are exact integer micro-shares
    (active * 1e6 DIV cohort_size) — every column integer, hash-exact
    under any partitioning.

    Scale: one orders pass projects (custkey, month); the first-order
    dictionary is a map-side-combinable min per customer. The fact
    rejoin is a custkey equi-join (both sides shuffle on the same key
    once — co-partitioned under AQE), and the distinct-active count
    shuffles (m0, offset, custkey) partials. Output is bounded by
    cohort months x offsets — calendar-squared, never row-count-sized.
    The om projection is checkpointed: its two consumers (first-order
    min and the rejoin) share ONE parquet scan.

    Reference parity: the reference (j0shgrant/gotsdb) has no
    analytics surface (SURVEY.md §2.2); this is [TARGET] product-
    analytics machinery alongside ts_retention_cohorts.
    """
    om = (
        load_table(spark, "orders", sf_dir)
        .select(
            "o_custkey",
            (
                F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
            )
            .cast("bigint")
            .alias("m"),
        )
        .localCheckpoint(eager=False)
    )
    first = (
        om.groupBy("o_custkey")
        .agg(F.min("m").alias("m0"))
        .localCheckpoint(eager=False)
    )
    sizes = first.groupBy("m0").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    active = (
        om.join(first, "o_custkey")
        .groupBy("m0", (F.col("m") - F.col("m0")).alias("month_offset"))
        .agg(
            F.countDistinct("o_custkey").cast("long").alias(
                "active_customers"
            )
        )
    )
    return (
        active.join(F.broadcast(sizes), "m0")
        .select(
            F.expr("CAST(m0 DIV 12 AS INT)").alias("cohort_year"),
            F.expr("CAST(m0 % 12 + 1 AS INT)").alias("cohort_month"),
            F.col("month_offset").cast("int").alias("month_offset"),
            "cohort_size",
            "active_customers",
            F.expr(
                "CAST(active_customers * 1000000 DIV cohort_size"
                " AS BIGINT)"
            ).alias("repeat_rate_e6"),
        )
        .orderBy("cohort_year", "cohort_month", "month_offset")
    )


# ---------------------------------------------------------------------------
# BTYD frequency/recency summary — round 13.
# ---------------------------------------------------------------------------

BTYD_ORACLE = """
    WITH om AS MATERIALIZED (
      SELECT o_custkey,
             CAST(date_part('year', o_orderdate) * 12
                  + date_part('month', o_orderdate) - 1 AS BIGINT) AS m
      FROM orders
    ), cust AS MATERIALIZED (
      SELECT o_custkey,
             CAST(count(*) - 1 AS BIGINT) AS x,
             min(m) AS m0, max(m) AS m1
      FROM om GROUP BY o_custkey
    ), horizon AS (
      SELECT max(m) AS m_end FROM om
    )
    SELECT c.x AS repeat_count,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(c.m1 - c.m0) * 1000 // count(*) AS BIGINT)
             AS mean_recency_months_e3,
           CAST(sum(h.m_end - c.m0) * 1000 // count(*) AS BIGINT)
             AS mean_horizon_months_e3
    FROM cust c, horizon h
    GROUP BY c.x
    ORDER BY c.x
"""


@query("ts_btyd_frequency_recency", oracle=BTYD_ORACLE)
def ts_btyd_frequency_recency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buy-till-you-die (Pareto/NBD-style) frequency/recency summary:
    per repeat count x (orders beyond the first), how many customers
    sit there, their mean recency t_x (months between first and last
    order) and mean observation horizon T (months from first order to
    the end of the calendar) — the exact (x, t_x, T) sufficient
    dictionary every BTYD churn model consumes, and the
    repeat-intensity companion to ts_cohort_repeat_purchase (the curve
    reads WHEN cohorts return; this reads HOW OFTEN customers do).

    Determinism: months are absolute integer indexes, means exact e3
    integer quotients.

    Scale: one orders pass projects (custkey, month); per-customer
    triples come from one map-side-combinable groupBy (min/max/count
    carry three numbers per customer); the calendar-end month is a
    1-row broadcast off the same checkpointed projection (no second
    fact scan); the final groupBy is bounded by the repeat-count
    domain. Nothing downstream of the first groupBy is
    row-count-sized.

    Reference parity: the reference (j0shgrant/gotsdb) has no
    analytics surface (SURVEY.md §2.2); this is [TARGET]
    product-analytics machinery.
    """
    om = (
        load_table(spark, "orders", sf_dir)
        .select(
            "o_custkey",
            (
                F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
            )
            .cast("bigint")
            .alias("m"),
        )
        .localCheckpoint(eager=False)
    )
    cust = om.groupBy("o_custkey").agg(
        (F.count(F.lit(1)) - 1).cast("long").alias("x"),
        F.min("m").alias("m0"),
        F.max("m").alias("m1"),
    )
    horizon = om.agg(F.max("m").alias("m_end"))
    return (
        cust.crossJoin(F.broadcast(horizon))
        .groupBy(F.col("x").alias("repeat_count"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.expr(
                "CAST(sum(m1 - m0) * 1000 DIV count(*) AS BIGINT)"
            ).alias("mean_recency_months_e3"),
            F.expr(
                "CAST(sum(m_end - m0) * 1000 DIV count(*) AS BIGINT)"
            ).alias("mean_horizon_months_e3"),
        )
        .orderBy("repeat_count")
    )
