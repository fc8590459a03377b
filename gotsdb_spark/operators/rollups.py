"""Hierarchical time rollups — the hypertable / continuous-aggregate
idiom (raw → hourly → daily), built on mergeable partial aggregates.

The TSDB pattern the reference was heading toward ("soon to be
timeseries", reference README.md:3): materialize coarse aggregates once
and answer coarser queries from finer rollups, never from raw. The key
design rule is that every stored measure must be MERGEABLE: store
(count, integer sum, min, max), derive avg at read time — an avg column would
be un-mergeable and silently wrong at the next level up.

At 100 TB: the hourly rollup is the only scan of raw data; daily reads
hours (24× smaller), monthly reads days (`hourly_rollup`, `merge_up`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gotsdb_spark.operators.registry import query
from gotsdb_spark.sources.registry import load_table


def hourly_rollup(events: DataFrame) -> DataFrame:
    """Raw events → per-(hour, event_type) mergeable partials; the sum
    is kept in integer micros (see ts_rollup_daily_via_hourly)."""
    micros = F.floor(F.col("value") * 1_000_000 + 0.5).cast("bigint")
    return events.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(micros).alias("sum_micros"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def merge_up(finer: DataFrame, bucket_col: str, new_bucket: str, trunc: str) -> DataFrame:
    """Merge a finer rollup into a coarser one (sums of sums, min of
    mins...). Works for any level because the measures are mergeable."""
    return finer.groupBy(
        F.date_trunc(trunc, bucket_col).alias(new_bucket), "event_type"
    ).agg(
        F.sum("n").alias("n"),
        F.sum("sum_micros").alias("sum_micros"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )


@query(
    "ts_rollup_daily_via_hourly",
    oracle="""
    SELECT date_trunc('day', ts) AS day,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_micros,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events
    GROUP BY 1, 2
    """,
)
def ts_rollup_daily_via_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily aggregates computed THROUGH an hourly rollup.

    The oracle aggregates raw directly; equality proves the two-level
    merge is lossless. The measure is accumulated in integer
    fixed-point (micros): float sums are association-sensitive — a
    rollup that re-merges partial float sums drifts from a single-pass
    sum in the last ulps — so exact accumulation is the correct design
    for mergeable rollups, not an oracle trick. (The same reasoning
    applies on a real cluster: a measure must not depend on how many
    levels merged it.)
    """
    ev = load_table(spark, "events", sf_dir)
    return merge_up(hourly_rollup(ev), "hour", "day", "day")


@query(
    "grouping_id_revenue",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def grouping_id_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with explicit grouping() / grouping_id() provenance columns.

    Subtotal rows are indistinguishable from data rows whose key IS
    NULL unless the grouping flags come along — grouping()=1 marks "this
    column is aggregated away" and grouping_id() encodes the full level
    bitmask, which is how downstream consumers route total vs subtotal
    rows. Same single-shuffle rollup plan as rollup_revenue; the flags
    are free metadata from the expand node.
    """
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
        )
        .select(
            "o_orderstatus",
            "o_orderpriority",
            "g_status",
            "g_priority",
            "gid",
            "n_orders",
            "revenue_cents",
        )
    )


# ---------------------------------------------------------------------------
# Hierarchical share-of-parent — round 6.
# ---------------------------------------------------------------------------

SHARE_OF_PARENT_ORACLE = """
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, n.n_name
    ), regions AS (
      SELECT region, CAST(sum(rev_cents) AS BIGINT) AS region_cents
      FROM rev GROUP BY region
    ), grand AS (
      SELECT CAST(sum(rev_cents) AS BIGINT) AS grand_cents FROM rev
    )
    SELECT rev.region, rev.nation, rev.rev_cents,
           CAST(CAST(rev.rev_cents AS HUGEINT) * 1000000
                // regions.region_cents AS BIGINT)
             AS share_of_region_e6,
           CAST(CAST(regions.region_cents AS HUGEINT) * 1000000
                // grand.grand_cents AS BIGINT)
             AS region_share_e6
    FROM rev JOIN regions USING (region) CROSS JOIN grand
"""


@query("rollup_share_of_parent", oracle=SHARE_OF_PARENT_ORACLE)
def rollup_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical share-of-parent: each nation's revenue share within
    its region AND the region's share of the grand total, in one result
    — the drill-down ratio layer a BI rollup feeds ('FRANCE is 31% of
    EUROPE, EUROPE is 22% of world').

    The fact table aggregates ONCE to the leaf level (region, nation)
    — everything above re-aggregates the ≤ |nations|-row leaf frame,
    never the facts (the rollup re-aggregation property). Parent
    totals join back broadcast; the grand total is a 1-row broadcast.
    Shares are exact integer e6 divisions of fixed-point cents —
    no float crosses engines. Dimension joins broadcast.
    """
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    rev = (
        orders.join(
            customer, orders.o_custkey == customer.c_custkey
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev_cents")
        )
        # Checkpointed: the region re-aggregation, the grand total, and
        # the final readout all consume this ≤|nations|-row leaf frame;
        # without it each re-derived the orders⋈customer join from
        # fresh fact scans (3 orders scans before the round-10 fix).
        .localCheckpoint(eager=False)
    )
    regions = rev.groupBy("region").agg(
        F.sum("rev_cents").cast("bigint").alias("region_cents")
    )
    grand = rev.agg(F.sum("rev_cents").cast("bigint").alias("grand_cents"))
    return (
        rev.join(F.broadcast(regions), "region")
        .crossJoin(F.broadcast(grand))
        .select(
            "region",
            "nation",
            "rev_cents",
            # DECIMAL(38,0): grand_cents ≈ 3.8e13 at sf1, so
            # region_cents·1e6 ≈ 7.5e18 is already within 25% of int64
            # max and overflows (ANSI: throws) at ~sf1.3 — the round-7
            # scaled-product audit's first hit. HUGEINT on the DuckDB
            # side.
            F.expr(
                "CAST(CAST(rev_cents AS DECIMAL(38,0)) * 1000000"
                " DIV region_cents AS BIGINT)"
            ).alias("share_of_region_e6"),
            F.expr(
                "CAST(CAST(region_cents AS DECIMAL(38,0)) * 1000000"
                " DIV grand_cents AS BIGINT)"
            ).alias("region_share_e6"),
        )
    )
