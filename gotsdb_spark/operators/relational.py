"""Relational operator surface: scans, joins, aggregations, windows,
set ops, scalar/JSON functions (SURVEY.md §2.3).

The reference has none of these (SURVEY.md §2.2 — its only relational-ish
op is a distinct union over collection *names*, engine.go:39-66). This
module is the analytics layer the reference was heading toward, built as
declarative DataFrame programs so Catalyst handles pushdown, pruning,
join strategy and partial aggregation.

Scale notes (100 TB design point):
- Star joins broadcast every dimension side (region/nation/customer/
  supplier/part grow orders of magnitude slower than the facts); only the
  fact table ever shuffles, and AQE re-plans if a "small" side isn't.
- Aggregations are expressed as groupBy().agg() so Catalyst inserts
  partial (map-side) aggregation before the shuffle.
- Top-k per group uses window row_number — at scale this shuffles once on
  the partition key; no driver-side sorting or collect anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from gotsdb_spark.operators.registry import query
from gotsdb_spark.sources.registry import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


# ---------------------------------------------------------------------------
# TPC-H-shaped aggregation / join queries
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity)                                       AS sum_qty,
           sum(l_extendedprice)                                  AS sum_base_price,
           sum(l_extendedprice * (1 - l_discount))               AS sum_disc_price,
           sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
           avg(l_quantity)                                       AS avg_qty,
           avg(l_extendedprice)                                  AS avg_price,
           avg(l_discount)                                       AS avg_disc,
           count(*)                                              AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filter → hash agg with 8 aggregates.

    Catalyst splits the aggregation into partial (map-side) + final, so
    the shuffle carries 6 groups, not 600k (or 600B) rows. The shipdate
    filter and the 7-column projection push into the Parquet scan.
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).alias("sum_disc_price"),
            F.sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           sum(l_extendedprice * (1 - l_discount)) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → star join → agg → top-k.

    The customer join is left unhinted: at bench scale Catalyst
    broadcasts the filtered segment (lineitem⋈orders stays the only
    shuffle); at 100 TB customer outgrows the 8 GB broadcast ceiling and
    AQE falls back to a shuffled join. Deterministic tie-break on
    l_orderkey keeps the LIMIT stable for oracle comparison.
    """
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           sum(l_extendedprice * (1 - l_discount)) AS revenue
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star join with a region filter.

    All five dimension sides are broadcast; the only shuffled relation is
    lineitem⋈orders. Catalyst pushes r_name='ASIA' through
    nation→supplier→customer before any fact row is touched.
    """
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT sum(l_extendedprice * l_discount) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan+filter+global agg — the pushdown probe.

    Every predicate here reaches the Parquet reader (PushedFilters), and
    ReadSchema carries only 4 columns. No shuffle at all: partial sums
    combine in a single final reduce.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Joins beyond inner equi: semi / anti / outer
# ---------------------------------------------------------------------------


@query(
    "semi_join_urgent_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    )
    """,
)
def semi_join_urgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): customers with ≥1 urgent order."""
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "anti_join_partless_lineitems",
    oracle="""
    SELECT p_partkey, p_name
    FROM part
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem WHERE l_partkey = p_partkey
    )
    """,
)
def anti_join_partless_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): parts never ordered."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return part.join(li, part.p_partkey == li.l_partkey, "left_anti").select(
        "p_partkey", "p_name"
    )


@query(
    "outer_join_order_counts",
    oracle="""
    SELECT c_custkey,
           count(o_orderkey) AS n_orders,
           coalesce(sum(o_totalprice), 0.0) AS total_spent
    FROM customer
    LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
)
def outer_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving customers with zero orders."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum("o_totalprice"), F.lit(0.0)).alias("total_spent"),
        )
    )


# ---------------------------------------------------------------------------
# Grouping sets / rollup / cube / pivot / distinct
# ---------------------------------------------------------------------------


@query(
    "rollup_revenue",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           sum(l_extendedprice * (1 - l_discount)) AS revenue,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy: (flag, status) → (flag) → grand total."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
            "n_rows",
        )
    )


@query(
    "cube_quantity",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           sum(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 4 grouping combinations in one pass."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
        )
    )


@query(
    "grouping_sets_priority",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL')   AS orderstatus,
           coalesce(o_orderpriority, 'ALL') AS orderpriority,
           count(*) AS n_orders,
           sum(o_totalprice) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via Spark SQL."""
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL')   AS orderstatus,
               coalesce(o_orderpriority, 'ALL') AS orderpriority,
               count(*) AS n_orders,
               sum(o_totalprice) AS total
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """,
        orders=_t(spark, sf_dir, "orders"),
    )


@query(
    "pivot_status_by_flag",
    oracle="""
    SELECT l_returnflag,
           sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS qty_o,
           sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS qty_f
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def pivot_status_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot linestatus into columns (fixed pivot values → no extra scan)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("l_quantity"))
        .select(
            "l_returnflag",
            F.col("O").alias("qty_o"),
            F.col("F").alias("qty_f"),
        )
    )


@query(
    "distinct_parts_per_flag",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def distinct_parts_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi count-distinct (Catalyst expands to partial aggregates)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@query(
    "approx_distinct_users",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id)::BIGINT AS n_users_exact,
           count(*)::BIGINT AS n_events,
           TRUE AS approx_within_5pct
    FROM events
    GROUP BY event_type
    """,
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct, oracled as a bounded-error verdict.

    Cross-engine sketches can't hash-match (DuckDB's HLL differs), so the
    query computes BOTH the sketch and the exact count and emits the exact
    value plus a deterministic ``approx_within_5pct`` verdict; the oracle
    reproduces the exact side and asserts TRUE. Spark's HLL is
    deterministic for fixed input, so the verdict is stable.

    At 100 TB the sketch path replaces exact count-distinct where a 2%
    error is acceptable: one pass, constant memory per group, no distinct
    shuffle.
    """
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users_exact"),
            F.approx_count_distinct("user_id", 0.02).alias("_approx"),
            F.count("*").alias("n_events"),
        )
        .select(
            "event_type",
            "n_users_exact",
            "n_events",
            (
                F.abs(F.col("_approx") - F.col("n_users_exact"))
                <= 0.05 * F.col("n_users_exact")
            ).alias("approx_within_5pct"),
        )
    )


# ---------------------------------------------------------------------------
# Set operations on data
# ---------------------------------------------------------------------------


@query(
    "setop_active_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def setop_active_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: nations that have both customers and suppliers."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "setop_customer_only_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def setop_customer_only_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set semantics): nations with customers but no suppliers."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


@query(
    "union_daily_activity",
    oracle="""
    SELECT kind, d, count(*) AS n FROM (
      SELECT 'order' AS kind, date_trunc('day', o_orderdate) AS d FROM orders
      UNION ALL
      SELECT 'event' AS kind, date_trunc('day', ts) AS d FROM events
    ) u
    GROUP BY kind, d
    """,
)
def union_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL across heterogeneous tables aligned by name."""
    orders = _t(spark, sf_dir, "orders").select(
        F.lit("order").alias("kind"), F.date_trunc("day", "o_orderdate").alias("d")
    )
    events = _t(spark, sf_dir, "events").select(
        F.lit("event").alias("kind"), F.date_trunc("day", "ts").alias("d")
    )
    return orders.unionByName(events).groupBy("kind", "d").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@query(
    "topk_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders
    ) t WHERE rn <= 3
    """,
)
def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — the scalable top-k idiom.

    One shuffle on o_custkey; rank computed within partitions. Never sort
    globally, never collect. Deterministic tie-break on o_orderkey.
    """
    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "window_rank_suppliers",
    oracle="""
    SELECT s_nationkey, s_suppkey, s_acctbal,
           CAST(rank()       OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS INT) AS rnk,
           CAST(dense_rank() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS INT) AS drnk
    FROM supplier
    """,
)
def window_rank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank within nation."""
    supp = _t(spark, sf_dir, "supplier")
    w = W.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"))
    return supp.select(
        "s_nationkey",
        "s_suppkey",
        "s_acctbal",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@query(
    "window_running_revenue",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
           sum(l_extendedprice * (1 - l_discount)) OVER (
             PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber,
                      l_extendedprice, l_discount
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS running_revenue
    FROM lineitem
    """,
)
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) revenue per supplier — ROWS frame.

    The fixture contains duplicate (l_orderkey, l_linenumber) rows with
    different prices (e.g. order 45185 line 7 at sf0.1), so the ORDER BY
    also includes the summand's inputs: rows tied on every ordering
    column then contribute identical values, making the running sum
    well-defined in both engines regardless of which tied row comes
    first."""
    li = _t(spark, sf_dir, "lineitem")
    w = (
        W.partitionBy("l_suppkey")
        .orderBy(
            "l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
        )
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .over(w)
        .alias("running_revenue"),
    )


@query(
    "window_lag_order_gap",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           lag(o_totalprice) OVER w  AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           first_value(o_totalprice) OVER w AS first_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_lag_order_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag / lead / first_value analytics per customer order history."""
    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_totalprice").over(w).alias("first_price"),
    )


# ---------------------------------------------------------------------------
# Sort / limit, scalar functions, JSON, conditional logic
# ---------------------------------------------------------------------------


@query(
    "top_accounts_global",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    ORDER BY c_acctbal DESC, c_custkey
    LIMIT 25
    """,
)
def top_accounts_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY + LIMIT → Spark plans TakeOrderedAndProject
    (per-partition top-25 then merge — never a full global sort)."""
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .limit(25)
        .select("c_custkey", "c_name", "c_acctbal")
    )


@query(
    "scalar_string_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_brand)                                   AS brand_u,
           CAST(regexp_extract(p_brand, '[0-9]+', 0) AS INT) AS brand_num,
           substr(p_name, 1, 8)                             AS name_prefix,
           CAST(length(p_name) AS INT)                      AS name_len,
           concat(p_type, '/', p_brand)                     AS type_brand,
           replace(lower(p_type), ' ', '_')                 AS type_slug
    FROM part
    """,
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String expression algebra: regexp, case, substring, concat."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.regexp_extract("p_brand", "[0-9]+", 0).cast("int").alias("brand_num"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat(F.col("p_type"), F.lit("/"), F.col("p_brand")).alias("type_brand"),
        F.replace(F.lower("p_type"), F.lit(" "), F.lit("_")).alias("type_slug"),
    )


@query(
    "scalar_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100 AS net_price,
           abs(l_discount - 0.05)                       AS disc_dev,
           CAST(floor(l_quantity) AS BIGINT)            AS qty_floor,
           CAST(ceil(l_quantity / 10.0) AS BIGINT)      AS qty_decile,
           ln(l_extendedprice + 1)                      AS log_price,
           power(l_tax, 2)                              AS tax_sq
    FROM lineitem
    WHERE l_orderkey < 100
    """,
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math expression algebra (all JVM-side, codegen'd)."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 100)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        # floor(x*100+0.5)/100, not round(): Spark rounds HALF_UP, DuckDB
        # HALF_EVEN — this half-up emulation is identical in both.
        (F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5) / 100).alias(
            "net_price"
        ),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.floor("l_quantity").alias("qty_floor"),
        F.ceil(F.col("l_quantity") / 10.0).alias("qty_decile"),
        F.log(F.col("l_extendedprice") + 1).alias("log_price"),
        F.pow(F.col("l_tax"), 2).alias("tax_sq"),
    )


@query(
    "json_props_extract",
    oracle="""
    SELECT event_type,
           avg(CAST(json_extract_string(props, '$.k') AS INT)) AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-in-string parsing with a typed schema (from_json)."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.withColumn("k", F.from_json("props", "k INT").getField("k"))
    return parsed.groupBy("event_type").agg(
        F.avg("k").alias("avg_k"),
        F.max("k").alias("max_k"),
        F.count("*").alias("n"),
    )


@query(
    "case_null_handling",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debtor'
                WHEN c_acctbal < 5000 THEN 'standard'
                ELSE 'premium' END AS tier,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS segment_masked,
           CAST(c_acctbal > 0 AS INT) AS is_positive
    FROM customer
    """,
)
def case_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE / NULLIF / COALESCE conditional algebra."""
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debtor")
        .when(F.col("c_acctbal") < 5000, "standard")
        .otherwise("premium")
        .alias("tier"),
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")).alias(
            "segment_masked"
        ),
        (F.col("c_acctbal") > 0).cast("int").alias("is_positive"),
    )


@query(
    "exact_median_price",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.5) AS median_price,
           quantile_cont(l_extendedprice, 0.9) AS p90_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def exact_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (matches DuckDB quantile_cont).

    At 100 TB you'd switch to percentile_approx (sketch-mergeable, one
    pass); exact percentile is kept because it is oracle-comparable.
    """
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.5).alias("median_price"),
        F.percentile("l_extendedprice", 0.9).alias("p90_price"),
    )


@query(
    "approx_percentile_price",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.5) AS median_price_exact,
           TRUE AS approx_within_1pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def approx_percentile_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentile, oracled as a bounded-error verdict.

    Emits the exact interpolated median plus a deterministic verdict that
    the KLL-style ``percentile_approx`` sketch landed within 1% of it;
    the oracle reproduces the exact side and asserts TRUE. This keeps the
    100 TB path (mergeable one-pass sketch) under the hash gate.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", 0.5).alias("median_price_exact"),
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("_approx"),
        )
        .select(
            "l_returnflag",
            "median_price_exact",
            (
                F.abs(F.col("_approx") - F.col("median_price_exact"))
                <= 0.01 * F.abs(F.col("median_price_exact"))
            ).alias("approx_within_1pct"),
        )
    )


@query(
    "q4_order_priority_check",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS against the fact table → left-semi join."""
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@query(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           sum(l_extendedprice * (1 - l_discount)) AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue ranking, 4-table join."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q14_promo_revenue_pct",
    oracle="""
    SELECT 100.0 * sum(CASE WHEN p_type = 'PROMO'
                            THEN l_extendedprice * (1 - l_discount) END)
               / sum(l_extendedprice * (1 - l_discount)) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1997-07-01'
    """,
)
def q14_promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio over a dim join."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            (
                100.0 * F.sum(F.when(F.col("p_type") == "PROMO", rev)) / F.sum(rev)
            ).alias("promo_pct")
        )
    )


@query(
    "q18_large_volume_customers",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum(l_quantity) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
    )
    GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered IN-subquery over the fact table.

    The subquery aggregates lineitem once (map-side partial), and the
    qualifying order keys semi-join back — no correlated re-execution.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .where(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        li.join(big.withColumnRenamed("l_orderkey", "bk"), F.col("l_orderkey") == F.col("bk"), "inner")
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .agg(F.sum("l_quantity").alias("total_qty"))
    )


@query(
    "full_outer_customer_supplier_nations",
    oracle="""
    SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
           coalesce(c.n_cust, 0) AS n_cust,
           coalesce(s.n_supp, 0) AS n_supp
    FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust
          FROM customer GROUP BY 1) c
    FULL OUTER JOIN
         (SELECT s_nationkey AS nationkey, count(*) AS n_supp
          FROM supplier GROUP BY 1) s
      USING (nationkey)
    """,
)
def full_outer_customer_supplier_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: nation coverage from either side preserved."""
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_supp"))
    )
    return c.join(s, ["nationkey"], "full").select(
        "nationkey",
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@query(
    "q7_nation_trade_flows",
    oracle="""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS ship_year,
           sum(l_extendedprice * (1 - l_discount)) AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE n1.n_nationkey <> n2.n_nationkey
    GROUP BY 1, 2, 3
    """,
)
def q7_nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the same dimension (nation) joined twice in two
    roles via aliases — supplier nation vs customer nation."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(F.col("n1_key") != F.col("n2_key"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@query(
    "q19_disjunctive_predicates",
    oracle="""
    SELECT sum(l_extendedprice * (1 - l_discount)) AS revenue,
           count(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 10)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 20)
       OR (p_type  = 'PROMO'   AND p_size BETWEEN 20 AND 50 AND l_quantity >= 30)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs mixing both join sides.

    Catalyst extracts the common p_partkey equi-condition so the join
    stays a broadcast hash join, and pushes the per-side conjuncts
    (brand/size to the part scan, quantity to lineitem) below it — the
    CNF-extraction rewrite the reference has no planner to perform.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = li.join(part, part.p_partkey == li.l_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & (F.col("l_quantity") >= 10))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & (F.col("l_quantity") >= 20))
        | ((F.col("p_type") == "PROMO") & F.col("p_size").between(20, 50) & (F.col("l_quantity") >= 30))
    )
    return joined.where(cond).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count("*").alias("n"),
    )


@query(
    "cross_join_region_brand_grid",
    oracle="""
    SELECT r_name, b.p_brand
    FROM region
    CROSS JOIN (SELECT DISTINCT p_brand FROM part) b
    """,
)
def cross_join_region_brand_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join of two tiny sets (reporting-grid idiom).

    Safe only because both sides are small and bounded — the one place
    a cartesian product is the intended plan. Every other operator in
    this engine forbids it (tests assert no accidental cartesians).
    """
    region = _t(spark, sf_dir, "region").select("r_name")
    brands = _t(spark, sf_dir, "part").select("p_brand").distinct()
    return region.crossJoin(brands)


_BASKET_TOPK = 20

_BASKET_ORACLE = f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n_orders AS (
      SELECT count(DISTINCT l_orderkey) AS n FROM items
    ), support AS (
      SELECT l_partkey, count(*) AS s FROM items GROUP BY l_partkey
    ), pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS n_pair
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, CAST(n_pair AS BIGINT) AS n_pair,
           CAST((CAST(n_pair AS HUGEINT) * n.n * 1000000)
                // (CAST(sa.s AS HUGEINT) * sb.s) AS BIGINT)
             AS lift_e6
    FROM pairs
    JOIN support sa ON sa.l_partkey = part_a
    JOIN support sb ON sb.l_partkey = part_b
    CROSS JOIN n_orders n
    ORDER BY n_pair DESC, part_a, part_b
    LIMIT {_BASKET_TOPK}
"""


@query("basket_part_pair_lift", oracle=_BASKET_ORACLE)
def basket_part_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association strength: the top-{_BASKET_TOPK} part
    pairs bought together, scored by LIFT — the statistical layer on
    top of market_basket_part_pairs (advanced.py), which reports raw
    co-occurrence counts only. Raw counts rank popular-with-everything
    items first; lift = P(a,b)/(P(a)·P(b)) corrects for individual
    popularity and is what an association-rule miner actually ranks by.

    Pair candidates come from the same bounded self-equi-join on the
    basket key (quadratic term bounded by basket SIZE, ≤7 lines per
    TPC-H order, never corpus size); the additions are the per-item
    support table joined back and the scalar basket count broadcast
    into the lift arithmetic. Lift is
    computed in exact integer arithmetic (n_pair·n_orders·1e6 //
    s_a·s_b) and the top-k is a TakeOrderedAndProject with a total
    tiebreak (n_pair desc, part_a, part_b) so the cut is
    deterministic. Supports join back as map-side lookups; the scalar
    order count broadcasts.
    """
    # The distinct basket-item table feeds four consumers (order count,
    # support, both self-join sides) and the support table feeds two —
    # both checkpointed so the lineitem scan and the distinct shuffle
    # run once (5 scans before the round-10 audit fix).
    items = (
        load_table(spark, "lineitem", sf_dir)
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_orders = items.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n")
    )
    support = (
        items.groupBy("l_partkey")
        .agg(F.count("*").alias("s"))
        .localCheckpoint(eager=False)
    )
    b = items.select(
        F.col("l_orderkey").alias("ok_b"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        items.join(
            b,
            (F.col("l_orderkey") == F.col("ok_b"))
            & (F.col("l_partkey") < F.col("part_b")),
        )
        .groupBy(F.col("l_partkey").alias("part_a"), "part_b")
        .agg(F.count("*").cast("long").alias("n_pair"))
    )
    sa = support.select(F.col("l_partkey").alias("part_a"), F.col("s").alias("s_a"))
    sb = support.select(F.col("l_partkey").alias("part_b"), F.col("s").alias("s_b"))
    return (
        pairs.join(sa, "part_a")
        .join(sb, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_pair",
            # DECIMAL(38,0): worst-case n_pair·n·1e6 = n²·1e6 ≈ 2.25e18
            # at sf1 (4× headroom) and overflows at ~sf4; the support
            # product s_a·s_b has the same n² bound. Round-7
            # scaled-product audit; HUGEINT on the DuckDB side.
            F.expr(
                "CAST(CAST(n_pair AS DECIMAL(38,0)) * n * 1000000"
                " DIV (CAST(s_a AS DECIMAL(38,0)) * s_b) AS BIGINT)"
            ).alias("lift_e6"),
        )
        .orderBy(F.desc("n_pair"), "part_a", "part_b")
        .limit(_BASKET_TOPK)
    )


_CHECKSUM_ORACLE = """
    WITH o AS (
      SELECT ('0x' || substr(md5(
               CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
               CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)
             ), 1, 15))::BIGINT AS h
      FROM orders
    ), l AS (
      SELECT ('0x' || substr(md5(
               CAST(l_orderkey AS VARCHAR) || '|' ||
               CAST(l_linenumber AS VARCHAR) || '|' ||
               CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
             ), 1, 15))::BIGINT AS h
      FROM lineitem
    )
    SELECT 'orders' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(CAST(sum(h) AS DECIMAL(38,0)) AS VARCHAR) AS checksum FROM o
    UNION ALL
    SELECT 'lineitem', CAST(count(*) AS BIGINT),
           CAST(CAST(sum(h) AS DECIMAL(38,0)) AS VARCHAR)
    FROM l
"""


@query("audit_content_checksum", oracle=_CHECKSUM_ORACLE)
def audit_content_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprints: per-row md5 over a
    canonical field encoding, integer-summed into one checksum per
    table.

    The anti-entropy primitive behind replica comparison, migration
    sign-off and backup verification at 100 TB: because the combine
    (integer sum of 60-bit hash prefixes) is commutative and
    associative, ANY partitioning, scan order or engine produces the
    same fingerprint — two sides compare one row per table instead of
    shipping data. Fields are canonicalized explicitly ('|' delimiter,
    money as integer cents) because a checksum is only as portable as
    its encoding; the 60-bit terms accumulate in a DECIMAL(38,0) sum
    (both engines), which holds ~1e19 rows without overflow while
    staying exactly comparable (emitted as a string — the exact
    integer is the artifact). Pure scan+map+aggregate: no shuffle
    beyond the 2-row final combine.
    """
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)

    def prefix60(col):
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")

    o_h = prefix60(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_orderstatus"),
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").cast("string"),
        )
    )
    l_h = prefix60(
        F.concat_ws(
            "|",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
            F.col("l_quantity").cast("long").cast("string"),
        )
    )
    o_sum = orders.select(o_h.alias("h")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.col("h").cast("decimal(20,0)"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("checksum"),
    ).select(F.lit("orders").alias("tbl"), "n_rows", "checksum")
    l_sum = li.select(l_h.alias("h")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.col("h").cast("decimal(20,0)"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("checksum"),
    ).select(F.lit("lineitem").alias("tbl"), "n_rows", "checksum")
    return o_sum.unionByName(l_sum)


# ---------------------------------------------------------------------------
# Skyline (Pareto frontier) query — round 7.
# ---------------------------------------------------------------------------

SKYLINE_ORACLE = """
    WITH pts AS (
      SELECT p_brand,
             CAST(floor(p_retailprice * 100) AS BIGINT) AS price_cents,
             CAST(p_size AS BIGINT) AS p_size
      FROM part
    ), dic AS (
      -- collapse to the (brand, price) dictionary first: only the max
      -- size at each price can be on the frontier
      SELECT p_brand, price_cents,
             max(p_size) AS best_size,
             CAST(count(*) AS BIGINT) AS n_parts
      FROM pts GROUP BY p_brand, price_cents
    ), swept AS (
      SELECT p_brand, price_cents, best_size, n_parts,
             max(best_size) OVER (
               PARTITION BY p_brand ORDER BY price_cents
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS best_cheaper
      FROM dic
    )
    SELECT p_brand, price_cents, best_size, n_parts
    FROM swept
    WHERE best_cheaper IS NULL OR best_cheaper < best_size
"""


@query("skyline_price_size_frontier", oracle=SKYLINE_ORACLE)
def skyline_price_size_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-frontier query: per brand, the (price, size)
    points not DOMINATED by any other part — cheaper-and-at-least-as-
    big or same-price-and-bigger — i.e. the staircase a "best value"
    product search walks. Skylines are a classic operator relational
    engines lack natively; the naive formulation is a quadratic
    NOT EXISTS self-join.

    Sub-quadratic rewrite, exact: (1) collapse to the (brand,
    price_cents) dictionary keeping max size per price — any point
    below its price's max is dominated by it (same price, bigger), so
    only dictionary rows can survive; (2) one brand-partitioned sweep
    in price order — a RANGE frame ending at 1 PRECEDING gives the
    best size among STRICTLY cheaper points, and a dictionary row is
    on the frontier iff it beats that. Dominance resolved in O(dic ·
    log) instead of O(n²), with ties handled exactly (equal price +
    equal size points coexist; n_parts reports multiplicity).

    Scale: the window runs over the per-brand price dictionary —
    bounded by the price grid, not the row count — and `part` is a
    dimension table besides; fact-sized skylines would bucket the
    dictionary by brand and reuse the identical sweep.
    """
    pts = load_table(spark, "part", sf_dir).select(
        "p_brand",
        F.floor(F.col("p_retailprice") * 100).cast("bigint").alias("price_cents"),
        F.col("p_size").cast("bigint").alias("p_size"),
    )
    dic = pts.groupBy("p_brand", "price_cents").agg(
        F.max("p_size").alias("best_size"),
        F.count(F.lit(1)).cast("long").alias("n_parts"),
    )
    w = (
        W.partitionBy("p_brand")
        .orderBy("price_cents")
        .rangeBetween(W.unboundedPreceding, -1)
    )
    swept = dic.withColumn("best_cheaper", F.max("best_size").over(w))
    return swept.where(
        F.col("best_cheaper").isNull()
        | (F.col("best_cheaper") < F.col("best_size"))
    ).select("p_brand", "price_cents", "best_size", "n_parts")


# ---------------------------------------------------------------------------
# RFM customer segmentation on exact dictionary deciles — round 8.
# ---------------------------------------------------------------------------

def _rfm_edges_sql(metric: str, prefix: str) -> str:
    """One metric's PSI-style decile-edge CTE chain (DuckDB side)."""
    picks = ", ".join(
        f"min(CASE WHEN cc * 10 >= {k} * n THEN {metric} END)"
        f" AS {prefix}e{k}"
        for k in range(1, 10)
    )
    return f"""
    {prefix}dic AS (
      SELECT {metric}, count(*) AS c FROM cust GROUP BY {metric}
    ), {prefix}cum AS (
      SELECT {metric}, sum(c) OVER (ORDER BY {metric}) AS cc,
             (SELECT n FROM tot) AS n
      FROM {prefix}dic
    ), {prefix}edges AS (
      SELECT {picks} FROM {prefix}cum
    )"""


def _rfm_bin_sql(metric: str, prefix: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN {metric} > {prefix}e{k} THEN 1 ELSE 0 END)"
        for k in range(1, 10)
    )
    return f"1 + {terms}"


RFM_ORACLE = f"""
    WITH cust AS (
      SELECT o_custkey,
             datediff('day', max(o_orderdate),
                      (SELECT max(o_orderdate) FROM orders)) AS r,
             CAST(count(*) AS BIGINT) AS f,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS m
      FROM orders GROUP BY o_custkey
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM cust
    ), {_rfm_edges_sql("r", "r")}, {_rfm_edges_sql("f", "f")},
    {_rfm_edges_sql("m", "m")},
    scored AS (
      SELECT CAST({_rfm_bin_sql("r", "r")} AS INT) AS r_score,
             CAST({_rfm_bin_sql("f", "f")} AS INT) AS f_score,
             CAST({_rfm_bin_sql("m", "m")} AS INT) AS m_score,
             m
      FROM cust CROSS JOIN redges CROSS JOIN fedges CROSS JOIN medges
    )
    SELECT r_score, f_score, m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(m) AS BIGINT) AS monetary_cents,
           CAST(sum(m) // count(*) AS BIGINT) AS avg_monetary_cents
    FROM scored GROUP BY r_score, f_score, m_score
"""


@query("customer_rfm_segments", oracle=RFM_ORACLE)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (Recency / Frequency / Monetary) customer segmentation —
    marketing analytics' canonical decile grid: each customer scored
    1..10 on days-since-last-order, order count, and lifetime spend,
    then rolled up per (R, F, M) cell with exact monetary totals. The
    cell a customer lands in drives churn-risk and win-back targeting;
    in a data pipeline the same grid is the stratification key for
    behavior-balanced sampling.

    All three score dimensions reuse the shared
    dictionary_decile_edges / decile_bin_col machinery (the round-8
    helper factored out of quality_snapshot_psi and
    stats_information_gain): exact cc*10 >= k*n order statistics over
    each metric's customer-level value dictionary, no engine quantile
    function, no interpolation, and binning is a broadcast 9-edge
    comparison applied metric-by-metric (each edge frame is consumed
    and dropped before the next joins, so the e1..e9 names never
    collide). Scores are value deciles (1 = lowest value: for R that
    means most-recent, for F/M least-active — interpretation is the
    caller's).

    Scale: one map-side-combinable groupBy to per-customer rows, three
    dictionary groupBys (value-grid bounded), three dist_rank passes
    over those dictionaries, three broadcast edge rows. Nothing
    data-sized crosses one executor.

    Reference parity: the reference (j0shgrant/gotsdb) has no
    aggregation surface (internal/storage/types.go:3); this is
    [TARGET] product-analytics machinery.
    """
    from gotsdb_spark.operators.distrank import decile_bin_col

    orders = load_table(spark, "orders", sf_dir)
    gmax = orders.agg(F.max("o_orderdate").alias("gmax"))
    cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("long").alias("f"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("long")
            .alias("m"),
        )
        .crossJoin(F.broadcast(gmax))
        .select(
            F.datediff(F.col("gmax"), F.col("last_order")).alias("r"),
            "f",
            "m",
        )
    )
    cust = cust.localCheckpoint(eager=False)
    # ONE dist_rank over the tagged union of the three value
    # dictionaries instead of three separate dist_rank passes (each
    # pass costs a range exchange + window + offsets collect — the
    # r13-optimization measurement): rank by the total order
    # (metric, value); the per-metric cumulative count is the global
    # running sum minus the broadcast per-metric offset (counts of
    # metrics sorting earlier), exactly the dictionary_decile_edges
    # algebra, metric by metric.
    from gotsdb_spark.operators.distrank import dist_rank

    dics = None
    for metric in ("r", "f", "m"):
        d = (
            cust.groupBy(metric)
            .agg(F.count(F.lit(1)).alias("c"))
            .select(
                F.lit(metric).alias("metric"),
                F.col(metric).cast("long").alias("value"),
                "c",
            )
        )
        dics = d if dics is None else dics.unionByName(d)
    ranked = dist_rank(
        dics, ["metric", "value"], rank_col="__rfm_rk", sum_cols={"cc_g": "c"}
    )
    mtot = ranked.groupBy("metric").agg(F.sum("c").cast("long").alias("n_m"))
    # exclusive prefix over the (3-row, schema-bounded) metric totals:
    # off(metric) = Σ n_m of metrics sorting strictly earlier
    off = (
        mtot.alias("a")
        .crossJoin(F.broadcast(mtot.alias("b")))
        .groupBy(F.col("a.metric").alias("metric"))
        .agg(
            F.sum(
                F.when(F.col("b.metric") < F.col("a.metric"), F.col("b.n_m"))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("off")
        )
    )
    edges_all = (
        ranked.join(F.broadcast(off), "metric")
        .join(F.broadcast(mtot), "metric")
        .groupBy("metric")
        .agg(
            *[
                F.min(
                    F.when(
                        (F.col("cc_g") - F.col("off")) * 10
                        >= k * F.col("n_m"),
                        F.col("value"),
                    )
                ).alias(f"e{k}")
                for k in range(1, 10)
            ]
        )
        .localCheckpoint(eager=False)
    )
    scored = cust
    for metric, score in (("r", "r_score"), ("f", "f_score"), ("m", "m_score")):
        edges = edges_all.where(F.col("metric") == metric).drop("metric")
        scored = (
            scored.crossJoin(F.broadcast(edges))
            .withColumn(score, decile_bin_col(metric).cast("int"))
            .drop(*[f"e{k}" for k in range(1, 10)])
        )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("m").cast("long").alias("monetary_cents"),
        F.expr("CAST(sum(m) DIV count(*) AS BIGINT)").alias(
            "avg_monetary_cents"
        ),
    )


# ---------------------------------------------------------------------------
# 3-D skyline (price x size x demand) via size-class grid sweep — round 9.
# ---------------------------------------------------------------------------

SKYLINE_3D_ORACLE = """
    WITH demand AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS dem
      FROM lineitem GROUP BY 1
    ), pts AS (
      SELECT CAST(floor(p.p_retailprice) AS BIGINT) AS dollars,
             CAST(p.p_size AS BIGINT) AS p_size,
             coalesce(d.dem, 0) AS dem
      FROM part p LEFT JOIN demand d ON d.l_partkey = p.p_partkey
    ), cells AS (
      SELECT dollars, p_size, max(dem) AS best_demand
      FROM pts GROUP BY 1, 2
    ), mult AS (
      SELECT c.dollars, c.p_size, c.best_demand,
             CAST(count(*) AS BIGINT) AS n_parts
      FROM cells c JOIN pts p
        ON p.dollars = c.dollars AND p.p_size = c.p_size
       AND p.dem = c.best_demand
      GROUP BY 1, 2, 3
    )
    SELECT m.dollars, m.p_size, m.best_demand, m.n_parts
    FROM mult m
    WHERE NOT EXISTS (
      SELECT 1 FROM cells c
      WHERE c.dollars <= m.dollars AND c.p_size >= m.p_size
        AND c.best_demand >= m.best_demand
        AND (c.dollars <> m.dollars OR c.p_size <> m.p_size)
    )
"""


@query("skyline_3d_price_size_demand", oracle=SKYLINE_3D_ORACLE)
def skyline_3d_price_size_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE-dimensional skyline: the (price, size, demand) points not
    dominated by any other part — cheaper AND at-least-as-big AND
    at-least-as-demanded (one strict) — the round-8 backlog's upgrade
    of skyline_price_size_frontier from the 2-D staircase to the
    surface a "best value that actually sells" search needs. The naive
    formulation is a quadratic NOT EXISTS self-join; in 3-D the 2-D
    trick (one running max over the sort dimension) no longer works
    because dominance now asks a 2-D question about the prefix.

    Sub-quadratic grid rewrite, exact: (1) collapse parts to the
    (dollars, size) CELL grid keeping max demand (any part below its
    cell's max is dominated within the cell; the retail-price dollar
    grid and the 1..50 size grid both SATURATE, so the cell count is
    bounded regardless of row count); (2) dominance splits cleanly by
    price relation:
      - strictly cheaper (d' < d, s' >= s): explode each cell to its
        size CLASSES k <= s (a bounded x50 fan-out), take per-(k,
        dollars) maxes, then one k-partitioned RANGE sweep over
        dollars ending at 1 PRECEDING — best demand among strictly
        cheaper cells at size >= k;
      - same price, strictly bigger (d' = d, s' > s): a per-dollars
        suffix max over the size-descending cell list (cells are
        unique per (d, s), so a ROWS frame to 1 PRECEDING is exactly
        the strict-size set).
    A cell survives iff neither max reaches its demand. O(cells * 50)
    work, never O(n^2); every window partition is grid-bounded.

    Scale: demand is one map-side-combinable fact groupBy; everything
    after runs on the saturating cell grid. The part join is unhinted
    (Catalyst broadcasts at bench scale, AQE decides at 100 TB).

    Reference parity: the reference (j0shgrant/gotsdb) has no
    relational surface (SURVEY.md section 2.2); this is [TARGET]
    analytics machinery.
    """
    demand = (
        load_table(spark, "lineitem", sf_dir)
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("dem"))
    )
    part = load_table(spark, "part", sf_dir)
    pts = part.join(
        demand, part.p_partkey == demand.l_partkey, "left"
    ).select(
        F.floor("p_retailprice").cast("bigint").alias("dollars"),
        F.col("p_size").cast("bigint").alias("p_size"),
        F.coalesce("dem", F.lit(0)).alias("dem"),
    )
    # Single fact pass: everything downstream derives from the
    # (cell, demand) dictionary, checkpointed so the three consumers
    # (cells, multiplicity, sweep) never rescan part/lineitem.
    cnt = (
        pts.groupBy("dollars", "p_size", "dem")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    cells = cnt.groupBy("dollars", "p_size").agg(
        F.max("dem").alias("best_demand")
    )
    mult = (
        cnt.join(cells, ["dollars", "p_size"])
        .where(F.col("dem") == F.col("best_demand"))
        .groupBy("dollars", "p_size", "best_demand")
        .agg(F.sum("c").cast("long").alias("n_parts"))
    )
    # (a) best demand among STRICTLY cheaper cells with size >= class k
    classes = cells.select(
        "dollars",
        F.col("best_demand").alias("m"),
        F.explode(F.sequence(F.lit(1).cast("bigint"), F.col("p_size"))).alias(
            "k"
        ),
    )
    per_kd = classes.groupBy("k", "dollars").agg(F.max("m").alias("mk"))
    w_cheaper = (
        W.partitionBy("k")
        .orderBy("dollars")
        .rangeBetween(W.unboundedPreceding, -1)
    )
    best_cheaper = per_kd.select(
        F.col("k").alias("bc_size"),
        F.col("dollars").alias("bc_dollars"),
        F.max("mk").over(w_cheaper).alias("best_cheaper"),
    )
    # (b) best demand among same-dollars, STRICTLY bigger cells (cells
    # are unique per (dollars, size), so ROWS..1 PRECEDING is strict)
    w_bigger = (
        W.partitionBy("dollars")
        .orderBy(F.col("p_size").desc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    flanked = cells.withColumn(
        "best_bigger", F.max("best_demand").over(w_bigger)
    ).join(
        best_cheaper,
        (F.col("bc_size") == F.col("p_size"))
        & (F.col("bc_dollars") == F.col("dollars")),
        "left",
    ).select(
        "dollars", "p_size", "best_demand", "best_cheaper", "best_bigger"
    )
    sky = flanked.where(
        (
            F.col("best_cheaper").isNull()
            | (F.col("best_cheaper") < F.col("best_demand"))
        )
        & (
            F.col("best_bigger").isNull()
            | (F.col("best_bigger") < F.col("best_demand"))
        )
    )
    return sky.join(mult, ["dollars", "p_size", "best_demand"]).select(
        "dollars", "p_size", "best_demand", "n_parts"
    )
