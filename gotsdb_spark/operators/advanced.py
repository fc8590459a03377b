"""Advanced operator coverage: subqueries, range frames, ntile /
percent_rank, date/time functions, unpivot, higher-order array and map
functions, deterministic sampling, string distance, and an IVF-style
ANN centroid assignment (SURVEY.md §2.3 long tail).

Same contract as the other operator modules: DataFrame-first, DuckDB
oracle for everything deterministic, scale notes where the plan shape
matters at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from gotsdb_spark.operators.registry import query
from gotsdb_spark.sources.registry import fan_out, load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


@query(
    "scalar_subquery_above_avg",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
    """,
)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: customers above the global average balance.

    Catalyst plans the subquery as a broadcast of one row — the fact
    side is scanned once; no per-row re-evaluation.
    """
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_acctbal
        FROM {customer}
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM {customer})
        """,
        customer=_t(spark, sf_dir, "customer"),
    )


@query(
    "correlated_exists_big_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_totalprice > 2 * (
          SELECT avg(o_totalprice) FROM orders oo WHERE oo.o_custkey = o.o_custkey
        )
    )
    """,
)
def correlated_exists_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS with a correlated scalar subquery: customers
    with at least one order over 2× their own average.

    Catalyst decorrelates both subqueries into aggregates + joins — the
    rewrite the reference has no machinery for (SURVEY.md §4.2).
    """
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM {customer} c
        WHERE EXISTS (
          SELECT 1 FROM {orders} o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_totalprice > 2 * (
              SELECT avg(o_totalprice) FROM {orders} oo WHERE oo.o_custkey = o.o_custkey
            )
        )
        """,
        customer=_t(spark, sf_dir, "customer"),
        orders=_t(spark, sf_dir, "orders"),
    )


@query(
    "window_range_frame_price_band",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(count(*) OVER (
             ORDER BY o_totalprice
             RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING
           ) AS BIGINT) AS n_in_band
    FROM orders
    """,
)
def window_range_frame_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a numeric ordering: how many orders fall within
    ±1000 of each order's price — WITHOUT the global unpartitioned
    window (which hauls every order to one executor for the sort).

    Bucket-partitioned rewrite: with bucket width 2000 = band width,
    every row's ±1000 band spans EXACTLY two adjacent buckets
    (floor((p+1000)/2000) − floor((p−1000)/2000) = 1 identically), so
    each order is replicated into its own bucket and the next one
    (weight 1), probes carry weight 0 in bucket floor((p+1000)/2000),
    and a bucket-partitioned RANGE window summing weights sees every
    in-band neighbor exactly once (the two copies land in different
    buckets, so no double count). 2× row replication + one shuffle
    keyed by a bounded-width price bucket replaces the single-partition
    sort; per-bucket load is the order density of a $4000 price span.
    """
    band, width = 1000, 2000
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    bucket = F.floor(F.col("o_totalprice") / width)
    data = orders.select(
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("long").alias("o_custkey"),
        "o_totalprice",
        F.explode(F.array(bucket, bucket + 1)).alias("g"),
        F.lit(1).alias("wt"),
    )
    probe = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.floor((F.col("o_totalprice") + band) / width).alias("g"),
        F.lit(0).alias("wt"),
    )
    w = (
        W.partitionBy("g")
        .orderBy("o_totalprice")
        .rangeBetween(-band, band)
    )
    return (
        data.unionByName(probe)
        .withColumn("n_in_band", F.sum("wt").over(w).cast("long"))
        .where(F.col("wt") == 0)
        .select("o_orderkey", "o_custkey", "o_totalprice", "n_in_band")
    )


@query(
    "window_ntile_percentrank",
    oracle="""
    SELECT c_custkey, c_acctbal,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM customer
    WINDOW w AS (ORDER BY c_acctbal, c_custkey)
    """,
)
def window_ntile_percentrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile / percent_rank / cume_dist —
    reconstructed from a distributed global rank (dist_rank: range
    partition → local rank → broadcast offsets) instead of the built-in
    unpartitioned window that would serialize every customer through
    one executor.

    The ORDER BY ends in the unique customer key, so the order is
    total: rank == row_number == dense peer group of size 1, hence
    percent_rank = (rnk−1)/(n−1) and cume_dist = rnk/n exactly (both a
    single IEEE division of exact integers — bit-identical in DuckDB's
    built-ins, which compute the same quotients), and ntile comes from
    ntile_from_rank's integer tile algebra. n is a 1-row broadcast.
    """
    from gotsdb_spark.operators.distrank import dist_rank, ntile_from_rank

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    total = cust.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    ranked = dist_rank(cust, ["c_acctbal", "c_custkey"], rank_col="_rnk")
    r, n = F.col("_rnk"), F.col("_n")
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            "c_custkey",
            "c_acctbal",
            ntile_from_rank(r, n, 4).alias("quartile"),
            # n = 1 ⇒ the engines define percent_rank as 0, not 0/0.
            F.when(n > 1, (r - 1) / (n - 1)).otherwise(F.lit(0.0)).alias(
                "pct_rank"
            ),
            (r / n).alias("cume"),
        )
    )


@query(
    "date_parts_shipping_delay",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT)    AS order_year,
           CAST(quarter(o_orderdate) AS INT) AS order_quarter,
           o_orderpriority,
           avg(CAST(datediff('day', o_orderdate, l_shipdate) AS INT)) AS avg_delay_days,
           CAST(max(datediff('day', o_orderdate, l_shipdate)) AS INT) AS max_delay_days,
           count(*) AS n
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY 1, 2, 3
    """,
)
def date_parts_shipping_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction + datediff over the order→ship interval."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.quarter("o_orderdate").alias("order_quarter"),
            "o_orderpriority",
        )
        .agg(
            F.avg(F.datediff("l_shipdate", "o_orderdate")).alias("avg_delay_days"),
            F.max(F.datediff("l_shipdate", "o_orderdate")).alias("max_delay_days"),
            F.count("*").alias("n"),
        )
    )


@query(
    "unpivot_part_attrs",
    oracle="""
    SELECT p_partkey, attr, val FROM (
      SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
      UNION ALL
      SELECT p_partkey, 'retailprice' AS attr, p_retailprice AS val FROM part
    ) u
    """,
)
def unpivot_part_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (stack): wide attribute columns → (attr, val) rows."""
    part = _t(spark, sf_dir, "part")
    return part.selectExpr(
        "p_partkey",
        "stack(2, 'size', CAST(p_size AS DOUBLE), 'retailprice', p_retailprice)"
        " AS (attr, val)",
    )


@query(
    "higher_order_array_funcs",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    SELECT doc_id,
           CAST(len(list_filter(ws, w -> length(w) > 4)) AS INT) AS n_long_words,
           CAST(list_aggregate(list_transform(ws, w -> length(w)), 'sum') AS BIGINT)
             AS total_chars,
           array_to_string(list_sort(list_distinct(ws))[1:3], ',') AS first3_sorted,
           upper(ws[1]) AS first_word_upper
    FROM t
    """,
)
def higher_order_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array algebra: filter / transform / aggregate /
    sort / slice — all JVM-side lambda expressions, no UDFs."""
    docs = _t(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(F.filter(ws, lambda w: F.length(w) > 4)).alias("n_long_words"),
        F.aggregate(
            F.transform(ws, lambda w: F.length(w).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("total_chars"),
        F.array_join(
            F.slice(F.array_sort(F.array_distinct(ws)), 1, 3), ","
        ).alias("first3_sorted"),
        F.upper(F.element_at(ws, 1)).alias("first_word_upper"),
    )


@query(
    "map_funcs_props",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(len(json_keys(props))) AS BIGINT) AS total_keys,
           min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k
    FROM events
    GROUP BY event_type
    """,
)
def map_funcs_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-as-map: parse props into MAP<STRING,INT>, use map_keys +
    element access — the schemaless-JSON idiom at scan speed."""
    ev = _t(spark, sf_dir, "events")
    m = F.from_json("props", "MAP<STRING, INT>")
    return (
        ev.select("event_type", F.size(F.map_keys(m)).alias("nk"), m["k"].alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("nk").alias("total_keys"),
            F.min("k").alias("min_k"),
        )
    )


@query(
    "deterministic_sample_agg",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_sampled,
           sum(l_quantity) AS qty_sampled
    FROM lineitem
    WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)), 1, 1)
          IN ('0', '1')
    GROUP BY l_returnflag
    """,
)
def deterministic_sample_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-bucket sampling: a deterministic, engine-portable 1/8 sample
    keyed on the row identity (md5 prefix ∈ {0,1}).

    The 100 TB pattern for repeatable samples: no RNG state, no seed
    coordination across engines/runs, pushes down as a cheap filter.
    """
    li = _t(spark, sf_dir, "lineitem")
    bucket = F.substring(
        F.md5(
            F.concat(
                F.col("l_orderkey").cast("string"),
                F.lit("-"),
                F.col("l_linenumber").cast("string"),
            )
        ),
        1,
        1,
    )
    return (
        li.where(bucket.isin("0", "1"))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_sampled"), F.sum("l_quantity").alias("qty_sampled"))
    )


@query(
    "string_distance_types",
    oracle="""
    SELECT p_partkey,
           CAST(levenshtein(p_type, 'STANDARD') AS INT) AS lev_standard,
           CAST(levenshtein(p_brand, 'Brand#1') AS INT) AS lev_brand1
    FROM part
    """,
)
def string_distance_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance scoring (levenshtein is built-in in both engines)."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.levenshtein("p_type", F.lit("STANDARD")).alias("lev_standard"),
        F.levenshtein("p_brand", F.lit("Brand#1")).alias("lev_brand1"),
    )


_IVF_ORACLE = """
    WITH comps AS (
      SELECT vec_id, label, d.d, CAST(embedding[d.d] AS DOUBLE) AS x
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS d) d
    ), centroids AS (
      SELECT label AS c_label, d, avg(x) AS cx
      FROM comps GROUP BY label, d
    ), dists AS MATERIALIZED (
      SELECT v.vec_id, v.label, c.c_label,
             CAST(floor(sum((v.x - c.cx) * (v.x - c.cx)) * 1e6 + 0.5)
                  AS BIGINT) AS d2_e6
      FROM comps v JOIN centroids c USING (d)
      GROUP BY v.vec_id, v.label, c.c_label
    )
    SELECT vec_id, label AS true_label,
           CAST(c_label AS INT) AS assigned_label,
           c_label = label AS correct
    FROM (
      SELECT vec_id, label, c_label,
             row_number() OVER (
               PARTITION BY vec_id, label
               ORDER BY d2_e6, c_label) AS rn
      FROM dists) t
    WHERE rn = 1
"""


@query("ann_ivf_assign", oracle=_IVF_ORACLE)
def ann_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization: per-label centroids → nearest-centroid
    assignment (L2), with deterministic tie-break on the smallest label.

    This is the scale path for ANN search: centroids are a tiny
    broadcast table; each vector computes k distances locally (one map),
    and a full IVF search then probes only the assigned cell's inverted
    list. Accuracy vs the labels doubles as a recall sanity check.
    """
    emb = fan_out(load_table(spark, "embeddings", sf_dir))
    comps = emb.select(
        "vec_id", "label", F.posexplode("embedding")
    ).select(
        "vec_id",
        "label",
        (F.col("pos") + 1).alias("d"),
        F.col("col").cast("double").alias("x"),
    )
    centroids = comps.groupBy(F.col("label").alias("c_label"), "d").agg(
        F.avg("x").alias("cx")
    )
    # Distances are e6-floored to exact INTEGERS before the argmin
    # (round-12 sf1 finding, same class as the PQ/ADC fix: raw-float
    # argmin plus a float self-equality join in the oracle let each
    # parallel re-evaluation of the unordered sum pick different
    # association orders — at 10x volume DuckDB's double-inlined CTE
    # dropped 729 vectors from its own min-join. Integer grid + one
    # window pass is evaluation-order-proof in both engines.)
    dists = (
        comps.join(F.broadcast(centroids), "d")
        .groupBy("vec_id", "label", "c_label")
        .agg(
            F.floor(
                F.sum(
                    (F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))
                )
                * 1e6
                + 0.5
            )
            .cast("long")
            .alias("d2_e6")
        )
    )
    # Argmin via one window pass (tie-break: smallest label) — avoids the
    # groupBy-min + self-join shape, which costs two extra shuffles and a
    # re-scan of the distance table.
    w = W.partitionBy("vec_id", "label").orderBy("d2_e6", "c_label")
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("label").alias("true_label"),
            F.col("c_label").cast("int").alias("assigned_label"),
            (F.col("c_label") == F.col("label")).alias("correct"),
        )
    )


@query(
    "top_event_per_user_day",
    oracle="""
    SELECT user_id, day, event_id, value FROM (
      SELECT user_id, date_trunc('day', ts) AS day, event_id, value,
             row_number() OVER (
               PARTITION BY user_id, date_trunc('day', ts)
               ORDER BY value DESC, event_id
             ) AS rn
      FROM events
    ) t WHERE rn = 1
    """,
)
def top_event_per_user_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax per (user, day): composite-key top-1 window."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").alias("day")
    w = W.partitionBy("user_id", F.date_trunc("day", "ts")).orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", day, "event_id", "value")
    )


@query(
    "pivot_event_counts_per_user",
    oracle="""
    SELECT user_id,
           count(*) FILTER (event_type = 'click')    AS n_click,
           count(*) FILTER (event_type = 'view')     AS n_view,
           count(*) FILTER (event_type = 'purchase') AS n_purchase,
           count(*) FILTER (event_type = 'signup')   AS n_signup,
           count(*) FILTER (event_type = 'error')    AS n_error
    FROM events
    GROUP BY user_id
    """,
)
def pivot_event_counts_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with known categories → conditional aggregation, one pass."""
    ev = _t(spark, sf_dir, "events")
    aggs = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
        for t in ("click", "view", "purchase", "signup", "error")
    ]
    return ev.groupBy("user_id").agg(*aggs)


@query(
    "setop_intersect_all_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT ALL
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def setop_intersect_all_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiset): keeps min(multiplicity) duplicates."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersectAll(s)


@query(
    "in_subquery_building_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    """,
)
def in_subquery_building_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery (Catalyst rewrites to a left-semi join)."""
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM {orders}
        WHERE o_custkey IN (
          SELECT c_custkey FROM {customer} WHERE c_mktsegment = 'BUILDING'
        )
        """,
        customer=_t(spark, sf_dir, "customer"),
        orders=_t(spark, sf_dir, "orders"),
    )


@query(
    "stats_aggregates",
    oracle="""
    SELECT l_returnflag,
           stddev_samp(l_quantity)                   AS sd_qty,
           var_samp(l_quantity)                      AS var_qty,
           corr(l_quantity, l_extendedprice)         AS corr_qty_price,
           covar_samp(l_quantity, l_extendedprice)   AS covar_qty_price,
           regr_slope(l_extendedprice, l_quantity)   AS slope_price_per_qty,
           skewness(l_quantity)                      AS skew_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/variance/corr/covar/regression
    slope/skewness — all single-pass, partial-aggregatable moments."""
    li = _t(spark, sf_dir, "lineitem")
    agged = li.groupBy("l_returnflag").agg(
        F.stddev_samp("l_quantity").alias("sd_qty"),
        F.var_samp("l_quantity").alias("var_qty"),
        F.corr("l_quantity", "l_extendedprice").alias("corr_qty_price"),
        F.covar_samp("l_quantity", "l_extendedprice").alias("covar_qty_price"),
        F.regr_slope("l_extendedprice", "l_quantity").alias("slope_price_per_qty"),
        F.skewness("l_quantity").alias("g1"),
        F.count("*").alias("n"),
    )
    # Spark's skewness is the population estimator g1; DuckDB (and most
    # stats packages) report the bias-corrected sample skewness
    # G1 = g1 * sqrt(n(n-1)) / (n-2). Convert explicitly.
    n = F.col("n").cast("double")
    g1_to_G1 = F.sqrt(n * (n - 1)) / (n - 2)
    return agged.select(
        "l_returnflag",
        "sd_qty",
        "var_qty",
        "corr_qty_price",
        "covar_qty_price",
        "slope_price_per_qty",
        (F.col("g1") * g1_to_G1).alias("skew_qty"),
    )


@query(
    "agg_collect_sorted",
    oracle="""
    SELECT n_nationkey,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
           CAST(len(list(DISTINCT c_mktsegment)) AS INT) AS n_segments
    FROM nation JOIN customer ON c_nationkey = n_nationkey
    GROUP BY n_nationkey
    """,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/string aggregation: deterministic (sorted) collect_set."""
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    segs = F.array_sort(F.collect_set("c_mktsegment"))
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_nationkey")
        .agg(
            F.array_join(segs, ",").alias("segments"),
            F.size(segs).alias("n_segments"),
        )
    )


@query(
    "histogram_order_prices",
    oracle="""
    SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket,
           floor(o_totalprice / 25000) * 25000.0 AS bucket_lo,
           count(*) AS n,
           min(o_totalprice) AS lo,
           max(o_totalprice) AS hi
    FROM orders
    GROUP BY 1, 2
    """,
)
def histogram_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order prices (row-local bucketing +
    one partial-aggregated groupBy — the scan-speed histogram)."""
    orders = _t(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 25000)
    return orders.groupBy(
        bucket.alias("bucket"), (bucket * 25000.0).alias("bucket_lo")
    ).agg(
        F.count("*").alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


@query(
    "merge_upsert_segments",
    oracle="""
    SELECT c_custkey,
           CASE WHEN EXISTS (
                  SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
                ) THEN 'URGENT-CARE'
                ELSE c_mktsegment END AS segment,
           EXISTS (
             SELECT 1 FROM orders
             WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
           ) AS was_updated
    FROM customer
    """,
)
def merge_upsert_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation (no Delta in this image): apply an updates
    set to a dimension snapshot via anti-join + union.

    updates ∪ (current ⟕anti updates) is the classic upsert rewrite:
    the updates side replaces matching keys, the anti-join keeps
    everything else. One shuffle on the merge key; at scale the same
    plan a Delta MERGE compiles to for whole-partition rewrites. The
    oracle states the post-merge truth declaratively.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    updates = (
        cust.join(
            orders.where(F.col("o_orderpriority") == "1-URGENT"),
            cust.c_custkey == F.col("o_custkey"),
            "left_semi",
        )
        .select(
            "c_custkey",
            F.lit("URGENT-CARE").alias("segment"),
            F.lit(True).alias("was_updated"),
        )
    )
    unchanged = cust.join(updates, ["c_custkey"], "left_anti").select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit(False).alias("was_updated"),
    )
    return updates.unionByName(unchanged)


@query(
    "variant_props_extract",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INT))
                AS BIGINT) AS sum_k,
           CAST(min(CAST(json_extract_string(props, '$.k') AS INT))
                AS INT) AS min_k,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through Spark 4's VariantType: parse_json
    once into the binary variant encoding, then typed variant_get path
    extraction.

    The modern alternative to from_json-with-a-schema
    (json_props_extract is the classic twin): Variant keeps the full
    document in a shredded binary form, so different queries can
    extract different paths without re-parsing strings or agreeing on
    one schema up front — the schema-evolution story for 100 TB of
    heterogeneous event payloads. Extraction is JVM-side expression
    work, same as the rest of the scalar surface.
    """
    ev = load_table(spark, "events", sf_dir)
    k = F.variant_get(F.parse_json("props"), "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("int").alias("min_k"),
            F.count("*").alias("n"),
        )
    )


@query(
    "profile_orders_columns",
    oracle="""
    WITH s AS (
      SELECT count(*) AS n,
             count(o_orderkey) AS nn_key,
             count(DISTINCT o_orderkey) AS nd_key,
             CAST(min(o_orderkey) AS VARCHAR) AS mn_key,
             CAST(max(o_orderkey) AS VARCHAR) AS mx_key,
             count(o_custkey) AS nn_cust,
             count(DISTINCT o_custkey) AS nd_cust,
             CAST(min(o_custkey) AS VARCHAR) AS mn_cust,
             CAST(max(o_custkey) AS VARCHAR) AS mx_cust,
             count(o_orderstatus) AS nn_status,
             count(DISTINCT o_orderstatus) AS nd_status,
             min(o_orderstatus) AS mn_status,
             max(o_orderstatus) AS mx_status,
             count(o_totalprice) AS nn_price,
             count(DISTINCT o_totalprice) AS nd_price,
             CAST(CAST(floor(min(o_totalprice) * 100) AS BIGINT) AS VARCHAR)
               AS mn_price,
             CAST(CAST(floor(max(o_totalprice) * 100) AS BIGINT) AS VARCHAR)
               AS mx_price,
             count(o_orderdate) AS nn_date,
             count(DISTINCT o_orderdate) AS nd_date,
             strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS mn_date,
             strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS mx_date
      FROM orders
    )
    SELECT col, n_rows, n_nulls, n_distinct, min_repr, max_repr FROM (
      SELECT 'o_orderkey' AS col, n AS n_rows, n - nn_key AS n_nulls,
             nd_key AS n_distinct, mn_key AS min_repr, mx_key AS max_repr
      FROM s
      UNION ALL
      SELECT 'o_custkey', n, n - nn_cust, nd_cust, mn_cust, mx_cust FROM s
      UNION ALL
      SELECT 'o_orderstatus', n, n - nn_status, nd_status, mn_status,
             mx_status FROM s
      UNION ALL
      SELECT 'o_totalprice', n, n - nn_price, nd_price, mn_price, mx_price
      FROM s
      UNION ALL
      SELECT 'o_orderdate', n, n - nn_date, nd_date, mn_date, mx_date FROM s
    ) stacked
    """,
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiler: row count, null count, distinct
    count, and min/max representation for every profiled column of
    orders, emitted one row per column.

    The ANALYZE/data-quality audit an engine runs before trusting a new
    drop: ONE scan computes every column's stats as parallel aggregate
    expressions (no per-column passes), then the single stats row is
    unpivoted driver-free with stack(). Representations are chosen for
    cross-engine determinism: integers/strings cast verbatim, money as
    integer cents, timestamps strftime'd — float formatting never
    crosses an engine boundary.
    """
    orders = load_table(spark, "orders", sf_dir)
    s = orders.agg(
        F.count("*").alias("n"),
        F.count("o_orderkey").alias("nn_key"),
        F.countDistinct("o_orderkey").alias("nd_key"),
        F.min("o_orderkey").cast("string").alias("mn_key"),
        F.max("o_orderkey").cast("string").alias("mx_key"),
        F.count("o_custkey").alias("nn_cust"),
        F.countDistinct("o_custkey").alias("nd_cust"),
        F.min("o_custkey").cast("string").alias("mn_cust"),
        F.max("o_custkey").cast("string").alias("mx_cust"),
        F.count("o_orderstatus").alias("nn_status"),
        F.countDistinct("o_orderstatus").alias("nd_status"),
        F.min("o_orderstatus").alias("mn_status"),
        F.max("o_orderstatus").alias("mx_status"),
        F.count("o_totalprice").alias("nn_price"),
        F.countDistinct("o_totalprice").alias("nd_price"),
        F.floor(F.min("o_totalprice") * 100).cast("bigint").cast("string")
        .alias("mn_price"),
        F.floor(F.max("o_totalprice") * 100).cast("bigint").cast("string")
        .alias("mx_price"),
        F.count("o_orderdate").alias("nn_date"),
        F.countDistinct("o_orderdate").alias("nd_date"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd HH:mm:ss")
        .alias("mn_date"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd HH:mm:ss")
        .alias("mx_date"),
    )
    return s.selectExpr(
        """stack(5,
            'o_orderkey',    n, n - nn_key,    nd_key,    mn_key,    mx_key,
            'o_custkey',     n, n - nn_cust,   nd_cust,   mn_cust,   mx_cust,
            'o_orderstatus', n, n - nn_status, nd_status, mn_status, mx_status,
            'o_totalprice',  n, n - nn_price,  nd_price,  mn_price,  mx_price,
            'o_orderdate',   n, n - nn_date,   nd_date,   mn_date,   mx_date
        ) AS (col, n_rows, n_nulls, n_distinct, min_repr, max_repr)"""
    )


@query(
    "keyset_pagination_orders",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents
    FROM orders
    WHERE (o_totalprice > 150000.0)
       OR (o_totalprice = 150000.0 AND o_orderkey > 999)
    ORDER BY o_totalprice, o_orderkey
    LIMIT 20
    """,
)
def keyset_pagination_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek-method) pagination: resume after the cursor
    (last_price, last_key) with a sargable predicate + TopK, never
    OFFSET.

    OFFSET N at scale reads and throws away N rows per page — O(N²)
    over a paginated export. The keyset predicate pushes down to the
    scan and the ORDER BY+LIMIT plans as TakeOrderedAndProject, so each
    page costs the same regardless of position. The cursor tie-break
    includes the unique key, making pagination total and gap-free.
    """
    orders = load_table(spark, "orders", sf_dir)
    after_price, after_key = 150000.0, 999
    page = (
        orders.where(
            (F.col("o_totalprice") > after_price)
            | (
                (F.col("o_totalprice") == after_price)
                & (F.col("o_orderkey") > after_key)
            )
        )
        .orderBy("o_totalprice", "o_orderkey")
        .limit(20)
    )
    return page.select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
    )


@query(
    "window_share_of_total",
    oracle="""
    WITH cents AS (
      SELECT o_orderstatus, o_orderpriority,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS c
      FROM orders
    ), grouped AS (
      SELECT o_orderstatus, o_orderpriority,
             CAST(sum(c) AS BIGINT) AS revenue_cents
      FROM cents GROUP BY o_orderstatus, o_orderpriority
    )
    SELECT o_orderstatus, o_orderpriority, revenue_cents,
           revenue_cents * 1.0
             / sum(revenue_cents) OVER (PARTITION BY o_orderstatus)
             AS share_in_status,
           revenue_cents * 1.0 / sum(revenue_cents) OVER () AS share_total
    FROM grouped
    """,
)
def window_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (ratio_to_report): each (status, priority)
    cell's revenue share within its status and of the grand total via
    unpartitioned/partitioned window sums over the AGGREGATED rows.

    The window runs over ~15 grouped rows, not the fact table — the
    correct shape at any scale (aggregate first, then ratio). Revenue
    is fixed-point cents so the shares divide identical integers in
    both engines.
    """
    orders = load_table(spark, "orders", sf_dir)
    grouped = (
        orders.select(
            "o_orderstatus",
            "o_orderpriority",
            F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
        )
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.sum("c").alias("revenue_cents"))
    )
    w_status = W.partitionBy("o_orderstatus")
    w_all = W.partitionBy()
    return grouped.select(
        "o_orderstatus",
        "o_orderpriority",
        "revenue_cents",
        (
            F.col("revenue_cents")
            / F.sum("revenue_cents").over(w_status).cast("double")
        ).alias("share_in_status"),
        (
            F.col("revenue_cents")
            / F.sum("revenue_cents").over(w_all).cast("double")
        ).alias("share_total"),
    )


@query(
    "table_diff_snapshots",
    oracle="""
    WITH old AS (
      SELECT o_orderkey AS k,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders
    ), new AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 100 = 0
                  THEN CAST(floor(o_totalprice * 110) AS BIGINT)
                  ELSE CAST(floor(o_totalprice * 100) AS BIGINT) END
               AS price_cents
      FROM orders WHERE o_orderkey % 97 <> 0
    )
    SELECT CASE WHEN o.k IS NULL THEN 'added'
                WHEN n.k IS NULL THEN 'removed'
                WHEN o.price_cents <> n.price_cents THEN 'changed'
                ELSE 'unchanged' END AS change_type,
           count(*) AS n_rows,
           CAST(coalesce(sum(CASE WHEN o.k IS NOT NULL AND n.k IS NOT NULL
                                  THEN abs(n.price_cents - o.price_cents)
                             END), 0) AS BIGINT) AS drift_cents
    FROM old o FULL JOIN new n ON o.k = n.k
    GROUP BY 1
    """,
)
def table_diff_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: diff two table versions into
    added / removed / changed / unchanged classes with value drift.

    The anti-entropy check a pipeline runs after a backfill or a
    migration (here the 'new' snapshot is derived deterministically:
    every 97th key deleted, every 100th repriced +10%). One full outer
    join on the key — co-partitionable, and at scale you'd diff
    per-partition row-hash aggregates first and only expand
    partitions whose digests disagree; the join here IS that expand
    step. Money compared in integer cents, so 'changed' is exact.
    """
    orders = load_table(spark, "orders", sf_dir)
    old = orders.select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("price_old"),
    )
    new = orders.where(F.col("o_orderkey") % 97 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.when(
            F.col("o_orderkey") % 100 == 0,
            F.floor(F.col("o_totalprice") * 110),
        )
        .otherwise(F.floor(F.col("o_totalprice") * 100))
        .cast("bigint")
        .alias("price_new"),
    )
    joined = old.join(new, "k", "full").select(
        old["k"].alias("k_old"), new["k"].alias("k_new"),
        "price_old", "price_new",
    )
    change = (
        F.when(F.col("k_old").isNull(), "added")
        .when(F.col("k_new").isNull(), "removed")
        .when(F.col("price_old") != F.col("price_new"), "changed")
        .otherwise("unchanged")
    )
    both = F.col("k_old").isNotNull() & F.col("k_new").isNotNull()
    return (
        joined.select(
            change.alias("change_type"),
            F.when(both, F.abs(F.col("price_new") - F.col("price_old")))
            .alias("drift"),
        )
        .groupBy("change_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.coalesce(F.sum("drift"), F.lit(0)).cast("bigint")
            .alias("drift_cents"),
        )
    )


@query(
    "table_fingerprint_orders",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(CAST('0x' || substr(md5(
                 CAST(o_orderkey AS VARCHAR) || '|' ||
                 CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
                 CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR)
               ), 1, 10) AS BIGINT)) AS BIGINT) AS content_digest
    FROM orders
    """,
)
def table_fingerprint_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table content digest: sum of per-row 48-bit
    md5 prefixes over a canonical row representation.

    The anti-entropy primitive behind cheap replica comparison: two
    sites exchange one (n_rows, digest) pair per table (or per
    partition) and only ship rows when digests disagree —
    table_diff_snapshots is the expand step this gates. Summation is
    commutative, so the digest is independent of row order,
    partitioning, and parallelism. 40-bit terms keep the ANSI-checked
    BIGINT sum safe to ~8M rows; at scale the digest is computed PER
    PARTITION (bounded rows — exactly how the comparison wants it
    anyway), or the sum wraps modulo 2^64 with ANSI off. Money enters
    as integer cents so both engines hash identical canonical
    strings.
    """
    orders = load_table(spark, "orders", sf_dir)
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
    )
    term = F.conv(F.substring(F.md5(canon), 1, 10), 16, 10).cast("long")
    return orders.agg(
        F.count("*").alias("n_rows"),
        F.sum(term).alias("content_digest"),
    )


@query(
    "union_schema_evolution",
    oracle="""
    WITH old_gen AS (
      SELECT doc_id, source, NULL AS lang FROM documents
      WHERE doc_id % 2 = 0
    ), new_gen AS (
      SELECT doc_id, source, lang FROM documents WHERE doc_id % 2 = 1
    ), unioned AS (
      SELECT * FROM old_gen UNION ALL SELECT * FROM new_gen
    )
    SELECT coalesce(lang, '<missing>') AS lang,
           count(*) AS n_docs,
           count(DISTINCT source) AS n_sources
    FROM unioned GROUP BY 1
    """,
)
def union_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: an old data generation lacking a column
    merges with the new generation via unionByName with
    allowMissingColumns — NULL-filled, position-independent.

    The ingestion reality at scale: producers add columns over years
    and the reader must union a decade of layouts. unionByName matches
    on NAME (positional UNION silently mismatches reordered columns);
    allowMissingColumns NULL-fills the old generation. The NULL class
    is first-class in the downstream aggregate.
    """
    docs = load_table(spark, "documents", sf_dir)
    old_gen = docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "source")
    new_gen = docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", "source", "lang"
    )
    unioned = old_gen.unionByName(new_gen, allowMissingColumns=True)
    return unioned.groupBy(
        F.coalesce("lang", F.lit("<missing>")).alias("lang")
    ).agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
    )


@query(
    "tz_local_day_activity",
    oracle="""
    -- Fixture events all fall in January 2024, where America/New_York
    -- is a constant UTC-5 (no DST transition inside the window), so
    -- the oracle states the civil-time shift literally. The Spark side
    -- resolves the SAME instants through the real tz database.
    SELECT date_trunc('day', ts - INTERVAL 5 HOUR) AS local_day,
           count(*) AS n,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1
    """,
)
def tz_local_day_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Civil-time bucketing: daily activity in the America/New_York
    local calendar, computed from UTC instants via the IANA tz database
    (from_utc_timestamp), not a hardcoded offset.

    The TSDB footgun this query pins: "daily" rollups for a US product
    must bucket by civil local time or every day boundary is off by
    5 hours (and wrong twice a year under DST). Row-local conversion,
    one aggregation shuffle. The oracle can hardcode UTC-5 only because
    the fixture window contains no DST transition — the engine side
    never does.
    """
    ev = load_table(spark, "events", sf_dir)
    local = F.from_utc_timestamp("ts", "America/New_York")
    return ev.groupBy(
        F.date_trunc("day", local).alias("local_day")
    ).agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "market_basket_part_pairs",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           count(*) AS n_orders_together
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n_orders_together DESC, part_a, part_b
    LIMIT 20
    """,
)
def market_basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the part pairs most often bought in
    the same order.

    The association-mining first step. The self-join is keyed on
    l_orderkey, so the pair blow-up is bounded by basket size squared
    (TPC-H: <= 7 lines/order → <= 21 pairs), NEVER by table size — the
    same bounded-candidate argument as the LSH band join. The a < b
    canonical ordering halves the pairs and makes the key total; top-k
    tie-breaks on the pair itself.
    """
    li = load_table(spark, "lineitem", sf_dir)
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(
        "l_orderkey", F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        "l_orderkey", F.col("l_partkey").alias("part_b")
    )
    return (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders_together"))
        .orderBy(
            F.desc("n_orders_together"), F.asc("part_a"), F.asc("part_b")
        )
        .limit(20)
    )


@query(
    "rfm_customer_segments",
    oracle="""
    WITH rfm AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             count(*) AS frequency,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM orders GROUP BY o_custkey
    ), scored AS (
      SELECT o_custkey,
             CAST(ntile(4) OVER (ORDER BY last_order, o_custkey) AS INT)
               AS r_score,
             CAST(ntile(4) OVER (ORDER BY frequency, o_custkey) AS INT)
               AS f_score,
             CAST(ntile(4) OVER (ORDER BY monetary_cents, o_custkey) AS INT)
               AS m_score
      FROM rfm
    )
    SELECT r_score, f_score, m_score,
           count(*) AS n_customers
    FROM scored GROUP BY 1, 2, 3
    """,
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: quartile scores for recency, frequency, and
    monetary value per customer, then segment population counts.

    The retention-marketing classic. Each ntile ORDER BY ends in the
    unique customer key, so quartile boundaries are total — the
    difference between a reproducible segmentation and one that
    reshuffles customers every run. Money is fixed-point cents.

    Each quartile score comes from a distributed rank (dist_rank:
    range partition → local rank → broadcast offsets) plus
    ntile_from_rank's integer tile algebra — three linear shuffles of
    the one-row-per-customer frame instead of three single-partition
    global sorts through one executor.
    """
    from gotsdb_spark.operators.distrank import dist_rank, ntile_from_rank

    orders = load_table(spark, "orders", sf_dir)
    rfm = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "monetary_cents"
        ),
    )
    total = rfm.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    ranked = dist_rank(rfm, ["last_order", "o_custkey"], rank_col="_r_rnk")
    ranked = dist_rank(ranked, ["frequency", "o_custkey"], rank_col="_f_rnk")
    ranked = dist_rank(
        ranked, ["monetary_cents", "o_custkey"], rank_col="_m_rnk"
    )
    n = F.col("_n")
    scored = ranked.crossJoin(F.broadcast(total)).select(
        "o_custkey",
        ntile_from_rank(F.col("_r_rnk"), n, 4).alias("r_score"),
        ntile_from_rank(F.col("_f_rnk"), n, 4).alias("f_score"),
        ntile_from_rank(F.col("_m_rnk"), n, 4).alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers")
    )


@query(
    "concurrent_open_orders",
    oracle="""
    WITH intervals AS (
      SELECT o.o_orderkey,
             date_trunc('day', o.o_orderdate) AS start_day,
             date_trunc('day', max(l.l_shipdate)) + INTERVAL 1 DAY
               AS end_day
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate
    ), deltas AS (
      SELECT start_day AS day, 1 AS delta FROM intervals
      UNION ALL
      SELECT end_day, -1 FROM intervals
    ), net AS (
      SELECT day, CAST(sum(delta) AS BIGINT) AS net FROM deltas GROUP BY day
    ), running AS (
      SELECT day,
             sum(net) OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS open_orders
      FROM net
    )
    SELECT date_trunc('month', day) AS month,
           CAST(max(open_orders) AS BIGINT) AS peak_open_orders
    FROM running GROUP BY 1
    """,
)
def concurrent_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line concurrency: peak number of simultaneously open
    orders per month (open = orderdate through last line shipment).

    The interval-overlap classic, solved without an interval self-join:
    +1/-1 boundary deltas, collapsed per day, then ONE running sum over
    the ~2.4k-day aggregated series (a deliberately tiny
    single-partition window — the fact tables never enter a global
    sort). Used everywhere capacity questions appear: concurrent
    sessions, licenses, connections, open tickets.
    """
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    intervals = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            F.date_trunc("day", "o_orderdate").alias("start_day"),
            F.date_add(
                F.date_trunc("day", "last_ship").cast("date"), 1
            ).cast("timestamp").alias("end_day"),
        )
    )
    deltas = intervals.select(
        F.col("start_day").alias("day"), F.lit(1).alias("delta")
    ).unionByName(
        intervals.select(
            F.col("end_day").alias("day"), F.lit(-1).alias("delta")
        )
    )
    net = deltas.groupBy("day").agg(F.sum("delta").alias("net"))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    running = net.select("day", F.sum("net").over(w).alias("open_orders"))
    return running.groupBy(
        F.date_trunc("month", "day").alias("month")
    ).agg(F.max("open_orders").alias("peak_open_orders"))


@query(
    "pareto_revenue_parts",
    oracle="""
    WITH part_rev AS (
      SELECT l_partkey,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS rev_cents
      FROM lineitem GROUP BY l_partkey
    ), ranked AS (
      SELECT l_partkey, rev_cents,
             sum(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum_cents,
             sum(rev_cents) OVER () AS total_cents,
             row_number() OVER (ORDER BY rev_cents DESC, l_partkey) AS rnk
      FROM part_rev
    )
    SELECT count(*) AS n_parts,
           CAST(min(CASE WHEN cum_cents * 1.0 / total_cents >= 0.8
                         THEN rnk END) AS BIGINT) AS parts_for_80pct,
           min(CASE WHEN cum_cents * 1.0 / total_cents >= 0.8
                    THEN cum_cents * 1.0 / total_cents END)
             AS share_at_cutoff
    FROM ranked
    """,
)
def pareto_revenue_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto (80/20) analysis: how many parts carry 80% of revenue.

    The concentration question behind inventory and catalog decisions.
    Revenue aggregates per part first (fixed-point cents); the ranked
    running sum over the aggregated part series comes from dist_rank
    (range partition on (rev desc, partkey) → partition-local rank +
    running sum → broadcast count/sum offsets), so no single executor
    ever sorts the whole part keyspace; total revenue is a 1-row
    broadcast. The (rev, partkey) tie-break makes the ranking total.
    """
    from gotsdb_spark.operators.distrank import dist_rank

    li = load_table(spark, "lineitem", sf_dir)
    part_rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("bigint")
        ).alias("rev_cents")
    )
    total = part_rev.agg(F.sum("rev_cents").cast("long").alias("total_cents"))
    ranked = dist_rank(
        part_rev,
        [F.desc("rev_cents"), F.asc("l_partkey")],
        rank_col="rnk",
        sum_cols={"cum_cents": "rev_cents"},
    ).crossJoin(F.broadcast(total))
    share = F.col("cum_cents") / F.col("total_cents")
    return ranked.agg(
        F.count("*").alias("n_parts"),
        F.min(F.when(share >= 0.8, F.col("rnk"))).alias("parts_for_80pct"),
        F.min(F.when(share >= 0.8, share)).alias("share_at_cutoff"),
    )


@query(
    "markov_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ), pairs AS (
      SELECT event_type, next_type, count(*) AS n FROM seq
      WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    )
    SELECT event_type, next_type, n,
           n * 1.0 / sum(n) OVER (PARTITION BY event_type)
             AS transition_prob
    FROM pairs
    """,
)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral Markov chain: the event-type transition
    matrix with per-state probabilities.

    What powers next-action prediction and anomalous-sequence alerts.
    One window (lead over the per-user total order) shares its shuffle
    key with nothing downstream heavier than a 25-cell matrix: the
    probability normalization is a window over the AGGREGATED pairs.
    Integer counts divide identically in both engines.
    """
    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    pairs = seq.groupBy("event_type", "next_type").agg(
        F.count("*").alias("n")
    )
    return pairs.select(
        "event_type",
        "next_type",
        "n",
        (
            F.col("n")
            / F.sum("n").over(W.partitionBy("event_type")).cast("double")
        ).alias("transition_prob"),
    )


@query(
    "iqr_outlier_suppliers",
    oracle="""
    WITH stats AS (
      SELECT quantile_cont(s_acctbal, 0.25) AS q1,
             quantile_cont(s_acctbal, 0.75) AS q3
      FROM supplier
    )
    SELECT count(*) AS n_outliers,
           CAST(min(s_suppkey) AS BIGINT) AS first_outlier_key,
           min(s_acctbal) AS min_outlier_bal,
           max(s_acctbal) AS max_outlier_bal
    FROM supplier, stats
    WHERE s_acctbal < q1 - 1.5 * (q3 - q1)
       OR s_acctbal > q3 + 1.5 * (q3 - q1)
    """,
)
def iqr_outlier_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IQR (box-plot) outlier detection over supplier balances: values
    beyond 1.5 interquartile ranges from the quartiles.

    The distribution-free outlier rule data-quality pipelines apply
    before trusting numeric columns. The quartiles are a 1-row
    aggregate broadcast back over the scan (scalar cross join); exact
    interpolated percentiles are cross-engine-identical, so the fence
    comparison sees the same thresholds in both engines.
    """
    supp = load_table(spark, "supplier", sf_dir)
    stats = supp.agg(
        F.percentile("s_acctbal", 0.25).alias("q1"),
        F.percentile("s_acctbal", 0.75).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    outliers = supp.crossJoin(F.broadcast(stats)).where(
        (F.col("s_acctbal") < F.col("q1") - 1.5 * iqr)
        | (F.col("s_acctbal") > F.col("q3") + 1.5 * iqr)
    )
    return outliers.agg(
        F.count("*").alias("n_outliers"),
        F.min("s_suppkey").alias("first_outlier_key"),
        F.min("s_acctbal").alias("min_outlier_bal"),
        F.max("s_acctbal").alias("max_outlier_bal"),
    )


@query(
    "hhi_brand_concentration",
    oracle="""
    WITH brand_rev AS (
      SELECT p.p_type, p.p_brand,
             CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_type, p.p_brand
    ), shares AS (
      SELECT p_type, rev_cents * 1.0 /
             sum(rev_cents) OVER (PARTITION BY p_type) AS share
      FROM brand_rev
    )
    SELECT p_type,
           count(*) AS n_brands,
           sum(share * share) AS hhi
    FROM shares GROUP BY p_type
    """,
)
def hhi_brand_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index: brand revenue concentration within
    each part type (1/n = perfect competition, 1.0 = monopoly).

    The market-structure metric. Revenue aggregates to (type, brand)
    first — fixed-point cents — so the share window and the squared-sum
    run over a handful of rows per type; shares divide identical
    integers, and each HHI sums at most a few dozen squared shares
    (orders of magnitude inside the gate's rounding).
    """
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    brand_rev = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_type", "p_brand")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100).cast("bigint")
            ).alias("rev_cents")
        )
    )
    share = F.col("rev_cents") / F.sum("rev_cents").over(
        W.partitionBy("p_type")
    ).cast("double")
    return (
        brand_rev.select("p_type", share.alias("share"))
        .groupBy("p_type")
        .agg(
            F.count("*").alias("n_brands"),
            F.sum(F.col("share") * F.col("share")).alias("hhi"),
        )
    )


@query(
    "nth_value_price_ladder",
    oracle="""
    SELECT DISTINCT o_orderstatus,
           nth_value(o_totalprice, 1) OVER w AS top_price,
           nth_value(o_totalprice, 2) OVER w AS second_price,
           nth_value(o_totalprice, 3) OVER w AS third_price
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice DESC, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def nth_value_price_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 price ladder per order status via nth_value over the full
    partition frame.

    The 'podium' window function: unlike row_number + pivot, nth_value
    reads the ladder directly off the frame. The ORDER BY carries the
    unique key tie-break and the frame is explicitly unbounded (the
    default frame would stop at CURRENT ROW and silently return NULL
    for future ranks — the footgun this query pins).
    """
    orders = load_table(spark, "orders", sf_dir)
    w = (
        W.partitionBy("o_orderstatus")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return orders.select(
        "o_orderstatus",
        F.nth_value("o_totalprice", 1).over(w).alias("top_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        F.nth_value("o_totalprice", 3).over(w).alias("third_price"),
    ).distinct()


@query(
    "bool_aggregates_order_flags",
    oracle="""
    SELECT o_orderstatus,
           CAST(bool_and(o_totalprice > 900) AS INT) AS all_above_900,
           CAST(bool_or(o_totalprice > 400000) AS INT) AS any_above_400k,
           CAST(bool_and(o_custkey IS NOT NULL) AS INT) AS all_have_customer
    FROM orders GROUP BY o_orderstatus
    """,
)
def bool_aggregates_order_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (every / any): invariant checks expressed as
    aggregations — the data-contract assertions a pipeline runs as
    queries rather than row-by-row validators.

    bool_and/bool_or are map-side-combinable like any other aggregate,
    so an invariant over 100 TB costs one scan + one counter shuffle.
    Booleans cross the oracle boundary as INT (cross-engine boolean
    stringification differs; 0/1 does not).
    """
    orders = load_table(spark, "orders", sf_dir)
    return orders.groupBy("o_orderstatus").agg(
        F.bool_and(F.col("o_totalprice") > 900).cast("int")
        .alias("all_above_900"),
        F.bool_or(F.col("o_totalprice") > 400000).cast("int")
        .alias("any_above_400k"),
        F.bool_and(F.col("o_custkey").isNotNull()).cast("int")
        .alias("all_have_customer"),
    )


@query(
    "nullsafe_join_props",
    oracle="""
    WITH e AS (
      SELECT event_type,
             nullif(CAST(json_extract(props, '$.k') AS INT) % 8, 0) AS kb
      FROM events
    ), p AS (
      SELECT kb, count(*) AS n_purchase FROM e
      WHERE event_type = 'purchase' GROUP BY kb
    ), r AS (
      SELECT kb, count(*) AS n_error FROM e
      WHERE event_type = 'error' GROUP BY kb
    )
    SELECT p.kb, p.n_purchase, r.n_error
    FROM p JOIN r ON p.kb IS NOT DISTINCT FROM r.kb
    """,
)
def nullsafe_join_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=>): the NULL bucket joins NULL instead of
    vanishing, the semantic difference between `=` and IS NOT DISTINCT
    FROM that silently drops rows in naive pipelines.

    The join key is a derived bucket with a deterministic NULL class
    (nullif(k % 8, 0)). Spark's eqNullSafe plans as a hash join exactly
    like `=` — null-safety costs nothing — whereas the workaround
    (coalesce to a sentinel) corrupts key spaces at scale.
    """
    ev = load_table(spark, "events", sf_dir)
    kb = F.nullif(
        F.get_json_object("props", "$.k").cast("int") % 8, F.lit(0)
    ).alias("kb")
    e = ev.select("event_type", kb)
    p = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("kb")
        .agg(F.count("*").alias("n_purchase"))
    )
    r = (
        e.where(F.col("event_type") == "error")
        .groupBy("kb")
        .agg(F.count("*").alias("n_error"))
        .withColumnRenamed("kb", "kb_r")
    )
    return p.join(r, p.kb.eqNullSafe(F.col("kb_r"))).select(
        "kb", "n_purchase", "n_error"
    )


@query(
    "bitmap_distinct_users_daily",
    oracle="""
    SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
           count(DISTINCT user_id) AS n_users_bitmap,
           count(DISTINCT user_id) AS n_users_exact
    FROM events GROUP BY 1
    """,
)
def bitmap_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counting through bitmap aggregation — the OLAP
    idiom that replaces count(DISTINCT) shuffles with OR-able bitmaps.

    Two-level shape: keys map to (bucket, bit position), each (day,
    bucket) group ORs its bits into one bitmap (bitmap_construct_agg),
    and per-day distinct = sum of per-bucket popcounts. Bitmaps are
    mergeable — partial aggregation works, re-aggregation to coarser
    grains (day → week) is bitmap_or_agg, NOT a re-scan — which is why
    warehouses precompute them at 100 TB. The query emits the bitmap
    count next to count(DISTINCT) to prove exactness.
    """
    ev = load_table(spark, "events", sf_dir)
    per_bucket = (
        ev.select(
            F.date_trunc("day", "ts").alias("day"),
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("day", "bucket")
        .agg(F.expr("bitmap_count(bitmap_construct_agg(pos))").alias("n_bits"))
    )
    bitmap_side = per_bucket.groupBy("day").agg(
        F.sum("n_bits").cast("long").alias("n_users_bitmap")
    )
    exact_side = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.countDistinct("user_id").alias("n_users_exact")
    )
    return bitmap_side.join(exact_side, "day").select(
        "day", "n_users_bitmap", "n_users_exact"
    )


@query(
    "hll_mergeable_distinct",
    oracle="""
    WITH per_type AS (
      SELECT event_type AS scope, count(DISTINCT user_id) AS n_exact
      FROM events GROUP BY event_type
    ), total AS (
      SELECT '_merged_total' AS scope, count(DISTINCT user_id) AS n_exact
      FROM events
    )
    SELECT scope, CAST(n_exact AS BIGINT) AS n_exact, TRUE AS est_within_5pct
    FROM (SELECT * FROM per_type UNION ALL SELECT * FROM total) u
    """,
)
def hll_mergeable_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Datasketches): per-type sketches whose
    UNION answers the total without re-scanning — oracled as a
    bounded-error verdict (the approx_distinct_users convention, since
    cross-engine sketch bytes can't hash-match).

    The mergeability is the 100 TB point: per-partition/per-day
    sketches are tiny, persistable, and re-aggregable to any coarser
    grain via hll_union_agg — the sketch algebra that powers
    incremental distinct-count rollups. Spark's sketch is deterministic
    for fixed input, so the ±5% verdict is stable.
    """
    ev = load_table(spark, "events", sf_dir)
    # Checkpointed: the per-type readout and the union-merge both
    # consume the sketch frame (a handful of rows); only the global
    # exact count needs its own pass (users span types, so it cannot
    # derive from the per-type exact counts).
    per_type = (
        ev.groupBy(F.col("event_type").alias("scope"))
        .agg(
            F.expr("hll_sketch_agg(user_id)").alias("sk"),
            F.countDistinct("user_id").alias("n_exact"),
        )
        .localCheckpoint(eager=False)
    )
    total = per_type.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"),
    ).crossJoin(
        ev.agg(F.countDistinct("user_id").alias("n_exact"))
    ).select(F.lit("_merged_total").alias("scope"), "n_exact", "est")
    typed = per_type.select(
        "scope", "n_exact", F.expr("hll_sketch_estimate(sk)").alias("est")
    )
    return typed.unionByName(total).select(
        "scope",
        "n_exact",
        (
            F.abs(F.col("est") - F.col("n_exact")) <= 0.05 * F.col("n_exact")
        ).alias("est_within_5pct"),
    )
