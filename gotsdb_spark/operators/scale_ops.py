"""Scale-technique operators under the oracle gate.

These queries exist to hash-verify that the scale machinery (salting,
etc.) is *semantics-preserving*: each one runs the production-shape
plan and must produce byte-identical results to the naive formulation
the DuckDB oracle runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gotsdb_spark.functions.skew import salted_join
from gotsdb_spark.operators.registry import query
from gotsdb_spark.scratch import scratch_dir as _scratch_dir
from gotsdb_spark.sources.registry import load_table


@query(
    "skew_salted_event_segment_counts",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def skew_salted_event_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join under the hash gate: events⋈customer on user_id with
    the left side's keys spread over 8 salts, aggregated per segment.

    events.user_id is a hot-key-prone fact key (few users, many events
    each); salting splits each user's rows across 8 tasks so no single
    straggler carries a hot key when AQE can't see the skew. The oracle
    is the UNSALTED join — proving the salt/explode/join/drop dance is
    result-identical, which is the entire point of the technique.
    Measures are integer counts, so the result is association-safe
    under any partitioning.
    """
    ev = load_table(spark, "events", sf_dir).select("event_id", "user_id")
    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(
        ev, cust, on=["user_id"], n_salts=8, left_id_cols=["event_id"]
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "csv_interchange_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           min(o_orderdate) AS first_order,
           max(o_orderdate) AS last_order
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def csv_interchange_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV interchange under the hash gate: orders → CSV → read back
    with an explicit schema → aggregate; the oracle reads the ORIGINAL
    parquet, so equality proves the text round-trip loses nothing.

    Money goes through as integer cents (floor(price*100) before the
    write) — CSV text formatting of raw doubles is not guaranteed to
    round-trip the last ulp, integers always are. Timestamps round-trip
    via the default ISO format. This is the interchange contract a
    pipeline needs before trusting CSV drops from external producers.
    """
    from gotsdb_spark.sources.formats import read_any, write_any

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("total_cents"),
        "o_orderdate",
    )
    path = _scratch_dir(prefix="gotsdb_csv_itg_")
    write_any(orders, path, "csv")
    back = read_any(
        spark,
        path,
        "csv",
        schema="o_orderkey bigint, o_orderstatus string,"
        " total_cents bigint, o_orderdate timestamp",
    )
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum("total_cents").alias("total_cents"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )


@query(
    "json_interchange_roundtrip",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_customers,
           CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS balance_cents,
           min(c_custkey) AS first_key,
           max(c_custkey) AS last_key
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def json_interchange_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines interchange under the hash gate (twin of the CSV
    query): customer → JSON → read back with an explicit schema →
    aggregate; the oracle reads the original parquet. Money as integer
    cents for exact text round-trip."""
    from gotsdb_spark.sources.formats import read_any, write_any

    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100).cast("bigint").alias("balance_cents"),
    )
    path = _scratch_dir(prefix="gotsdb_json_itg_")
    write_any(cust, path, "json")
    back = read_any(
        spark,
        path,
        "json",
        schema="c_custkey bigint, c_mktsegment string, balance_cents bigint",
    )
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.sum("balance_cents").alias("balance_cents"),
        F.min("c_custkey").alias("first_key"),
        F.max("c_custkey").alias("last_key"),
    )


@query(
    "orc_interchange_roundtrip",
    oracle="""
    SELECT s_nationkey,
           count(*) AS n_suppliers,
           CAST(sum(CAST(floor(s_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS balance_cents,
           min(s_suppkey) AS first_key,
           max(s_suppkey) AS last_key
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def orc_interchange_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC interchange under the hash gate: supplier → ORC → read back →
    aggregate; the oracle reads the ORIGINAL parquet, so equality proves
    the columnar round-trip loses nothing.

    ORC is the third columnar citizen next to Parquet in warehouse
    estates (Hive/Trino migrations hand data over as ORC); Spark ships
    the reader/writer in core. Binary columnar storage round-trips
    doubles exactly, but money stays integer cents for consistency with
    the CSV/JSON interchange contract — one rule for all formats beats
    per-format reasoning about ulps.
    """
    from gotsdb_spark.sources.formats import read_any, write_any

    supp = load_table(spark, "supplier", sf_dir).select(
        "s_suppkey",
        "s_nationkey",
        F.floor(F.col("s_acctbal") * 100).cast("bigint").alias("balance_cents"),
    )
    path = _scratch_dir(prefix="gotsdb_orc_itg_")
    write_any(supp, path, "orc")
    back = read_any(
        spark,
        path,
        "orc",
        schema="s_suppkey bigint, s_nationkey bigint, balance_cents bigint",
    )
    return back.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers"),
        F.sum("balance_cents").alias("balance_cents"),
        F.min("s_suppkey").alias("first_key"),
        F.max("s_suppkey").alias("last_key"),
    )


@query(
    "incremental_daily_agg",
    oracle="""
    WITH ev AS (
      SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             CAST(floor(value * 1000) AS BIGINT) AS v_milli,
             CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20' AS is_base
      FROM events
    ), base_state AS (
      SELECT day, count(*) AS n, sum(v_milli) AS s
      FROM ev WHERE is_base GROUP BY day
    ), delta AS (
      SELECT day, count(*) AS n, sum(v_milli) AS s
      FROM ev WHERE NOT is_base GROUP BY day
    ), merged AS (
      SELECT day, CAST(sum(n) AS BIGINT) AS n_merged,
             CAST(sum(s) AS BIGINT) AS sum_milli_merged
      FROM (SELECT * FROM base_state UNION ALL SELECT * FROM delta) u
      GROUP BY day
    ), full_recompute AS (
      SELECT day, count(*) AS n_full,
             CAST(sum(v_milli) AS BIGINT) AS sum_milli_full
      FROM ev GROUP BY day
    )
    SELECT m.day, m.n_merged, f.n_full, m.sum_milli_merged, f.sum_milli_full,
           m.n_merged = f.n_full AND m.sum_milli_merged = f.sum_milli_full
             AS consistent
    FROM merged m JOIN full_recompute f USING (day)
    """,
)
def incremental_daily_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: merge a materialized daily-agg
    state with a late-arriving delta and prove it equals full recompute.

    The 100 TB pattern: never re-aggregate the whole history — keep the
    per-day partial aggregate (count + integer-scaled sum, both
    associative), aggregate only the delta partition, and combine
    partials by key. Per-row integer scaling (floor(value*1000)) makes
    the merge bit-exact under any partitioning or merge order, which is
    exactly why production rollups store decimals/longs, not raw double
    sums. The query runs both paths and emits a per-day consistency
    verdict.
    """
    ev = load_table(spark, "events", sf_dir).select(
        F.date_trunc("day", "ts").alias("day"),
        F.floor(F.col("value") * 1000).cast("long").alias("v_milli"),
        (F.col("ts") < F.lit("2024-01-20").cast("timestamp")).alias("is_base"),
    )
    # ONE pass builds both partials keyed by (day, is_base) — the
    # base state and the delta are slices of it, so the incremental
    # path costs one scan. The full recompute is DELIBERATELY an
    # independent second pass over the raw events: deriving it from
    # the same partials would compare a derivation against itself and
    # prove nothing.
    part = ev.groupBy("day", "is_base").agg(
        F.count("*").alias("n"), F.sum("v_milli").alias("s")
    )
    merged = part.groupBy("day").agg(
        F.sum("n").cast("long").alias("n_merged"),
        F.sum("s").cast("long").alias("sum_milli_merged"),
    )
    full = ev.groupBy("day").agg(
        F.count("*").alias("n_full"),
        F.sum("v_milli").cast("long").alias("sum_milli_full"),
    )
    return merged.join(full, "day").select(
        "day",
        "n_merged",
        "n_full",
        "sum_milli_merged",
        "sum_milli_full",
        (
            (F.col("n_merged") == F.col("n_full"))
            & (F.col("sum_milli_merged") == F.col("sum_milli_full"))
        ).alias("consistent"),
    )


@query(
    "parquet_merge_schema_roundtrip",
    oracle="""
    SELECT 1 AS batch, o_orderstatus,
           count(*) AS n,
           CAST(NULL AS BIGINT) AS n_with_bucket
    FROM orders WHERE o_orderkey % 2 = 0
    GROUP BY o_orderstatus
    UNION ALL
    SELECT 2, o_orderstatus, count(*),
           count(CASE WHEN CAST(floor(o_totalprice / 100000) AS BIGINT) >= 0
                      THEN 1 END)
    FROM orders WHERE o_orderkey % 2 = 1
    GROUP BY o_orderstatus
    """,
)
def parquet_merge_schema_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on disk: two writer generations (the second
    adds a column) land in one dataset; a mergeSchema read unifies them
    with NULLs for the missing column — hash-checked end to end.

    The data-lake reality at 100 TB: producers upgrade schemas without
    rewriting history. Footer-merging is metadata work (no data scan);
    the old batches simply project NULL for the new column. Batches are
    written under a batch= partition key, so generation provenance
    rides the directory layout.
    """
    orders = load_table(spark, "orders", sf_dir)
    v1 = orders.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus"
    )
    v2 = orders.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") / 100000).cast("long").alias("rev_bucket"),
    )
    root = _scratch_dir(prefix="gotsdb_mergeschema_")
    v1.write.mode("overwrite").parquet(f"{root}/batch=1")
    v2.write.mode("overwrite").parquet(f"{root}/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(root)
    return merged.groupBy("batch", "o_orderstatus").agg(
        F.count("*").alias("n"),
        F.count(
            F.when(F.col("rev_bucket") >= 0, 1)
        ).cast("long").alias("n_with_bucket"),
    ).select(
        F.col("batch").cast("int").alias("batch"),
        "o_orderstatus",
        "n",
        F.when(F.col("batch") == 1, F.lit(None).cast("long"))
        .otherwise(F.col("n_with_bucket"))
        .alias("n_with_bucket"),
    )


@query(
    "layout_range_scan_q1_cents",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_price_cents,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS sum_disc_cents
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1995-04-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def layout_range_scan_q1_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1-shape aggregation over the RANGE-PARTITIONED multi-file
    lineitem layout, in integer cents — the query that oracle-verifies
    the 100-TB fact layout itself, not just single-file fixtures.

    `sources/registry.py` documents why the fixtures stay single-file:
    repartitionByRange changes the association order of large double
    sums beyond the oracle's rounding. The dodge is to make the measures
    association-order-INVARIANT — quantize to integer cents BEFORE the
    sum (floor(x*100+0.5) is bit-deterministic on both engines: both
    read identical IEEE doubles from the same parquet and the scale/
    round ops are exact-width double arithmetic) — after which ANY
    partitioning of the scan yields identical sums. The Spark side
    scans the 8-file repartitionByRange(l_shipdate) warehouse copy with
    a one-quarter predicate, so per-file min/max on the range key skips
    ~7 of 8 files at planning time; the oracle scans the original
    single-file fixture. Hash equality proves the layout + file
    skipping is semantics-preserving.
    """
    from gotsdb_spark.sources.registry import ensure_lineitem_range_partitioned, read_parquet

    path = ensure_lineitem_range_partitioned(spark, sf_dir)
    if path is not None:
        li = read_parquet(spark, path)
    else:  # warehouse unavailable (read-only dir?) — fixture fallback
        li = load_table(spark, "lineitem", sf_dir)
    cents = lambda c: F.floor(c * 100 + F.lit(0.5)).cast("bigint")  # noqa: E731
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-04-01").cast("timestamp"))
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.sum(cents(F.col("l_extendedprice"))).alias("sum_price_cents"),
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "sum_disc_cents"
            ),
        )
    )


_KEY_SKEW_ORACLE = """
    WITH per_key AS (
      SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(cnt) AS BIGINT) AS n_rows,
             CAST(max(cnt) AS BIGINT) AS max_key_rows,
             CAST(floor(max(cnt) * 1000000.0 / sum(cnt)) AS BIGINT)
               AS top1_share_e6,
             CAST(floor(quantile_cont(cnt, 0.5) * 1e3 + 0.5001) AS BIGINT)
               AS p50_e3,
             CAST(floor(quantile_cont(cnt, 0.99) * 1e3 + 0.5001) AS BIGINT)
               AS p99_e3
      FROM per_key
    )
    SELECT *, CAST(floor(p99_e3 * 1000.0 / p50_e3) AS BIGINT)
                AS skew_p99_over_p50_e3
    FROM stats
"""


@query("audit_key_skew", oracle=_KEY_SKEW_ORACLE)
def audit_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/agg-key skew diagnostic: the measurement you run BEFORE
    reaching for salting or AQE skew hints.

    Produces the one-row distribution profile of rows-per-key for the
    fact table's hot join key (events.user_id): key count, total rows,
    the heaviest key's row count and share, and the p99/p50 ratio of
    the per-key distribution. A top1 share near 1/n_partitions or a
    p99/p50 ratio in the hundreds is the signature of a straggler
    task; `skew_salted_event_segment_counts` is the remedy this audit
    justifies (and `test_aqe_skew_join_split_fires` proves the AQE
    alternative).

    Scale design: per-key counts are ONE map-side-combinable groupBy
    (the only full shuffle, carrying (key, partial-count) pairs); the
    summary aggregates the per-key frame — n_keys rows, not n_rows —
    into a single row. Percentiles over per-key counts are exact
    (Spark `percentile` / DuckDB `quantile_cont`, both type-7 linear
    interpolation), guarded with the e3 floor-epsilon convention
    against cross-engine ulp drift; ratios are derived from the
    already-floored integers so no double flows between engines.
    """
    ev = load_table(spark, "events", sf_dir).select("user_id")
    per_key = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    stats = per_key.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").cast("long").alias("max_key_rows"),
        F.floor(F.max("cnt") * 1000000.0 / F.sum("cnt"))
        .cast("long")
        .alias("top1_share_e6"),
        F.floor(F.expr("percentile(cnt, 0.5)") * 1e3 + 0.5001)
        .cast("long")
        .alias("p50_e3"),
        F.floor(F.expr("percentile(cnt, 0.99)") * 1e3 + 0.5001)
        .cast("long")
        .alias("p99_e3"),
    )
    return stats.withColumn(
        "skew_p99_over_p50_e3",
        F.floor(F.col("p99_e3") * 1000.0 / F.col("p50_e3")).cast("long"),
    )


_MERGE_ORACLE = """
    WITH delta AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             o_totalprice * 1.1 AS o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_custkey, 'N',
             o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 13 = 0
    ), merged AS (
      SELECT coalesce(d.o_orderkey, b.o_orderkey) AS o_orderkey,
             coalesce(d.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
             coalesce(d.o_totalprice, b.o_totalprice) AS o_totalprice,
             (d.o_orderkey IS NOT NULL) AS from_delta
      FROM orders b FULL OUTER JOIN delta d USING (o_orderkey)
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(sum(CASE WHEN from_delta THEN 1 ELSE 0 END) AS BIGINT)
             AS n_from_delta
    FROM merged GROUP BY o_orderstatus
"""


@query("warehouse_merge_upsert", oracle=_MERGE_ORACLE)
def warehouse_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (Delta/Iceberg-style upsert) as a keyed
    full-outer join: WHEN MATCHED update, WHEN NOT MATCHED insert.
    Complements merge_upsert_segments (advanced.py), which covers the
    update-only dimension upsert via the anti-join+union rewrite; this
    one exercises the full two-clause MERGE — inserts under shifted
    keys included — through the delta-wins coalesce formulation.

    The delta batch is derived deterministically from the fixture so
    both engines see identical input: every 7th order arrives updated
    (price bumped 10%, status 'U'), every 13th arrives as a brand-new
    order under a shifted key. The merge resolves per-key with
    delta-wins-else-base coalesce — exactly the row-level semantics a
    lakehouse MERGE compiles to — and the result is fingerprinted by
    status with integer-cent sums (association-order-safe under any
    partitioning, per the layout NOTE in sources/registry.py).

    At 100 TB: MERGE is a shuffle-on-key full-outer join; when the
    delta is small relative to the snapshot (the common CDC case) the
    physical win is partition pruning on the base side — only files
    whose key ranges intersect the delta are rewritten. Spark's plan
    here is the generic sort-merge form; the cents fingerprint is what
    lets the rewritten snapshot be verified cheaply afterwards.
    """
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]
    base = load_table(spark, "orders", sf_dir).select(*cols)
    # The synthetic delta derives from the snapshot itself, so its two
    # branches share ONE filtered pass (checkpointed — ~18% of orders);
    # the only other orders scan is the MERGE join's base side. In
    # production the delta arrives from CDC and this pass disappears.
    dsrc = base.where(
        (F.col("o_orderkey") % 7 == 0) | (F.col("o_orderkey") % 13 == 0)
    ).localCheckpoint(eager=False)
    updates = dsrc.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    inserts = dsrc.where(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    delta = updates.unionByName(inserts)
    d = delta.select(
        F.col("o_orderkey"),
        F.col("o_orderstatus").alias("d_status"),
        F.col("o_totalprice").alias("d_price"),
    )
    merged = base.join(d, "o_orderkey", "full_outer").select(
        F.coalesce("d_status", "o_orderstatus").alias("o_orderstatus"),
        F.coalesce("d_price", "o_totalprice").alias("o_totalprice"),
        F.col("d_status").isNotNull().alias("from_delta"),
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("long")
        .alias("total_cents"),
        F.sum(F.when(F.col("from_delta"), 1).otherwise(0))
        .cast("long")
        .alias("n_from_delta"),
    )


_IVM_JOIN_ORACLE = """
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             o_orderdate >= TIMESTAMP '1995-06-01' AS is_new
      FROM orders
    ), c AS (
      SELECT c_custkey, c_mktsegment, c_custkey % 10 = 0 AS is_new
      FROM customer
    ), base_view AS (
      SELECT c.c_mktsegment FROM o JOIN c ON o.o_custkey = c.c_custkey
      WHERE NOT o.is_new AND NOT c.is_new
    ), delta_view AS (
      SELECT c.c_mktsegment FROM o JOIN c ON o.o_custkey = c.c_custkey
      WHERE o.is_new AND NOT c.is_new
      UNION ALL
      SELECT c.c_mktsegment FROM o JOIN c ON o.o_custkey = c.c_custkey
      WHERE NOT o.is_new AND c.is_new
      UNION ALL
      SELECT c.c_mktsegment FROM o JOIN c ON o.o_custkey = c.c_custkey
      WHERE o.is_new AND c.is_new
    ), merged AS (
      SELECT c_mktsegment,
             CAST(sum(CASE WHEN src = 'b' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_base,
             CAST(sum(CASE WHEN src = 'd' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_delta
      FROM (
        SELECT c_mktsegment, 'b' AS src FROM base_view
        UNION ALL
        SELECT c_mktsegment, 'd' FROM delta_view
      ) u GROUP BY c_mktsegment
    ), full_recompute AS (
      SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n_full
      FROM o JOIN c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment
    )
    SELECT m.c_mktsegment, m.n_base, m.n_delta,
           m.n_base + m.n_delta AS n_merged, f.n_full,
           m.n_base + m.n_delta = f.n_full AS consistent
    FROM merged m JOIN full_recompute f USING (c_mktsegment)
"""


@query("incremental_join_view", oracle=_IVM_JOIN_ORACLE)
def incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view: Δ(A⋈B) computed as
    ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB and proven equal to full recompute.

    incremental_daily_agg covers the aggregate half of IVM; this is
    the join half — the delta rule every streaming materialized-view
    engine applies when BOTH sides of an enrichment join receive new
    rows (new orders AND newly-onboarded customers, both derived
    deterministically from the fixture). The three delta joins each
    touch one delta side, so maintenance cost is O(Δ·join fan-out),
    never a rescan of base⋈base — at 100 TB the base view is a stored
    result and only the delta terms execute per refresh. Counts per
    segment are integers, so merged-vs-full equality is exact and the
    per-segment `consistent` verdict rides in the result.
    """
    # Both input projections are checkpointed: each feeds two delta
    # slices plus the full-recompute verification join, and without
    # the checkpoint every consumer re-scanned its parquet file (5
    # orders / 5 customer scans before the round-10 audit fix). The
    # verification still compares two different JOIN decompositions —
    # sharing the scan does not trivialize it.
    o = (
        load_table(spark, "orders", sf_dir)
        .select(
            "o_custkey",
            (
                F.col("o_orderdate") >= F.lit("1995-06-01").cast("timestamp")
            ).alias("o_new"),
        )
        .localCheckpoint(eager=False)
    )
    c = (
        load_table(spark, "customer", sf_dir)
        .select(
            "c_custkey",
            "c_mktsegment",
            (F.col("c_custkey") % 10 == 0).alias("c_new"),
        )
        .localCheckpoint(eager=False)
    )
    # The delta rule executes as SEPARATE delta-sized joins — the shape
    # that makes a refresh O(Δ) instead of a base⋈base rescan. (A
    # single filtered full join would produce the same rows but rescan
    # everything; that formulation is exactly what IVM exists to
    # avoid.) Customer sides are unhinted: AQE broadcasts the
    # delta-sized sides at any scale and the base side only while it
    # fits.
    o_base, o_delta = o.where(~F.col("o_new")), o.where(F.col("o_new"))
    c_base, c_delta = c.where(~F.col("c_new")), c.where(F.col("c_new"))

    def seg(orders_side: DataFrame, cust_side: DataFrame) -> DataFrame:
        return orders_side.join(
            cust_side, orders_side.o_custkey == cust_side.c_custkey
        ).select("c_mktsegment")

    base = seg(o_base, c_base)
    delta = (
        seg(o_delta, c_base)
        .unionByName(seg(o_base, c_delta))
        .unionByName(seg(o_delta, c_delta))
    )
    counted = (
        base.select("c_mktsegment", F.lit("b").alias("src"))
        .unionByName(delta.select("c_mktsegment", F.lit("d").alias("src")))
        .groupBy("c_mktsegment")
        .agg(
            F.sum(F.when(F.col("src") == "b", 1).otherwise(0))
            .cast("long")
            .alias("n_base"),
            F.sum(F.when(F.col("src") == "d", 1).otherwise(0))
            .cast("long")
            .alias("n_delta"),
        )
    )
    full = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").cast("long").alias("n_full"))
    )
    return counted.join(full, "c_mktsegment").select(
        "c_mktsegment",
        "n_base",
        "n_delta",
        (F.col("n_base") + F.col("n_delta")).alias("n_merged"),
        "n_full",
        ((F.col("n_base") + F.col("n_delta")) == F.col("n_full")).alias(
            "consistent"
        ),
    )


# ---------------------------------------------------------------------------
# Partition layout planner (target-file-size binning) — round 11.
# ---------------------------------------------------------------------------

_PLAN_TARGET_ROWS = 100_000  # rows per output file the writer should aim at

LAYOUT_PLANNER_ORACLE = f"""
    WITH per_day AS (
      SELECT CAST(ts AS DATE) AS dt, CAST(count(*) AS BIGINT) AS n_rows
      FROM events GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n_rows) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_days
      FROM per_day
    )
    SELECT CAST(p.dt AS DATE) AS dt, p.n_rows,
           CAST((p.n_rows + {_PLAN_TARGET_ROWS} - 1)
                // {_PLAN_TARGET_ROWS} AS BIGINT) AS files_recommended,
           CAST(p.n_rows * 1000000 // t.total AS BIGINT) AS share_e6,
           CAST(p.n_rows * t.n_days * 1000000 // t.total AS BIGINT)
             AS skew_vs_mean_e6,
           CAST(CASE WHEN p.n_rows * t.n_days > 2 * t.total
                     THEN 1 ELSE 0 END AS BIGINT) AS is_hot
    FROM per_day p CROSS JOIN tot t
    ORDER BY dt
"""


@query("scale_layout_planner", oracle=LAYOUT_PLANNER_ORACLE)
def scale_layout_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition layout planner for the dt-partitioned events
    warehouse: per calendar day, the row count, the file count a
    writer should emit at {target} rows/file (ceil division — the
    maxRecordsPerFile / AQE coalesce knob, decided from data instead
    of guessed), the day's share of total volume, its skew against
    the per-day mean, and a hot-partition flag at 2x mean. This is
    the planning half of the small-files problem: scale_key_skew_audit
    diagnoses SHUFFLE skew, this prescribes the WRITE layout.

    Exact integers: ceil via (n + target - 1) DIV target; the skew
    ratio n_rows * n_days / total and the e6 share are exact integer
    quotients; the hot flag compares the same integers uninverted so
    no rounding can flip it.

    Scale: ONE map-side-combinable shuffle of events to the calendar
    dictionary, a 1-row total broadcast — the planner costs one scan
    regardless of volume, and its output is the day grid.

    Reference parity: the reference (j0shgrant/gotsdb) has no layout
    surface (cold.go:18 writes one gob file per collection); this is
    [TARGET] scale machinery.
    """
    per_day = (
        load_table(spark, "events", sf_dir)
        .groupBy(F.col("ts").cast("date").alias("dt"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        # consumed by the total aggregate and the output projection
        .localCheckpoint(eager=False)
    )
    tot = per_day.agg(
        F.sum("n_rows").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    t = _PLAN_TARGET_ROWS
    return (
        per_day.crossJoin(F.broadcast(tot))
        .select(
            "dt",
            "n_rows",
            F.expr(f"CAST((n_rows + {t} - 1) DIV {t} AS BIGINT)").alias(
                "files_recommended"
            ),
            F.expr("CAST(n_rows * 1000000 DIV total AS BIGINT)").alias(
                "share_e6"
            ),
            F.expr(
                "CAST(n_rows * n_days * 1000000 DIV total AS BIGINT)"
            ).alias("skew_vs_mean_e6"),
            F.expr(
                "CAST(CASE WHEN n_rows * n_days > 2 * total"
                " THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("is_hot"),
        )
        .orderBy("dt")
    )


scale_layout_planner.__doc__ = scale_layout_planner.__doc__.format(
    target=_PLAN_TARGET_ROWS
)


# ---------------------------------------------------------------------------
# Late-arriving-fact audit for dt-partitioned layouts — round 13.
# ---------------------------------------------------------------------------

_LATE_HORIZON_DAYS = 30

LATE_FACTS_ORACLE = f"""
    WITH lagged AS (
      SELECT CAST(l_shipdate AS DATE) AS ship_day,
             datediff('day', CAST(o_orderdate AS DATE),
                      CAST(l_shipdate AS DATE)) AS lag_days
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT ship_day,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           CAST(sum(CASE WHEN lag_days > {_LATE_HORIZON_DAYS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_beyond_horizon,
           CAST(sum(CASE WHEN lag_days > {_LATE_HORIZON_DAYS}
                         THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS beyond_share_e6,
           CAST(max(lag_days) AS BIGINT) AS max_lag_days
    FROM lagged
    GROUP BY ship_day
    ORDER BY ship_day
"""


@query("audit_late_arriving_facts", oracle=LATE_FACTS_ORACLE)
def audit_late_arriving_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential drift audit for a dt-partitioned
    warehouse: per lineitem ship day, the share of rows whose ORDER
    row lives more than {h} days back in the orders table's dt
    partitions — the measurement an incremental MERGE pipeline needs
    BEFORE choosing its reprocessing horizon (a MERGE that rebuilds
    only the last {h} order partitions silently mis-joins exactly the
    n_beyond_horizon rows this query counts; max_lag_days names the
    horizon that would have sufficed).

    Exactness: the lag is a DATE datediff (exact integers), counts and
    the e6 share are exact integer arithmetic in both engines.

    Scale: one fact equi-join on the order key (both sides shuffle
    once; at 100 TB this is the join the dt-partition co-location
    would elide) and one map-side-combinable groupBy to the calendar
    grain. Output is calendar-bounded (~2.5k rows for 7 years),
    never row-count-sized.

    Reference parity: the reference (j0shgrant/gotsdb) has no
    relational surface (internal/storage/types.go:3); this is
    [TARGET] warehouse machinery.
    """
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("ship_day")
    )
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("order_day")
    )
    lagged = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "ship_day",
        F.datediff("ship_day", "order_day").alias("lag_days"),
    )
    beyond = F.sum(
        F.when(F.col("lag_days") > _LATE_HORIZON_DAYS, 1).otherwise(0)
    )
    return (
        lagged.groupBy("ship_day")
        .agg(
            F.count("*").cast("long").alias("n_lineitems"),
            beyond.cast("long").alias("n_beyond_horizon"),
            F.expr(
                f"CAST(sum(CASE WHEN lag_days > {_LATE_HORIZON_DAYS}"
                " THEN 1 ELSE 0 END) * 1000000 DIV count(*) AS BIGINT)"
            ).alias("beyond_share_e6"),
            F.max("lag_days").cast("long").alias("max_lag_days"),
        )
        .orderBy("ship_day")
    )


audit_late_arriving_facts.__doc__ = audit_late_arriving_facts.__doc__.format(
    h=_LATE_HORIZON_DAYS
)
