"""SparkSession factory.

Single place where execution-relevant configuration lives so every entry
point (tests, bench, driver contract) runs with the same, scale-aware
settings:

- AQE on (runtime join-strategy switch, skew-join splitting, partition
  coalescing) — at 100 TB the static plan is always wrong somewhere.
- shuffle.partitions sized to local cores for the test harness; on a real
  cluster AQE coalescing makes the initial number mostly a ceiling.
- UTC session timezone pinned so results hash-match the DuckDB oracle
  (DuckDB timestamps are UTC-naive).
- Arrow enabled for every pandas_udf / applyInPandas boundary.
- Streaming state in RocksDB with changelog checkpointing, and
  checkpoint files written through the Hadoop FileSystem manager, so a
  stateful micro-batch commit costs about what its epoch changed rather
  than a full state upload plus forked file-system helpers.
"""

from __future__ import annotations

import atexit
import os
import shutil

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _cleanup_warehouse(path: str) -> None:
    """Best-effort removal of this process's private warehouse dir.

    The per-PID default (see get_spark) fixes the concurrent-rmtree
    race but would otherwise leak a bucketed-table copy into /tmp per
    process; registered via atexit so the directory dies with the
    process that materialized it. An explicitly shared
    SPARK_GRAFT_WAREHOUSE is never touched — its lifecycle belongs to
    the user.
    """
    shutil.rmtree(path, ignore_errors=True)


def _warehouse_dir() -> str:
    """Warehouse path: explicit SPARK_GRAFT_WAREHOUSE wins; otherwise a
    per-PID /tmp dir with atexit cleanup (registered once)."""
    explicit = os.environ.get("SPARK_GRAFT_WAREHOUSE")
    if explicit:
        return explicit
    path = f"/tmp/spark_graft_warehouse_{os.getpid()}"
    if not getattr(_warehouse_dir, "_registered", False):
        atexit.register(_cleanup_warehouse, path)
        _warehouse_dir._registered = True  # type: ignore[attr-defined]
    return path


def get_spark(app_name: str = "gotsdb_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the configured SparkSession."""
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Let split sizing be purely byte-based (maxPartitionBytes):
        # the default floor (defaultParallelism) shreds small inputs
        # into per-file / empty-byte-range tasks — the dt-partitioned
        # events copy full-scanned as 30 one-file tasks (0.47 s vs
        # 0.31 s packed, sf0.1), and single-row-group fixtures spawned
        # 31 empty splits. At 100 TB the floor is irrelevant: splits =
        # bytes / maxPartitionBytes >> parallelism. CPU-heavy per-row
        # paths keep their parallelism via fan_out, which is the
        # explicit tool for that (sources/registry.py).
        .config("spark.sql.files.minPartitionNum", "1")
        # Fixture `events` carries parquet TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type, so read as long and convert in
        # sources.registry.load_table (truncating to micros, matching the
        # DuckDB oracle's CAST(ts AS TIMESTAMP)).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Streaming state lives in RocksDB, not the executor heap: at
        # 100 TB/day the watermarked window/session/dedup state of a
        # long-running stream outgrows JVM memory; RocksDB spills to
        # local disk and bounds GC pressure. (Bundled with Spark — no
        # extra dependency.)
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        # Changelog checkpointing: a commit uploads the epoch's changed
        # keys (<v>.changelog) instead of syncing and zipping a full
        # RocksDB checkpoint (<v>.zip) per store, so a commit costs about
        # what the epoch changed. Snapshots are still taken in the
        # background every minDeltasForSnapshot versions.
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        # Checkpoint files go through Hadoop FileSystem, not FileContext.
        # Without Hadoop's native library, FileContext's rename runs
        # AbstractFileSystem.renameInternal -> getFileLinkStatus ->
        # FileUtil.readLink, which forks `readlink` for every offset,
        # commit and state file. On `file:` paths that no-overwrite
        # rename is already check-then-rename (the getFileLinkStatus
        # check), so the FileSystem manager's exists-check + rename
        # gives the same guarantee. Every checkpoint this package writes
        # is a local path. On HDFS, FileContext's rename is atomic:
        # keep the default manager there.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # Warehouse is PER-PROCESS by default: bucketed-table
        # materialization (sources/bucketing.py) rewrites managed-table
        # directories, so two concurrent local processes sharing one
        # warehouse can rmtree a directory the other is mid-scan on
        # (observed as FAILED_READ_FILE when a sweep ran beside the
        # test suite). A shared path can still be opted into via
        # SPARK_GRAFT_WAREHOUSE for single-process runs; the per-PID
        # default is atexit-removed so repeated runs don't accumulate
        # unbounded /tmp disk.
        .config("spark.sql.warehouse.dir", _warehouse_dir())
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark



def release_blocks(spark: SparkSession) -> None:
    """Free cached and localCheckpoint blocks between queries.

    A long single-JVM run (oracle sweep, bench, timing tool) otherwise
    pins every query's checkpoint RDDs: the sf1 sweep's driver ran out
    of memory after ~40 queries, and the growing storage footprint
    steals execution memory from later queries (dedup/rank queries
    measured up to 2x slower late in an unreleased bench session).
    The unpersist blocks: RDD.unpersist is asynchronous by default, and
    async removal was seen bleeding into the next query's timed window.
    Call it only between queries, once their results are consumed;
    checkpoint blocks are per-DataFrame and never reused across runs.
    """
    try:
        spark.catalog.clearCache()
        for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(True)
    except Exception:  # noqa: BLE001 — hygiene must never fail a run
        pass
