"""Batch sources: the fixture-table registry.

The reference's entire I/O surface is a whole-blob gob read/write per
collection (/root/reference/internal/storage/cold.go:111-154). Here the
cold tier is columnar Parquet read through `spark.read.parquet`, which
buys predicate pushdown, column pruning, min/max skipping and compression
for free — none of which the reference has.

`load_table` is the one choke point for scans so scan-level tuning
happens in exactly one place. Every fixture and derived-copy read goes
through `read_parquet`, which memoises the schema Spark infers for a
path and passes it to later reads as ``spark.read.schema(s)``. A read
without a schema starts a Spark job that merges Parquet footers; a read
with one starts none. The memo is keyed by the file's identity (path,
inode, size, mtime; a directory copy by its ``_SUCCESS`` marker) and by
the confs that change inference, so a rewritten file or a flipped conf
is inferred again. The memoised schema is Spark's own inference, not a
conversion of the footer, so it cannot disagree with Spark on NANOS,
INT96, decimals or NTZ. Nothing is inferred ahead of time: each table
pays one inference per process, on its first read.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Where dt-partitioned warehouse copies of the fixture tables live. The
# fixtures themselves are read-only single files; the partitioned layout
# is materialized once per scale factor and preferred thereafter.
WAREHOUSE_DIR = os.environ.get(
    "SPARK_GRAFT_WAREHOUSE",
    os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".warehouse"),
)


def events_partitioned_path(sf_dir: str) -> str:
    return os.path.join(
        WAREHOUSE_DIR, os.path.basename(os.path.normpath(sf_dir)), "events_dt"
    )


# Confs whose value changes the schema Spark infers from a Parquet file.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# Inferred schemas by `_schema_key`.
_SCHEMAS: dict[tuple, StructType] = {}


def _schema_key(spark: SparkSession, path: str) -> tuple:
    """What the schema Spark infers for ``path`` depends on: the file's
    (path, inode, size, mtime), a directory's by its ``_SUCCESS``
    marker, and the inference confs. Raises OSError if there is no
    file or marker to stat."""
    marker = os.path.join(path, "_SUCCESS") if os.path.isdir(path) else path
    st = os.stat(marker)
    confs = tuple(spark.conf.get(c) for c in _INFERENCE_CONFS)
    return (os.path.abspath(path), st.st_ino, st.st_size, st.st_mtime_ns, confs)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema memoised: the first
    read of a file (or of a directory with a ``_SUCCESS`` marker) infers
    it, later reads pass it and start no Spark job. A path with nothing
    to key on is read with inference every time."""
    try:
        key = _schema_key(spark, path)
    except OSError:
        return spark.read.parquet(path)
    schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


# Partitioned copies whose ts schema this process has already verified.
_VALIDATED_PARTITIONED: set[str] = set()


# NOTE on fact-table layout: lineitem/orders fixtures are a SINGLE
# parquet row group, so their scans run as one task locally. A
# range-partitioned multi-file copy (repartitionByRange on the time
# column) is the right 100 TB layout — parallel scans + tight per-file
# min/max stats — and was tried here, but repartitioning changes the
# association order of large double sums: Spark's partial aggregates
# then differ from DuckDB's sequential single-file sum beyond the
# oracle's 1e-6 rounding (q1/rollup revenue sums drift in the 6th
# decimal). Cross-engine hash parity requires identical summation
# order, so the fixtures stay single-file; `events` keeps its
# dt-partitioned layout because its per-group sums are tiny (a few
# values each), far inside the rounding tolerance.


def _normalize_ts(df: DataFrame) -> DataFrame:
    """Pin `events.ts` to plain TIMESTAMP whatever the fixture encodes.

    The fixture generation has shipped `ts` as parquet TIMESTAMP(NANOS)
    (read as bigint under the legacy flag) and as TIMESTAMP(MICROS) with
    isAdjustedToUTC=false (read by Spark 4 as TIMESTAMP_NTZ, which cannot
    be cast to numeric and broke four time-series queries in round 3).
    Every downstream operator assumes session-tz TIMESTAMP; normalizing
    here — the single scan choke point — keeps that contract true for
    all of them at once.
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        # Integer `div`, not `/`: float division of int64 nanos loses
        # precision (2^53 < 1.7e18) and corrupts microseconds.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dt == "timestamp_ntz":
        # Value-preserving under the pinned UTC session timezone
        # (session.py sets spark.sql.session.timeZone=UTC): the wall
        # clock reinterpreted as UTC instant matches DuckDB's read of
        # the same unadjusted micros.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _pin_time_confs(spark: SparkSession) -> None:
    # Runtime-set (not only in our session factory): the driver may
    # hand us a session built without these. Without the nanos flag a
    # TIMESTAMP(NANOS) column fails the read outright; without the UTC
    # pin the ntz→timestamp normalization (and every oracle's civil-
    # time arithmetic — date_trunc/date_format over ts or dt) would
    # reinterpret wall clocks in local time. Pinned on EVERY events
    # read path, including the already-materialized partitioned-copy
    # path, which previously skipped the single-file loader entirely.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _load_events_single_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    _pin_time_confs(spark)
    return _normalize_ts(read_parquet(spark, os.path.join(sf_dir, "events.parquet")))


def _ensure_events_partitioned(spark: SparkSession, sf_dir: str) -> str | None:
    """Materialize (once) the dt-partitioned events layout for this
    scale factor; returns its path, or None if it can't be built.

    Built atomically (write to .tmp, rename into place) so concurrent
    processes can't observe a half-written copy."""
    path = events_partitioned_path(sf_dir)
    _pin_time_confs(spark)
    if os.path.isfile(os.path.join(path, "_SUCCESS")):
        if path in _VALIDATED_PARTITIONED:
            return path
        try:
            if dict(read_parquet(spark, path).dtypes).get("ts") == "timestamp":
                # Schema probe runs once per process per path; within a
                # process the copy can't regress, so memoize.
                _VALIDATED_PARTITIONED.add(path)
                return path
            # Stale copy baking TIMESTAMP_NTZ (written before the fixture
            # encoding changed) — rebuild from the normalized scan.
        except Exception:  # noqa: BLE001 — unreadable copy: rebuild below
            pass
        # The existing dir is unusable for US — but a concurrent process
        # may have just renamed a VALID copy into place between our probe
        # and now, or may still be scanning the one we probed. Rename it
        # aside (atomic, per-pid unique) rather than rmtree, so we never
        # destroy a sibling's valid copy or yank files mid-scan; if the
        # rename loses a race that's fine, the winner's copy is re-probed
        # on the next call.
        try:
            os.rename(path, f"{path}.stale.{os.getpid()}")
        except OSError:
            pass
        shutil.rmtree(f"{path}.stale.{os.getpid()}", ignore_errors=True)
    try:
        tmp = path + ".tmp"
        ev = _load_events_single_file(spark, sf_dir)
        (
            ev.withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
            .repartition("dt")  # one writer wave per partition, no tiny files
            .write.mode("overwrite")
            .partitionBy("dt")
            .parquet(tmp)
        )
        os.makedirs(os.path.dirname(path), exist_ok=True)
        try:
            os.rename(tmp, path)
        except OSError:
            # Another process won the race; use theirs.
            shutil.rmtree(tmp, ignore_errors=True)
        if os.path.isfile(os.path.join(path, "_SUCCESS")):
            # Fresh copies are normalized by construction.
            _VALIDATED_PARTITIONED.add(path)
            return path
        return None
    except Exception:  # noqa: BLE001 — fall back to the single-file scan
        return None


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Read one fixture table (columnar scan; pushdown-capable).

    `events` reads the dt-partitioned warehouse layout (materialized on
    first use): the at-scale design point — scans parallelize across
    partition directories and `dt` predicates prune whole days at
    planning time. `events.ts` is parquet TIMESTAMP(NANOS) in the raw
    fixture; the partitioned copy stores the converted µs TIMESTAMP
    (ns→µs truncation matches DuckDB's CAST(ts AS TIMESTAMP)).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        part = _ensure_events_partitioned(spark, sf_dir)
        if part is not None:
            return _normalize_ts(read_parquet(spark, part).drop("dt"))
        return _load_events_single_file(spark, sf_dir)
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def load_events_range(
    spark: SparkSession, sf_dir: str, lo: str, hi: str
) -> DataFrame:
    """Events within [lo, hi) — the partition-pruned scan path.

    Applies BOTH the row-level ts predicate and the derived dt partition
    predicate, so the partitioned layout skips whole day-directories at
    planning time while results stay identical to a ts filter on the raw
    table."""
    part = _ensure_events_partitioned(spark, sf_dir)
    lo_c, hi_c = F.lit(lo).cast("timestamp"), F.lit(hi).cast("timestamp")
    if part is not None:
        df = _normalize_ts(read_parquet(spark, part))
        return (
            df.where(
                (F.col("dt") >= F.date_format(lo_c, "yyyy-MM-dd"))
                & (F.col("dt") <= F.date_format(hi_c, "yyyy-MM-dd"))
            )
            .where((F.col("ts") >= lo_c) & (F.col("ts") < hi_c))
            .drop("dt")
        )
    ev = _load_events_single_file(spark, sf_dir)
    return ev.where((F.col("ts") >= lo_c) & (F.col("ts") < hi_c))


def lineitem_range_path(sf_dir: str) -> str:
    return os.path.join(
        WAREHOUSE_DIR, os.path.basename(os.path.normpath(sf_dir)), "lineitem_range"
    )


def ensure_lineitem_range_partitioned(spark: SparkSession, sf_dir: str) -> str | None:
    """Materialize (once) the range-partitioned multi-file lineitem copy:
    ``repartitionByRange(8, l_shipdate)`` → 8 parquet files, each
    covering a contiguous ship-date range with tight min/max stats on
    the range key, so a date predicate skips whole files at planning
    time and scans parallelize across files. This is exactly the
    100-TB fact layout the NOTE above says single-file fixtures can't
    oracle-verify with double sums — queries over this copy MUST use
    association-order-invariant (integer) aggregates, which is what
    ``layout_range_scan_q1_cents`` does. Atomic tmp+rename, same
    concurrency story as the events copy."""
    path = lineitem_range_path(sf_dir)
    if os.path.isfile(os.path.join(path, "_SUCCESS")):
        return path
    try:
        tmp = path + ".tmp"
        (
            load_table(spark, "lineitem", sf_dir)
            .repartitionByRange(8, "l_shipdate")
            .write.mode("overwrite")
            .parquet(tmp)
        )
        os.makedirs(os.path.dirname(path), exist_ok=True)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race; use theirs
        return path if os.path.isfile(os.path.join(path, "_SUCCESS")) else None
    except Exception:  # noqa: BLE001 — caller falls back to the fixture file
        return None


# NOTE: there is deliberately NO cross-invocation frame cache here.
# An earlier `shared_cache` memoized intermediate frames keyed on
# (applicationId, sf_dir, kind), which made bench's repeat runs (and
# sibling queries sharing a prefix) time warm cache instead of real
# compute. Every query invocation must compute from the parquet inputs;
# within ONE invocation, multi-consumer intermediates use
# `localCheckpoint(eager=False)` so the shared pass still materializes
# exactly once per run.


_BYTE_UNITS = {"": 1, "k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40, "p": 2**50}
_BYTE_SIZE_RE = re.compile(r"^\s*(\d+)([kmgtp]?)b?\s*$", re.IGNORECASE)


def _parse_bytes(text: str) -> int:
    """A Spark byte-size conf string in bytes, with Spark's units: plain
    bytes (``134217728``, ``134217728b``) or a binary k/m/g/t/p suffix
    with an optional ``b`` (``64k``, ``128m``, ``128mb``, ``1g``)."""
    m = _BYTE_SIZE_RE.match(text)
    if m is None:
        raise ValueError(f"not a byte size: {text!r}")
    return int(m[1]) * _BYTE_UNITS[m[2].lower()]


def fan_out(df: DataFrame, n: int | None = None) -> DataFrame:
    """Round-robin repartition to the session's default parallelism —
    but ONLY when the frame is under-partitioned.

    The fixture tables are single parquet files (one row group), which
    Spark scans as 1-2 partitions — CPU-heavy row-local operators
    (hashing, vector math, Pandas UDF decode) would then run on 1-2
    cores. On a real cluster the input is already thousands of splits:
    there the repartition is pure waste (a full shuffle of the rows it
    spreads), so this is now CONDITIONAL — if the frame already has at
    least half the target partition count it is returned unchanged,
    keeping narrow map-side pipelines (and partial aggregation) intact
    at scale while still unlocking all cores on the single-split local
    fixtures. Use ONLY ahead of expensive per-row compute — a plain
    filter/agg doesn't warrant the shuffle.

    The parallelism probe is `df.inputFiles()` — driver-side metadata
    from the already-built file index, no job, no physical planning.
    Raw file count alone OVERcounts actual scan parallelism when
    `spark.sql.files.minPartitionNum=1` packs many small files into few
    splits (ADVICE r13: a 30-file dt-partitioned copy can scan as 1-2
    tasks), so the probe is capped by the byte-based split estimate
    (sum of file sizes + per-file open cost, over maxPartitionBytes —
    the same arithmetic Spark's FilePartition packing uses). Files
    whose sizes can't be stat'ed driver-side (object-store URIs) fall
    back to the raw count, which at cluster scale is in the thousands
    and correctly suppresses the shuffle either way.
    Call it on scan-rooted frames (load_table + projections).
    """
    sc = df.sparkSession.sparkContext
    target = n or sc.defaultParallelism
    try:
        files = df.inputFiles()
        n_files = len(files)
    except Exception:  # noqa: BLE001 — metadata hiccup: keep old behavior
        files, n_files = [], 0
    est_splits = n_files
    if 0 < n_files < 10_000:  # stat() only sane counts
        try:
            conf = df.sparkSession.conf
            max_bytes = _parse_bytes(conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
            open_cost = _parse_bytes(conf.get("spark.sql.files.openCostInBytes", "4194304"))
            total = sum(
                os.path.getsize(p.removeprefix("file:")) for p in files
            )
            est_splits = max(
                1, -(-(total + n_files * open_cost) // max_bytes)
            )
            est_splits = min(est_splits, n_files) if n_files else est_splits
        except (OSError, ValueError):
            est_splits = n_files  # non-local paths: raw count fallback
    if est_splits * 2 >= target:
        return df
    return df.repartition(target)


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every fixture table as a temp view for spark.sql()."""
    for name in TABLES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
