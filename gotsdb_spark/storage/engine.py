"""KV-parity storage engine: the reference's two-tier hot/cold collection
store re-expressed Spark-first.

Reference model (j0shgrant/gotsdb; file:line citations are into it):
- Collection = map[string]string (internal/storage/types.go:3).
- Hot tier = process-local maps (hot.go:8-10); cold tier = one
  whole-blob gob file per collection (cold.go:14-16, 111-154).
- Engine composes the tiers with read-through promotion
  (engine.go:139-173), write-to-hot-only durability (engine.go:175-185),
  auto-create (engine.go:187-222), explicit flush/evict
  (engine.go:111-126).

Spark-native design (SURVEY.md §1.3) — not a translation:
- A collection's cold form is a **Parquet append-log** of
  (key, value, write_ts, seq) under <data_dir>/<id>/, columnar and
  compressed where the reference rewrites an uncompressed gob blob
  (cold.go:140,152). Last-writer-wins upsert (hot.go:53) becomes
  log-compaction: row_number() over (partitionBy key, orderBy
  write_ts/seq desc) == 1 — the idiomatic immutable-storage upsert.
- Promotion (engine.go:100-109) reads the Parquet footers first. A
  log of at most ``materialize_threshold`` rows is folded on the driver
  with pyarrow into a key → value dict, as the reference decodes its
  blob into process memory. A larger log stays on disk: promotion keeps
  only each row group's (min, max) ``key`` statistics, and a point read
  reads just the row groups whose range covers the key — the sorted-run
  probe of an LSM tree (O'Neil et al., Acta Informatica 1996). Neither
  path starts a Spark job or caches anything. A driver-side overlay
  dict holds unflushed writes, so read-your-writes holds without
  rewriting the log on every point write.
- Flush appends only the pending delta as one new log segment instead
  of rewriting the collection (cold.go:136-154 rewrites everything), so
  a flush is O(delta). The delta already lives in the driver, so the
  segment is written there with pyarrow (no Spark job): one key-sorted
  ``part-<uuid>.snappy.parquet`` file of small row groups, written
  under a hidden ``.``-prefixed name and renamed into place, so a
  reader of the dir (Spark skips ``.``/``_`` names) sees the whole
  segment or none of it. A flush that leaves more than ``_MAX_SEGMENTS``
  files then merges the smallest ones, up to ``materialize_threshold``
  rows, into one key-sorted file on the driver — a size-tiered merge,
  as in an LSM tree — so a log that is never compacted still promotes
  from a bounded number of files. The streaming KV sink writes a
  driver-sized micro-batch through the same `write_segment`.
  The engine therefore needs a data dir the driver can reach as a local
  (POSIX) path, as `_recover`, `compact` and `list_cold` already do.
- `compact()` is the explicit log rewrite: one row per key. A log of at
  most ``materialize_threshold`` rows is folded on the driver by the
  same rule as promotion and written as one key-sorted file of small
  row groups; a larger log is compacted by a Spark job into key-sorted
  files of small row groups. Both swap the
  new log in through the crash-safe protocol of `_recover`.

Deliberately NOT replicated (reference bugs/gaps, SURVEY.md §1.1):
unsynchronized concurrent map access, flush-only-on-crash durability,
the unanchored filename regex (cold.go:72), HTTP 500 for missing keys.

Error-message parity: the user-visible error strings match the
reference byte-for-byte (hot.go:43,47,65,84; engine.go:172,221).
"""

from __future__ import annotations

import os
import re
import shutil
import threading
import uuid
from datetime import datetime, timezone
from typing import NamedTuple

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.window import Window as W

LOG_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
        T.StructField("write_ts", T.TimestampType(), True),
        T.StructField("seq", T.LongType(), False),
    ]
)

# The same schema on the driver-side write path: TimestampType becomes
# timestamp("us", tz="UTC"), so Spark reads both kinds of segment alike.
_LOG_ARROW_SCHEMA = to_arrow_schema(LOG_SCHEMA)
# Within one flush segment keys are unique, seqs consecutive and
# write_ts constant: a dictionary only adds a page, while delta encoding
# stores seq and write_ts in a few bytes per page. A compacted log (also
# one row per key) is ~25% smaller with it than with the defaults.
_SEGMENT_ENCODING = {
    "use_dictionary": False,
    "column_encoding": {
        "seq": "DELTA_BINARY_PACKED",
        "write_ts": "DELTA_BINARY_PACKED",
    },
}
# Rows per row group of a flush segment. A segment is written sorted by
# key, so its row groups cover disjoint key ranges and a point read on a
# large collection decodes at most one group of this many rows per
# segment. Smaller groups make that read cheaper and the file larger.
_SEGMENT_ROW_GROUP_ROWS = 4096
# A flush that leaves more log files than this merges the smallest ones
# (`Engine._merge_small_segments`), so a driver-sized log is promoted
# from at most this many files however often it is flushed.
_MAX_SEGMENTS = 4
# Row-group size in bytes of a file of a Spark compaction. Its rows are
# sorted by key too, so a point read decodes at most one group of about
# this size per file instead of Spark's default 128 MiB group.
_COMPACT_ROW_GROUP_BYTES = 1 << 20

# Collection ids: alphanumeric, per the cold-listing regex (cold.go:72) —
# but anchored, unlike the reference's buggy unanchored pattern.
_ID_RE = re.compile(r"^[a-zA-Z0-9]+$")


def write_parquet_atomic(
    directory: str, table: pa.Table, name: str | None = None, **options
) -> None:
    """Write ``table`` into ``directory`` as one new file, ``name`` or
    else ``part-<uuid>.snappy.parquet``.

    The file is written under a hidden ``.``-prefixed name in the same
    directory and renamed into place, so Spark readers and file-stream
    sources (which skip ``.``/``_`` names) never see a partial file;
    a crash before the rename leaves only a hidden leftover, and a file
    already called ``name`` is replaced whole. ``options`` go to
    `pyarrow.parquet.write_table`."""
    name = name or f"part-{uuid.uuid4().hex}.snappy.parquet"
    tmp = os.path.join(directory, f".{name}.tmp")
    final = os.path.join(directory, name)
    pq.write_table(table, tmp, compression="snappy", **options)
    os.rename(tmp, final)


def _log_files(path: str) -> list[str]:
    """The files a Spark read of the collection dir ``path`` covers:
    regular files directly in it whose names are not hidden (``.``/``_``
    prefix), so a crash leftover of `write_parquet_atomic` stays
    invisible."""
    return sorted(
        e.path
        for e in os.scandir(path)
        if e.is_file() and not e.name.startswith((".", "_"))
    )


def _read_log(
    path: str, meta: pq.FileMetaData, row_groups: list[int] | None = None
) -> pa.Table:
    """One log file (or some of its row groups) as `_LOG_ARROW_SCHEMA`,
    as Spark's schema-on-read sees it: INT96 timestamps read as µs,
    every column is cast to the log type and a missing column reads as
    nulls."""
    present = [n for n in _LOG_ARROW_SCHEMA.names if n in meta.schema.names]
    # Log files are small: a thread pool costs more than it saves.
    with pq.ParquetFile(path, metadata=meta, coerce_int96_timestamp_unit="us") as pf:
        if row_groups is None:
            t = pf.read(columns=present, use_threads=False)
        else:
            t = pf.read_row_groups(row_groups, columns=present, use_threads=False)
    return _as_log_types(t)


def _as_log_types(t: pa.Table) -> pa.Table:
    """``t``'s log columns in log order, each cast to its
    `_LOG_ARROW_SCHEMA` type; a missing column is nulls. The fields stay
    nullable: a log may hold a null key (a stream's null input key), on
    which ``Table.cast(_LOG_ARROW_SCHEMA)`` raises."""
    return pa.table(
        [
            t.column(c.name).cast(c.type)
            if c.name in t.column_names
            else pa.nulls(t.num_rows, c.type)
            for c in _LOG_ARROW_SCHEMA
        ],
        names=_LOG_ARROW_SCHEMA.names,
    )


def write_segment(directory: str, table: pa.Table, name: str | None = None) -> None:
    """Write log rows as one segment file of ``directory``
    (`write_parquet_atomic`, optionally as ``name``): the log types, in
    ``_SEGMENT_ROW_GROUP_ROWS``-row groups with ``_SEGMENT_ENCODING``.
    The caller passes the rows sorted by key, so the row groups cover
    disjoint key ranges that `_probe_log` can prune. Flush, the
    size-tiered merge, driver compaction and the streaming KV sink all
    write through here.

    A table that already has the log names and types is written as it
    is: a flush then pays for no cast, and its non-null ``key`` and
    ``seq`` stay required columns, with no definition levels."""
    schema = table.schema
    if schema.names != _LOG_ARROW_SCHEMA.names or schema.types != _LOG_ARROW_SCHEMA.types:
        table = _as_log_types(table)
    write_parquet_atomic(
        directory,
        table,
        name=name,
        row_group_size=_SEGMENT_ROW_GROUP_ROWS,
        **_SEGMENT_ENCODING,
    )


def _fold(tables: list[pa.Table]) -> pa.Table:
    """The latest row per key over log rows, sorted by key: the row with
    the greatest (write_ts, seq), nulls lowest — the row
    `Engine._compacted` keeps (``DESC NULLS LAST``). Promotion, the
    row-group probe and driver-side compaction all fold by this rule."""
    if not tables:
        return _LOG_ARROW_SCHEMA.empty_table()
    log = pa.concat_tables(tables).combine_chunks()
    order = pc.sort_indices(
        log,
        sort_keys=[("key", "ascending"), ("write_ts", "descending"), ("seq", "descending")],
        null_placement="at_end",
    )
    if len(order) < 2:
        return log
    keys = log.column("key").take(order)
    cur, prev = keys[1:], keys[:-1]
    # A key run starts where the key differs from the previous one; a
    # null key is one more key, as in Spark's partitionBy.
    starts = pc.fill_null(
        pc.not_equal(cur, prev), pc.xor(pc.is_null(cur), pc.is_null(prev))
    ).combine_chunks()
    return log.take(order.filter(pa.concat_arrays([pa.array([True]), starts])))


def _as_dict(folded: pa.Table) -> dict[str, str | None]:
    """key → value of a `_fold` result. The columns convert through
    numpy, ~10x faster than ``to_pylist`` on strings; nulls become
    None."""
    key, value = (
        folded.column(c).to_numpy(zero_copy_only=False).tolist() for c in ("key", "value")
    )
    return dict(zip(key, value))


def _log_footers(path: str) -> list[tuple[str, pq.FileMetaData]]:
    """(file, Parquet footer) for each file of the log at ``path``."""
    return [(f, pq.read_metadata(f)) for f in _log_files(path)]


def _fold_log(footers: list[tuple[str, pq.FileMetaData]]) -> pa.Table:
    """The whole log folded on the driver (`_fold`)."""
    return _fold([_read_log(f, meta) for f, meta in footers])


def _row_group_ranges(meta: pq.FileMetaData, column: str) -> list[tuple[int, object, object]]:
    """(row group, min, max) of ``column`` for each non-empty row group
    in a Parquet footer. min and max are None where the group has no
    statistics for the column (or the file lacks it): such a group must
    be read."""
    names = meta.schema.names
    j = names.index(column) if column in names else None
    ranges = []
    for i in range(meta.num_row_groups):
        rg = meta.row_group(i)
        if rg.num_rows == 0:
            continue
        stats = rg.column(j).statistics if j is not None else None
        if stats is not None and stats.has_min_max:
            ranges.append((i, stats.min, stats.max))
        else:
            ranges.append((i, None, None))
    return ranges


def _seq_max(footers: list[tuple[str, pq.FileMetaData]]) -> int:
    """Max ``seq`` in the log, or 0: taken from the row-group statistics;
    the row groups without them are read."""
    best = 0
    for f, meta in footers:
        unread = []
        for i, _, hi in _row_group_ranges(meta, "seq"):
            if hi is None:
                unread.append(i)
            else:
                best = max(best, hi)
        if unread:
            best = max(best, pc.max(_read_log(f, meta, unread).column("seq")).as_py() or 0)
    return best


class _Segment(NamedTuple):
    """A log file of a large hot collection: its footer and the key
    range of each non-empty row group (None bounds: no statistics)."""

    path: str
    meta: pq.FileMetaData
    ranges: list[tuple[int, object, object]]


def _probe_log(segments: list[_Segment], key: str) -> dict[str, str | None]:
    """{key: latest value}, or {} if no segment holds ``key``. Each file
    decodes only the row groups whose key range covers ``key``; the
    latest row is `_fold`'s. Correct on unsorted files too, where the
    ranges merely prune less."""
    matches = []
    for seg in segments:
        groups = [i for i, lo, hi in seg.ranges if lo is None or lo <= key <= hi]
        if groups:
            t = _read_log(seg.path, seg.meta, groups)
            matches.append(t.filter(pc.equal(t.column("key"), key)))
    return _as_dict(_fold(matches))


class CollectionNotFoundError(KeyError):
    pass


class CollectionExistsError(ValueError):
    pass


class KeyNotFoundError(KeyError):
    pass


def _err_not_found_any(id: str) -> CollectionNotFoundError:
    # engine.go:172
    return CollectionNotFoundError(
        f"No collection found for collection id [{id}] in hot or cold storage"
    )


def _err_not_found_hot(id: str) -> CollectionNotFoundError:
    # hot.go:47
    return CollectionNotFoundError(
        f"No collection found for collection id [{id}] in hot storage."
    )


class Engine:
    """Two-tier collection engine over a SparkSession.

    API parity map (reference → here): ListCollections → list_collections
    (engine.go:39-66), CollectionExists → collection_exists
    (engine.go:69-82), IsHot → is_hot (engine.go:85-98), LoadCollection →
    load_collection (engine.go:100-109), FlushCollection →
    flush_collection (engine.go:111-126), FlushAllCollections →
    flush_all_collections (engine.go:128-137), ReadKey → read_key
    (engine.go:139-173), WriteKey → write_key (engine.go:175-185),
    auto-create (engine.go:187-222), CreateCollection/DropCollection
    (hot.go:62-85).
    """

    def __init__(
        self,
        spark: SparkSession,
        data_dir: str,
        auto_create_collection: bool = True,
        materialize_threshold: int = 1_000_000,
    ) -> None:
        self.spark = spark
        self.data_dir = os.path.abspath(data_dir)
        self.auto_create = auto_create_collection
        # A log of at most this many rows is folded at promotion into a
        # driver-side dict, giving O(1) point reads — the reference's own
        # semantics (it gob-decodes the whole collection into process
        # memory, engine.go:100-109); compact() folds it on the driver
        # too. A larger log is never loaded: its point reads probe the
        # row groups whose key range covers the key, so driver memory
        # stays bounded by the footers, and a Spark job compacts it.
        self.materialize_threshold = materialize_threshold
        os.makedirs(self.data_dir, exist_ok=True)  # cold.go:27-38
        # Hot tier. A collection is hot iff it has a `_hot_dict` entry:
        # its latest-per-key dict, or None for a log above the
        # threshold, whose point reads probe `_hot_index` instead.
        # `_hot_files` lists the log files at promotion, which
        # snapshot() reads on demand; `_pending` holds unflushed writes.
        self._hot_dict: dict[str, dict[str, str | None] | None] = {}
        self._hot_index: dict[str, list[_Segment]] = {}
        self._hot_files: dict[str, list[str]] = {}
        self._pending: dict[str, dict[str, str]] = {}
        # Durable per-collection sequence floor: the max `seq` present in
        # the cold log, discovered lazily and advanced on every flush.
        # Guarantees cross-segment (and cross-engine-generation) seqs are
        # strictly increasing, so the (write_ts, seq) LWW tie-break stays
        # correct even when two flushes land in the same timestamp tick.
        self._seq_floor: dict[str, int] = {}
        self._lock = threading.RLock()  # the reference races (hot.go:53); we don't

    # -- paths ----------------------------------------------------------

    def _path(self, id: str) -> str:
        if not _ID_RE.match(id):
            raise ValueError(f"invalid collection id [{id}]")
        return os.path.join(self.data_dir, id)

    def _log_seq_floor(self, id: str) -> int:
        """Max seq already persisted in the collection's log (0 if none).

        Read from the Parquet footers once per engine generation (or set
        by promotion); cached and advanced locally afterwards."""
        if id not in self._seq_floor:
            path = self._path(id)
            self._seq_floor[id] = _seq_max(_log_footers(path) if os.path.isdir(path) else [])
        return self._seq_floor[id]

    # -- crash recovery -------------------------------------------------

    def _recover(self, id: str) -> None:
        """Finish or roll back an interrupted compact() swap.

        States after a crash: the live dir may be missing while either
        the fully-written replacement (``<id>.compact.tmp`` containing a
        parquet _SUCCESS marker) or the displaced original
        (``<id>.compact.old``) still exists. Promote the complete tmp if
        present, else restore the original; stale leftovers next to a
        live dir are deleted."""
        path = self._path(id)
        tmp, bak = path + ".compact.tmp", path + ".compact.old"
        if os.path.isdir(path):
            for leftover in (tmp, bak):
                if os.path.isdir(leftover):
                    shutil.rmtree(leftover)
            return
        if os.path.isdir(tmp) and os.path.isfile(os.path.join(tmp, "_SUCCESS")):
            os.rename(tmp, path)
            if os.path.isdir(bak):
                shutil.rmtree(bak)
            return
        if os.path.isdir(bak):
            os.rename(bak, path)
            if os.path.isdir(tmp):
                shutil.rmtree(tmp)

    def _cold_exists(self, id: str) -> bool:
        # Under the lock: a compact() in progress holds it, so no one
        # sees its swap half done or deletes its tmp as a leftover.
        with self._lock:
            self._recover(id)
            return os.path.isdir(self._path(id))

    # -- tier inspection ------------------------------------------------

    def list_hot(self) -> list[str]:
        """Hot-tier ids (hot.go:20-27)."""
        with self._lock:
            return sorted(self._hot_dict)

    def list_cold(self) -> list[str]:
        """Cold-tier ids from a warehouse dir scan (cold.go:50-84)."""
        if not os.path.isdir(self.data_dir):
            return []
        with self._lock:  # see _cold_exists
            # Finish any compact() swap interrupted by a crash before listing.
            for e in os.listdir(self.data_dir):
                for suffix in (".compact.tmp", ".compact.old"):
                    if e.endswith(suffix):
                        self._recover(e[: -len(suffix)])
            return sorted(
                e
                for e in os.listdir(self.data_dir)
                if _ID_RE.match(e) and os.path.isdir(os.path.join(self.data_dir, e))
            )

    def list_collections(self) -> list[str]:
        """hot ∪ cold, distinct, sorted (engine.go:39-66 — sorted here to
        fix the reference's Go-map-random ordering)."""
        return sorted(set(self.list_hot()) | set(self.list_cold()))

    def collection_exists(self, id: str) -> bool:
        """Hot first ('slower due to requiring filesystem io',
        engine.go:70-75), then cold."""
        with self._lock:
            if id in self._hot_dict:
                return True
        return self._cold_exists(id)

    def is_hot(self, id: str) -> bool:
        """engine.go:85-98 — errors if the collection exists in neither
        tier."""
        with self._lock:
            if id in self._hot_dict:
                return True
        if self._cold_exists(id):
            return False
        raise _err_not_found_any(id)

    # -- log compaction (the Spark-native upsert) -----------------------

    def _compacted(self, df: DataFrame) -> DataFrame:
        """Latest value per key: the log-compaction view.

        One shuffle on `key`: each task's window sees only the history
        of the keys hashed to it.
        """
        w = W.partitionBy("key").orderBy(F.desc("write_ts"), F.desc("seq"))
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    def _overlay_df(self, id: str) -> DataFrame | None:
        """Pending (unflushed) writes as a DataFrame, or None."""
        pending = self._pending.get(id)
        if not pending:
            return None
        rows = [
            Row(key=k, value=v, write_ts=None, seq=i + 1)
            for i, (k, v) in enumerate(pending.items())
        ]
        return self.spark.createDataFrame(rows, LOG_SCHEMA).withColumn(
            "write_ts", F.current_timestamp()
        )

    def snapshot(self, id: str) -> DataFrame:
        """The collection's current latest-per-key view (base ⊎ pending).

        This is the DataFrame handle analytics run against — the KV API
        below is point lookups on top of it. It reads the log files
        listed at promotion, so once a merging flush or compact() of
        the same collection has deleted them, an action on it fails
        instead of reading stale data.
        """
        with self._lock:
            if id not in self._hot_dict:
                self.load_collection_if_not_present(id)
            files = self._hot_files.get(id)
            overlay = self._overlay_df(id)
        base = None
        if files:
            base = self._compacted(self.spark.read.schema(LOG_SCHEMA).parquet(*files))
        parts = [p for p in (base, overlay) if p is not None]
        if not parts:
            return self.spark.createDataFrame([], LOG_SCHEMA)
        if len(parts) == 1:
            return parts[0]
        # Overlay wins over base at equal keys: give overlay rows a
        # higher seq than anything in the base (base seqs are finite).
        merged = parts[0].unionByName(
            parts[1].withColumn("seq", F.col("seq") + F.lit(2**62))
        )
        return self._compacted(merged)

    # -- load / flush (promotion / demotion) ----------------------------

    def _driver_sized(self, footers: list[tuple[str, pq.FileMetaData]]) -> bool:
        """Whether a log is folded on the driver: at most
        ``materialize_threshold`` rows, counted from the footers."""
        return sum(meta.num_rows for _, meta in footers) <= self.materialize_threshold

    def load_collection(self, id: str) -> None:
        """Cold → hot promotion (engine.go:100-109), on the driver from
        the Parquet footers: no Spark job, nothing cached.

        A log of at most ``materialize_threshold`` rows is folded into
        the hot dict (`_fold_log`). A larger one is indexed instead:
        each file's row-group key ranges, which `read_key` probes. The
        seq floor comes from the footers' ``seq`` statistics."""
        if not self._cold_exists(id):
            raise _err_not_found_any(id)
        path = self._path(id)
        with self._lock:
            footers = _log_footers(path)
            if self._driver_sized(footers):
                self._hot_dict[id] = _as_dict(_fold_log(footers))
                self._hot_index.pop(id, None)
            else:
                self._hot_dict[id] = None
                self._hot_index[id] = [
                    _Segment(f, meta, _row_group_ranges(meta, "key")) for f, meta in footers
                ]
            self._hot_files[id] = [f for f, _ in footers]
            self._pending.setdefault(id, {})
            self._seq_floor.setdefault(id, _seq_max(footers))

    def load_collection_if_not_present(self, id: str) -> None:
        """engine.go:187-222: hot → no-op; cold → promote; neither →
        auto-create (if enabled) else error (engine.go:221)."""
        with self._lock:
            if id in self._hot_dict:
                return
            if self._cold_exists(id):
                self.load_collection(id)
                return
            if self.auto_create:
                self._hot_dict[id] = {}
                self._pending[id] = {}
                return
        raise CollectionNotFoundError(
            f"Unable to find a collection to load into hot storage with id [{id}]."
        )

    def flush_collection(self, id: str) -> None:
        """Hot → cold + evict (engine.go:111-126).

        Unlike the reference's whole-collection rewrite (cold.go:140),
        this appends only the pending delta as one new log segment —
        O(unflushed writes), not O(collection) — written driver-side by
        `write_segment`, with no Spark job once the seq floor is
        known. The segment is sorted by key in row groups of
        ``_SEGMENT_ROW_GROUP_ROWS`` rows, its seqs continue strictly
        above every seq in the log, and all its rows share one
        ``write_ts``. An empty auto-created collection is persisted as
        a zero-row segment. If the log then has more than
        ``_MAX_SEGMENTS`` files, its small segments are merged
        (`_merge_small_segments`), also without a Spark job."""
        with self._lock:
            if id not in self._hot_dict:
                raise _err_not_found_hot(id)
            path = self._path(id)
            pending = self._pending[id]
            if pending or not os.path.isdir(path):
                floor = self._log_seq_floor(id)
                n = len(pending)
                keys = sorted(pending)
                segment = pa.Table.from_pydict(
                    {
                        "key": keys,
                        "value": [pending[k] for k in keys],
                        "write_ts": [datetime.now(timezone.utc)] * n,
                        "seq": range(floor + 1, floor + 1 + n),
                    },
                    schema=_LOG_ARROW_SCHEMA,
                )
                os.makedirs(path, exist_ok=True)
                write_segment(path, segment)
                self._seq_floor[id] = floor + n
            self._evict(id)
            self._merge_small_segments(path)

    def _merge_small_segments(self, path: str) -> None:
        """If the log at ``path`` has more than ``_MAX_SEGMENTS`` files,
        fold its smallest files whose rows, counted from the footers,
        sum to at most ``materialize_threshold`` into one key-sorted
        file, if there are at least two such files.

        `_fold` keeps the row of each key that can win over the whole
        log, so any subset of files may be folded. The inputs are
        deleted only after the merged file is renamed into place: a
        crash in between leaves duplicates of rows, which fold as one.
        """
        if len(_log_files(path)) <= _MAX_SEGMENTS:
            return
        chosen, rows = [], 0
        for f, meta in sorted(_log_footers(path), key=lambda fm: fm[1].num_rows):
            rows += meta.num_rows
            if rows > self.materialize_threshold:
                break
            chosen.append((f, meta))
        if len(chosen) < 2:
            return
        write_segment(path, _fold_log(chosen))
        for f, _ in chosen:
            os.unlink(f)

    def _evict(self, id: str) -> None:
        """Drop a hot collection's state (engine.go:121)."""
        del self._hot_dict[id]
        del self._pending[id]
        self._hot_index.pop(id, None)
        self._hot_files.pop(id, None)

    def flush_all_collections(self) -> list[Exception]:
        """engine.go:128-137 — collects errors, never short-circuits."""
        errors: list[Exception] = []
        for id in self.list_hot():
            try:
                self.flush_collection(id)
            except Exception as exc:  # noqa: BLE001 — parity: collect all
                errors.append(exc)
        return errors

    def compact(self, id: str) -> None:
        """Maintenance: rewrite the cold log as one row per key, the
        latest.

        The reference implicitly 'compacts' by rewriting the whole blob
        on every flush (cold.go:136-154); here compaction is explicit
        and schedulable, the usual pattern for append-logs. A log of at
        most ``materialize_threshold`` rows is folded on the driver by
        promotion's rule (`_fold_log`) and written with pyarrow as one
        key-sorted file of ``_SEGMENT_ROW_GROUP_ROWS``-row groups, with
        no Spark job; a larger log is compacted by a Spark write of
        `_compacted`, sorted by key within each file and written in
        ``_COMPACT_ROW_GROUP_BYTES`` row groups. Both write ``<id>.compact.tmp`` and swap it in
        crash-safely: tmp is only promoted once its _SUCCESS marker
        exists, and the displaced original survives as ``.old`` until
        the swap completes, so `_recover` can finish or roll back any
        intermediate state."""
        with self._lock:
            if not self._cold_exists(id):
                raise _err_not_found_any(id)
            path = self._path(id)
            tmp, bak = path + ".compact.tmp", path + ".compact.old"
            footers = _log_footers(path)
            if self._driver_sized(footers):
                os.makedirs(tmp)
                write_segment(tmp, _fold_log(footers))
                open(os.path.join(tmp, "_SUCCESS"), "wb").close()
            else:
                df = self._compacted(self.spark.read.schema(LOG_SCHEMA).parquet(path))
                (
                    df.sortWithinPartitions("key")
                    .write.mode("overwrite")
                    .option("parquet.block.size", _COMPACT_ROW_GROUP_BYTES)
                    .parquet(tmp)
                )
            os.rename(path, bak)
            os.rename(tmp, path)
            shutil.rmtree(bak)
            if id in self._hot_dict:  # refresh the hot state
                self.load_collection(id)

    # -- point reads / writes ------------------------------------------

    def read_key(self, id: str, key: str) -> str:
        """Read-through point lookup (engine.go:139-173).

        Hot overlay (read-your-writes) → hot dict, or for a large
        collection the row-group probe (`_probe_log`) → cold promotion
        on miss → error parity: missing key in a hot collection vs
        missing collection are distinct (hot.go:43 vs engine.go:172).

        The check-promote-lookup runs under ONE lock hold (RLock, so
        the nested load_collection re-acquires): a concurrent flush
        must not demote the collection between promotion and lookup,
        and compact() must not delete the files a probe reads."""
        with self._lock:
            if id not in self._hot_dict:
                if self._cold_exists(id):
                    self.load_collection(id)  # engine.go:150-169: promote all
                else:
                    raise _err_not_found_any(id)
            pending = self._pending[id]
            if key in pending:
                return pending[key]
            hot = self._hot_dict[id]
            if hot is None:
                hot = _probe_log(self._hot_index[id], key)
            if key in hot:
                return hot[key]
        # hot.go:43
        raise KeyNotFoundError(
            f"No value found for key [{key}] in hot collection [{id}]."
        )

    def write_key(self, id: str, key: str, value: str) -> None:
        """Write-through-to-hot (engine.go:175-185): ensure loaded /
        auto-create, then upsert the overlay. Durability deferred to
        flush, matching the reference (engine.go:184 writes memory
        only). Ensure-loaded and the overlay upsert happen under one
        lock hold — a flush sneaking between them strands the write in
        an orphaned pending entry for a demoted collection."""
        with self._lock:
            self.load_collection_if_not_present(id)
            self._pending.setdefault(id, {})[key] = value

    # -- create / drop --------------------------------------------------

    def create_collection(self, id: str) -> None:
        """hot.go:62-72 — error if present in the hot tier."""
        with self._lock:
            if id in self._hot_dict:
                # hot.go:65
                raise CollectionExistsError(
                    f"Collection already exists with id [{id}] in hot storage."
                )
            self._hot_dict[id] = {}
            self._pending[id] = {}

    def drop_collection(self, id: str) -> None:
        """hot.go:74-85 — hot-tier eviction without persisting."""
        with self._lock:
            if id not in self._hot_dict:
                raise _err_not_found_hot(id)  # hot.go:84
            self._evict(id)
