"""Source/sink tests: CSV/JSON round-trips, the warehouse copies, the
memoised Parquet schemas and split-size parsing."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gotsdb_spark.sources import registry
from gotsdb_spark.sources.formats import read_any, write_any
from gotsdb_spark.sources.registry import load_table

SF = "/root/testdata/sf0.001"


def test_csv_round_trip(spark, tmp_path):
    nation = load_table(spark, "nation", SF)
    path = str(tmp_path / "nation_csv")
    write_any(nation, path, "csv")
    back = read_any(spark, path, "csv", schema=nation.schema)
    assert back.schema == nation.schema
    assert sorted(r["n_name"] for r in back.collect()) == sorted(
        r["n_name"] for r in nation.collect()
    )


def test_json_round_trip(spark, tmp_path):
    region = load_table(spark, "region", SF)
    path = str(tmp_path / "region_json")
    write_any(region, path, "json")
    back = read_any(spark, path, "json", schema=region.schema)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in region.collect()}


def test_events_fallback_without_warehouse(spark, tmp_path, monkeypatch):
    """If the warehouse copy can't be built (e.g. read-only filesystem),
    events must still load from the raw single file with identical
    schema and rows."""
    from gotsdb_spark.sources import registry

    monkeypatch.setattr(
        registry, "WAREHOUSE_DIR", str(tmp_path / "no" / "such" / "ro\x00dir")
    )
    df = registry.load_table(spark, "events", "/root/testdata/sf0.001")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.count() == 1000


def test_observe_metrics_match_recompute(spark):
    """df.observe() collects pipeline metrics as a side effect of the
    action that already runs — the zero-extra-pass way to audit row
    counts / sums in a production job (vs a second .agg() scan). The
    observed values must equal a recomputation."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from gotsdb_spark.sources.registry import load_table

    sf = "/root/testdata/sf0.001"
    obs = Observation("orders_audit")
    df = load_table(spark, "orders", sf).observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("sum_cents"),
    )
    n_via_action = df.count()
    expected = (
        load_table(spark, "orders", sf)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "sum_cents"
            ),
        )
        .collect()[0]
    )
    assert obs.get["n_rows"] == n_via_action == expected["n_rows"]
    assert obs.get["sum_cents"] == expected["sum_cents"]


def test_corrupt_warehouse_copy_is_rebuilt(spark, tmp_path, monkeypatch):
    """A partitioned events copy with _SUCCESS but unreadable data must
    be torn down and rebuilt, not returned broken or mistaken for a
    concurrent build winning the rename race."""
    from gotsdb_spark.sources import registry

    monkeypatch.setattr(registry, "WAREHOUSE_DIR", str(tmp_path / "wh"))
    monkeypatch.setattr(registry, "_VALIDATED_PARTITIONED", set())
    path = registry.events_partitioned_path(SF)
    import os as _os

    _os.makedirs(path)
    (tmp_path / "wh" / "sf0.001" / "events_dt" / "_SUCCESS").write_text("")
    (tmp_path / "wh" / "sf0.001" / "events_dt" / "part-00000.parquet").write_bytes(
        b"not a parquet file"
    )

    df = registry.load_table(spark, "events", SF)
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.count() == 1000
    # the copy was rebuilt in place and is now valid + memoized
    assert path in registry._VALIDATED_PARTITIONED


def test_events_load_pins_utc_even_with_existing_copy(spark):
    """The UTC session pin must apply on EVERY events read path — in
    particular the fast path where the dt-partitioned warehouse copy
    already exists and the single-file loader never runs (a driver-
    supplied non-UTC session previously got session-local civil-time
    arithmetic there, diverging from the UTC-based DuckDB oracles)."""
    from gotsdb_spark.sources import registry

    # ensure the partitioned copy exists so load_table takes the
    # already-materialized branch
    assert registry._ensure_events_partitioned(spark, SF) is not None
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        df = registry.load_table(spark, "events", SF)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert dict(df.dtypes)["ts"] == "timestamp"
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


@pytest.mark.parametrize(
    "text, expected",
    [
        ("134217728", 134217728),  # plain bytes
        ("4194304b", 4194304),  # trailing b
        ("64k", 64 * 2**10),
        ("128m", 128 * 2**20),
        ("128mb", 128 * 2**20),
        ("1g", 2**30),
        ("2G", 2 * 2**30),
    ],
)
def test_parse_bytes_matches_spark(spark, text, expected):
    from gotsdb_spark.sources.registry import _parse_bytes

    assert _parse_bytes(text) == expected
    java_utils = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils
    assert java_utils.byteStringAsBytes(text) == expected


def test_parse_bytes_rejects_garbage():
    from gotsdb_spark.sources.registry import _parse_bytes

    with pytest.raises(ValueError):
        _parse_bytes("1.5g")


@pytest.mark.parametrize("max_bytes", ["134217728", "128m", "131072k", "134217728b"])
def test_fan_out_reads_suffixed_split_size(spark, tmp_path, max_bytes):
    """Eight tiny files pack into one 128 MiB split, so fan_out must
    repartition, whichever form the split size is written in."""
    from gotsdb_spark.sources.registry import fan_out

    path = str(tmp_path / "small")
    spark.range(64).repartition(8).write.parquet(path)
    df = spark.read.parquet(path)
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, max_bytes)
    try:
        assert fan_out(df, n=8) is not df
    finally:
        spark.conf.set(key, prev)


SCALES = tuple(os.path.join(os.path.dirname(SF), s) for s in ("sf0.001", "sf0.01", "sf0.1"))


def _job_ids(spark):
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


@pytest.mark.parametrize("sf", SCALES)
def test_memoised_schema_equals_inferred_schema(spark, sf):
    """For every fixture table and both warehouse copies, the memoised
    schema, and the schema of a read that passes it, equal the schema
    Spark infers."""
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    paths = [os.path.join(sf, f"{t}.parquet") for t in registry.TABLES]
    paths += [
        registry._ensure_events_partitioned(spark, sf),
        registry.ensure_lineitem_range_partitioned(spark, sf),
    ]
    assert None not in paths
    for path in paths:
        registry.read_parquet(spark, path)
        inferred = spark.read.parquet(path).schema
        assert registry._SCHEMAS[registry._schema_key(spark, path)] == inferred, path
        assert registry.read_parquet(spark, path).schema == inferred, path


@pytest.mark.parametrize("name", registry.TABLES)
def test_second_load_table_starts_no_spark_job(spark, name):
    first = load_table(spark, name, SCALES[0])
    before = _job_ids(spark)
    again = load_table(spark, name, SCALES[0])
    assert again.schema == first.schema
    assert _job_ids(spark) == before


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    """A file, or a directory copy with its _SUCCESS marker, rewritten at
    the same path with another schema is not read with the old one."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert registry.read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df = registry.read_parquet(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert [r["b"] for r in df.collect()] == ["x"]

    copy = str(tmp_path / "copy")
    spark.range(3).write.parquet(copy)
    assert registry.read_parquet(spark, copy).columns == ["id"]
    spark.range(3).selectExpr("id AS x", "'y' AS y").write.mode("overwrite").parquet(copy)
    assert registry.read_parquet(spark, copy).columns == ["x", "y"]


def test_flipping_nanos_as_long_does_not_reuse_the_stale_schema(spark, tmp_path):
    """Under nanosAsLong a TIMESTAMP(NANOS) column is a bigint; without it
    Spark cannot infer the column at all. The bigint schema memoised
    under the flag would read the file silently, so the read without the
    flag must infer again and fail."""
    path = str(tmp_path / "nanos.parquet")
    ns = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ns}), path, version="2.6")
    key = "spark.sql.legacy.parquet.nanosAsLong"
    assert spark.conf.get(key) == "true"
    assert registry.read_parquet(spark, path).dtypes == [("ts", "bigint")]
    try:
        spark.conf.set(key, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            registry.read_parquet(spark, path)
    finally:
        spark.conf.set(key, "true")
    assert registry.read_parquet(spark, path).collect()[0]["ts"] == 1_700_000_000_123_456_789
