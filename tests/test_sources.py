"""Source/sink tests: CSV/JSON round-trips and the partitioned event
layout with partition pruning."""

import pytest
from pyspark.sql import functions as F

from gotsdb_spark.plans import formatted_plan
from gotsdb_spark.sources.formats import (
    list_partitions,
    read_any,
    read_events_partitioned,
    write_any,
    write_events_partitioned,
)
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


def test_partitioned_layout_and_pruning(spark, tmp_path):
    out = write_events_partitioned(spark, SF, str(tmp_path / "events_part"))
    days = list_partitions(out)
    assert len(days) >= 28  # ~a month of event days

    part = read_events_partitioned(spark, out)
    one_day = part.where(F.col("dt") == days[0])
    # the dt predicate must become a partition filter (planning-time
    # pruning), not a data filter after a full scan
    plan = formatted_plan(one_day)
    assert "PartitionFilters" in plan and "dt" in plan.split("PartitionFilters", 1)[1][:200]
    # and the counts must agree with the unpartitioned source
    ev = load_table(spark, "events", SF)
    want = ev.where(F.date_format("ts", "yyyy-MM-dd") == days[0]).count()
    assert one_day.count() == want


def test_partitioned_total_preserved(spark, tmp_path):
    out = write_events_partitioned(spark, SF, str(tmp_path / "events_part2"))
    assert read_events_partitioned(spark, out).count() == load_table(
        spark, "events", SF
    ).count()


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


def test_write_training_shards_idempotent_layout(spark, tmp_path):
    """The curated export is deterministic: rerun produces identical
    per-(split, shard) membership, directories exist for every written
    split, and gated-out docs never appear."""
    from gotsdb_spark.operators.pipeline_ops import write_training_shards

    out = str(tmp_path / "shards")
    write_training_shards(spark, SF, out, n_shards=4)
    first = {
        (r["split"], r["shard"]): r["n"]
        for r in spark.read.parquet(out)
        .groupBy("split", "shard")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert first and all(n > 0 for n in first.values())
    # partition directories are the (split, shard) layout
    import os as _os

    splits = {d for d in _os.listdir(out) if d.startswith("split=")}
    assert splits <= {"split=train", "split=val", "split=test"} and splits

    write_training_shards(spark, SF, out, n_shards=4)
    second = {
        (r["split"], r["shard"]): r["n"]
        for r in spark.read.parquet(out)
        .groupBy("split", "shard")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert first == second


def test_compact_parquet_dir_merges_small_files(spark, tmp_path):
    """64 tiny files compact to the computed file count with no row or
    value loss."""
    import glob

    from gotsdb_spark.sources.formats import compact_parquet_dir
    from gotsdb_spark.sources.registry import load_table

    src = str(tmp_path / "small")
    out = str(tmp_path / "compacted")
    orders = load_table(spark, "orders", SF)
    orders.repartition(64).write.parquet(src)
    assert len(glob.glob(src + "/part-*.parquet")) == 64

    n = compact_parquet_dir(spark, src, out, target_file_bytes=1 << 30)
    assert n == 1
    assert len(glob.glob(out + "/part-*.parquet")) == 1
    want = orders.agg(
        F.count("*").alias("n"), F.sum("o_totalprice").alias("s")
    ).collect()[0]
    got = (
        spark.read.parquet(out)
        .agg(F.count("*").alias("n"), F.sum("o_totalprice").alias("s"))
        .collect()[0]
    )
    assert (got["n"], round(got["s"], 4)) == (want["n"], round(want["s"], 4))


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


def test_retention_prune_drops_only_expired_days(spark, tmp_path):
    """Retention removes exactly the partitions before the cutoff; the
    surviving data is untouched (same rows as a ts-filter on the raw
    table) and re-running is a no-op."""
    from gotsdb_spark.sources.formats import retention_prune

    out = write_events_partitioned(spark, SF, str(tmp_path / "events_ret"))
    days = list_partitions(out)
    cutoff = days[len(days) // 2]

    removed = retention_prune(out, cutoff)
    assert removed == [d for d in days if d < cutoff]
    assert list_partitions(out) == [d for d in days if d >= cutoff]

    ev = load_table(spark, "events", SF)
    want = ev.where(F.date_format("ts", "yyyy-MM-dd") >= cutoff).count()
    assert read_events_partitioned(spark, out).count() == want

    assert retention_prune(out, cutoff) == []  # idempotent


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
