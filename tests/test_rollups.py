"""Rollup hierarchy: hourly→daily→monthly merges must equal direct
aggregation of raw (merge losslessness)."""

from pyspark.sql import functions as F

from gotsdb_spark.operators.rollups import hourly_rollup, merge_up
from gotsdb_spark.sources.registry import load_table

SF = "/root/testdata/sf0.001"


def test_daily_rollup_from_hourly_matches_raw(spark):
    raw = load_table(spark, "events", SF)
    daily = merge_up(hourly_rollup(raw), "hour", "day", "day")
    micros = F.floor(F.col("value") * 1_000_000 + 0.5).cast("bigint")
    want = raw.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.count("*").alias("n"), F.sum(micros).alias("sum_micros"))

    got = {
        (r["day"], r["event_type"]): (r["n"], r["sum_micros"])
        for r in daily.collect()
    }
    expect = {
        (r["day"], r["event_type"]): (r["n"], r["sum_micros"])
        for r in want.collect()
    }
    assert got == expect


def test_monthly_merge_from_daily(spark):
    raw = load_table(spark, "events", SF)
    daily = merge_up(hourly_rollup(raw), "hour", "day", "day")
    monthly = merge_up(daily, "day", "month", "month")
    want = raw.groupBy(F.date_trunc("month", "ts").alias("month")).agg(
        F.count("*").alias("n")
    )
    got = {
        r["month"]: r["n"]
        for r in monthly.groupBy("month").agg(F.sum("n").alias("n")).collect()
    }
    assert got == {r["month"]: r["n"] for r in want.collect()}
