"""transformWithStateInPandas: per-user running state accumulates
across micro-batches and converges to the batch aggregate."""

import pytest
import os

from pyspark.sql import functions as F

from gotsdb_spark.sources.registry import load_table
from gotsdb_spark.streaming import read_events_stream

SF = "/root/testdata/sf0.001"


def test_transform_with_state_peaks_converge_to_batch(spark, tmp_path):
    """transformWithStateInPandas (Spark 4 state API, RocksDB-backed):
    per-user (count, max) accumulates across micro-batches and converges
    to the batch aggregate.

    The API's Python state server speaks protobuf; skip when the
    google.protobuf package is absent (this container), same
    environment-gating as the PIL codec in test_multimodal_codec.py.
    """
    import pytest

    pytest.importorskip("google.protobuf")
    from gotsdb_spark.streaming.stateful import running_user_peaks

    src = str(tmp_path / "src_tws")
    os.makedirs(src)
    ev = load_table(spark, "events", SF)
    first, second = ev.where(F.col("event_id") % 2 == 0), ev.where(
        F.col("event_id") % 2 == 1
    )

    q = (
        running_user_peaks(read_events_stream(spark, src))
        .writeStream.format("memory")
        .queryName("tws_out")
        .outputMode("update")
        .start()
    )
    try:
        first.write.mode("append").parquet(src)
        q.processAllAvailable()
        mid = {
            r["user_id"]: r["n_events"]
            for r in spark.sql(
                "SELECT user_id, max(n_events) n_events FROM tws_out GROUP BY 1"
            ).collect()
        }
        second.write.mode("append").parquet(src)
        q.processAllAvailable()
        final = {
            r["user_id"]: (r["n_events"], r["max_value"])
            for r in spark.sql(
                "SELECT user_id, max(n_events) n_events, max(max_value) max_value "
                "FROM tws_out GROUP BY 1"
            ).collect()
        }
    finally:
        q.stop()

    want = {
        r["user_id"]: (r["n"], r["m"])
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.max("value").alias("m"))
        .collect()
    }
    assert final == want
    assert any(mid[u] < final[u][0] for u in mid)


def test_transform_with_state_builds_plan_and_schema(spark, tmp_path):
    """Without protobuf the query can't EXECUTE, but building the
    streaming plan (analysis: grouping key, state schema, output
    schema) must work — pins the operator's structural contract."""
    from gotsdb_spark.streaming.stateful import running_user_peaks

    src = str(tmp_path / "src_tws_plan")
    os.makedirs(src)
    load_table(spark, "events", SF).limit(1).write.mode("append").parquet(src)
    out = running_user_peaks(read_events_stream(spark, src))
    assert out.isStreaming
    assert [f.name for f in out.schema.fields] == [
        "user_id",
        "n_events",
        "max_value",
    ]
