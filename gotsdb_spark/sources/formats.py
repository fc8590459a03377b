"""Additional batch formats.

The reference's only format is a gob blob per collection
(cold.go:111-154). Here Parquet is primary (registry.py), with CSV,
JSON, and ORC read/write for interchange. The date-partitioned event
layout is registry.py's ``events_dt`` copy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_READERS = ("parquet", "csv", "json", "orc")


def read_any(
    spark: SparkSession, path: str, fmt: str = "parquet", schema=None
) -> DataFrame:
    """Read parquet/csv/json with an explicit schema (never inference in
    production paths — inference is a full extra pass over the data)."""
    if fmt not in _READERS:
        raise ValueError(f"unsupported format {fmt!r}; supported: {_READERS}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        return reader.option("header", "true").csv(path)
    if fmt == "json":
        return reader.json(path)
    if fmt == "orc":
        return reader.orc(path)
    return reader.parquet(path)


def write_any(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    if fmt not in _READERS:
        raise ValueError(f"unsupported format {fmt!r}; supported: {_READERS}")
    writer = df.write.mode("overwrite")
    if fmt == "csv":
        writer.option("header", "true").csv(path)
    elif fmt == "json":
        writer.json(path)
    elif fmt == "orc":
        writer.orc(path)
    else:
        writer.parquet(path)
