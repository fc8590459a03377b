"""Operator registry.

Every analytics operator registers itself here as a named query:
a callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible)
a DuckDB oracle SQL string producing identical columns/rows. The driver
contract (``__spark_entry__.py``) simply re-exports these dicts.
"""

from gotsdb_spark.operators.registry import ORACLES, QUERIES, query

# Import for registration side effects.
from gotsdb_spark.operators import relational  # noqa: E402,F401
from gotsdb_spark.operators import timeseries  # noqa: E402,F401
from gotsdb_spark.operators import dedup  # noqa: E402,F401
from gotsdb_spark.operators import similarity  # noqa: E402,F401
from gotsdb_spark.operators import text  # noqa: E402,F401
from gotsdb_spark.operators import multimodal  # noqa: E402,F401
from gotsdb_spark.operators import advanced  # noqa: E402,F401
from gotsdb_spark.operators import rollups  # noqa: E402,F401
from gotsdb_spark.operators import udfs  # noqa: E402,F401
from gotsdb_spark.operators import integration  # noqa: E402,F401
from gotsdb_spark.operators import tpch_extra  # noqa: E402,F401
from gotsdb_spark.operators import scale_ops  # noqa: E402,F401
from gotsdb_spark.operators import pipeline_ops  # noqa: E402,F401
from gotsdb_spark.operators import quality  # noqa: E402,F401
from gotsdb_spark.operators import sketches  # noqa: E402,F401
from gotsdb_spark.operators import graph  # noqa: E402,F401
from gotsdb_spark.operators import statistics  # noqa: E402,F401
from gotsdb_spark.operators import inference  # noqa: E402,F401
from gotsdb_spark.operators import filesources  # noqa: E402,F401

__all__ = ["QUERIES", "ORACLES", "query"]
