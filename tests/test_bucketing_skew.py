"""Scale-technique tests: salted skew joins and the spark.sql entry
point over registered views."""

from pyspark.sql import functions as F

from gotsdb_spark.functions.skew import salted_join
from gotsdb_spark.sources.registry import register_views

SF = "/root/testdata/sf0.001"


def test_salted_join_equals_plain_join(spark):
    # synthetic skew: one key owns 90% of the left side
    left = spark.range(10_000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id") % 100)
        .alias("k"),
        F.col("id").alias("row_id"),
    )
    right = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    plain = left.join(right, ["k"]).select("row_id", "k", "v")
    salted = salted_join(left, right, ["k"], 8, ["row_id"]).select(
        "row_id", "k", "v"
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_sql_entry_point_over_views(spark):
    register_views(spark, SF)
    out = spark.sql(
        """
        SELECT r_name, count(*) AS n_nations
        FROM region JOIN nation ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name
        """
    ).collect()
    assert [r["n_nations"] for r in out] == [5, 5, 5, 5, 5]
