"""Z-order layout: key arithmetic + the disjoint-range property that
makes min/max pruning work on every interleaved dimension."""

import pytest
from pyspark.sql import functions as F

from corpus_lab.operators.layout import (
    cluster_by_zorder, zorder_key, zorder_sql_expr)


def test_known_interleave(spark):
    # x=0b101, y=0b011, k=2: x bits at even positions, y bits at odd
    # -> 1 + 16 (x) + 2 + 8 (y) = 27
    df = spark.createDataFrame([(5, 3)], ["x", "y"])
    row = df.select(zorder_key(["x", "y"], bits=3).alias("z")).first()
    assert row.z == 27


def test_sql_expr_matches_spark(spark):
    import duckdb
    rows = [(i, (i * 7) % 61) for i in range(64)]
    df = spark.createDataFrame(rows, ["x", "y"])
    got = {r.x: r.z for r in
           df.select("x", zorder_key(["x", "y"], 6).alias("z")).collect()}
    sql = zorder_sql_expr(["x", "y"], 6)
    want = {x: duckdb.sql(
        f"SELECT {sql} AS z FROM (SELECT {x} AS x, {y} AS y)").fetchone()[0]
        for x, y in rows}
    assert got == want


def test_width_guard():
    with pytest.raises(ValueError):
        zorder_key(["a", "b", "c", "d"], bits=16)  # 64 bits >= 63


def test_clustered_partitions_have_disjoint_key_ranges(spark):
    df = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("a"),
        ((F.col("id") * 31) % 64).alias("b"))
    out = cluster_by_zorder(df, ["a", "b"], bits=6, n_partitions=8)
    ranges = (out.withColumn("pid", F.spark_partition_id())
              .groupBy("pid").agg(F.min("zkey").alias("lo"),
                                  F.max("zkey").alias("hi"))
              .orderBy("lo").collect())
    assert len(ranges) > 1
    for prev, cur in zip(ranges, ranges[1:]):
        assert prev.hi <= cur.lo  # contiguous, non-overlapping ranges
