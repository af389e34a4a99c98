"""Skew-mitigation rewrites preserve semantics exactly."""

from pyspark.sql import functions as F

from flink_training_exercises_spark.operators.skew import (
    salted_aggregate,
    salted_broadcast_join,
)


def _skewed(spark):
    # one hot key with 90% of rows
    hot = spark.range(9000).select(F.lit("hot").alias("k"), F.col("id").alias("v"))
    cold = spark.range(1000).select(
        F.concat(F.lit("c"), (F.col("id") % 50).cast("string")).alias("k"),
        F.col("id").alias("v"),
    )
    return hot.union(cold)


def test_salted_aggregate_matches_direct(spark):
    df = _skewed(spark)
    direct = {
        (r["k"]): (r["n"], r["s"])
        for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")).collect()
    }
    salted = {
        (r["k"]): (r["n"], r["s"])
        for r in salted_aggregate(df, ["k"], {"n": "count", "s": "sum:v"}).collect()
    }
    assert salted == direct


def test_salted_broadcast_join_matches_direct(spark):
    big = _skewed(spark)
    small = spark.createDataFrame(
        [("hot", 1), ("c1", 2), ("c2", 3)], "k2 string, tag int"
    )
    direct = big.join(small, big["k"] == small["k2"]).count()
    salted = salted_broadcast_join(big, small, "k", "k2").count()
    assert salted == direct == 9000 + 20 + 20


def test_skew_profile_hand_computed(spark):
    from flink_training_exercises_spark.operators.skew import skew_profile

    # a x8, b x1, c x1: counts [1,1,8]; p50 = rank-2 value = 1,
    # p95 = rank-3 value = 8; skew = 1e6*8*3//10 = 2400000;
    # salt = ceil(8*3/10) = 3
    df = spark.createDataFrame(
        [("a",)] * 8 + [("b",)] + [("c",)], "user_id string"
    )
    r = skew_profile(df).collect()[0]
    assert tuple(r) == (3, 10, 8, 1, 8, 2400000, 3)


def test_skew_profile_uniform_is_unsalted(spark):
    """Perfectly uniform keys: max == mean, skew exactly 1e6, salt 1."""
    from flink_training_exercises_spark.operators.skew import skew_profile

    df = spark.createDataFrame(
        [(f"k{i}",) for i in range(10) for _ in range(4)], "user_id string"
    )
    r = skew_profile(df).collect()[0]
    assert tuple(r) == (10, 40, 4, 4, 4, 1000000, 1)


# Each operator's catalog entry equals its DuckDB twin under compare(); the
# run is the one tests/test_catalog.py shares through conftest's CatalogRuns.


def test_skew_profile_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("skew_profile") == []
