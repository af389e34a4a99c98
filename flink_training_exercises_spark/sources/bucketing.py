"""Write-time layout for the dpp_partition_pruning query: a
directory-partitioned fact, joined on its partition column so Catalyst
prunes whole directories (static and dynamic partition pruning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(df: DataFrame, path: str) -> None:
    """Persist events with directory partitioning on ``event_type`` -- the
    layout that turns partition-key predicates (static or runtime) into
    skipped directories instead of scanned-and-filtered rows."""
    df.write.partitionBy("event_type").mode("overwrite").parquet(path)


def dpp_join_agg(spark: SparkSession, fact_path: str, dim: DataFrame) -> DataFrame:
    """Join a directory-partitioned fact against a filtered dimension on
    the partition column (event_type = d_type) and aggregate per key --
    the star-schema shape Dynamic Partition Pruning exists for: Catalyst
    plans the dim's filter as BOTH an inferred static PartitionFilter and
    a ``dynamicpruningexpression`` (the broadcast's key set reused as a
    runtime IN filter on the fact scan), so the fact side reads ONLY the
    surviving partition directories. At 100 TB this is the difference
    between scanning 5 TB and 100 TB for a 5%-selective dim filter --
    tests/test_bucketing.py asserts the pruning expression is in the plan.
    """
    from pyspark.sql import functions as F

    fact = spark.read.parquet(fact_path)
    return (
        fact.join(dim, fact["event_type"] == dim["d_type"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
        )
    )
