"""Write-time layouts that remove read-time work: bucketed co-located
joins (no Exchange) and directory-partitioned facts (partition pruning)."""

import contextlib
import io
import uuid

from flink_training_exercises_spark.sources import load_table
from pyspark.sql import functions as F


def write_bucketed(df, table, bucket_col, n_buckets, sort_col):
    """Persist as a bucketed, sorted managed table."""
    df.write.mode("overwrite").bucketBy(n_buckets, bucket_col).sortBy(sort_col).format(
        "parquet"
    ).saveAsTable(table)


def bucketed_join(spark, left_table, right_table, key):
    return spark.table(left_table).join(spark.table(right_table), key)


def plan_has_exchange(df):
    """True if the physical plan holds a shuffle Exchange (AQE wrappers and
    reused exchanges aside) -- the property bucketing removes."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return any(
        line.strip().split(" ", 2)[-1].startswith("Exchange")
        for line in buf.getvalue().splitlines()
        if "Exchange" in line and "ReusedExchange" not in line
    )


def test_bucketed_join_is_shuffle_free(spark, sf_small):
    # warehouse dir is a static conf -- set to /tmp by session.get_spark
    suffix = uuid.uuid4().hex[:8]
    li, od = f"li_{suffix}", f"od_{suffix}"
    write_bucketed(
        load_table(spark, "lineitem", sf_small), li, "l_orderkey", 8, sort_col="l_orderkey"
    )
    write_bucketed(
        load_table(spark, "orders", sf_small).withColumnRenamed("o_orderkey", "l_orderkey"),
        od,
        "l_orderkey",
        8,
        sort_col="l_orderkey",
    )
    joined = bucketed_join(spark, li, od, "l_orderkey")

    # the whole point: no Exchange anywhere in the join plan
    assert not plan_has_exchange(joined)

    # and identical results to the plain (shuffling) join
    plain = load_table(spark, "lineitem", sf_small).join(
        load_table(spark, "orders", sf_small).withColumnRenamed("o_orderkey", "l_orderkey"),
        "l_orderkey",
    )
    assert joined.count() == plain.count() > 0

    # sanity: the same sort-merge join on raw (unbucketed) tables DOES
    # shuffle (hint on the input side forces SMJ past the tiny-SF broadcast
    # choice -- at real scale SMJ is what the bucketing removes)
    raw_smj = load_table(spark, "lineitem", sf_small).join(
        load_table(spark, "orders", sf_small)
        .withColumnRenamed("o_orderkey", "l_orderkey")
        .hint("merge"),
        "l_orderkey",
    )
    assert plan_has_exchange(raw_smj)

    spark.sql(f"DROP TABLE IF EXISTS {li}")
    spark.sql(f"DROP TABLE IF EXISTS {od}")


def test_snapshot_diff_bucketed_is_shuffle_free(spark, sf_small):
    """The snapshot_diff_documents scale claim (SCALE.md): with both
    snapshots bucketed by doc_id at write time, the full-outer diff join
    needs no Exchange -- only (doc_id, 16-byte hash) is stored, and the
    classification matches the catalog query exactly."""
    from pyspark.sql import functions as F

    from flink_training_exercises_spark.plans.catalog import CATALOG

    suffix = uuid.uuid4().hex[:8]
    ta, tb = f"snap_a_{suffix}", f"snap_b_{suffix}"
    docs = load_table(spark, "documents", sf_small)
    write_bucketed(
        docs.where(F.col("doc_id") % 10 != 0).select(
            F.col("doc_id").alias("a_id"), F.md5("text").alias("old_hash")
        ),
        ta,
        "a_id",
        8,
        sort_col="a_id",
    )
    write_bucketed(
        docs.where(F.col("doc_id") % 7 != 0).select(
            F.col("doc_id").alias("b_id"),
            F.md5(
                F.when(
                    F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" v2"))
                ).otherwise(F.col("text"))
            ).alias("new_hash"),
        ),
        tb,
        "b_id",
        8,
        sort_col="b_id",
    )
    a, b = spark.table(ta), spark.table(tb)
    diff = (
        a.join(b, a["a_id"] == b["b_id"], "full_outer")
        .where(
            F.col("a_id").isNull()
            | F.col("b_id").isNull()
            | (F.col("old_hash") != F.col("new_hash"))
        )
        .select(
            F.coalesce("a_id", "b_id").alias("doc_id"),
            F.when(F.col("a_id").isNull(), "added")
            .when(F.col("b_id").isNull(), "removed")
            .otherwise("changed")
            .alias("status"),
        )
    )
    assert not plan_has_exchange(diff)
    got = {(r["doc_id"], r["status"]) for r in diff.collect()}
    expected = {
        (r["doc_id"], r["status"])
        for r in CATALOG["snapshot_diff_documents"].spark(spark, sf_small).collect()
    }
    assert got == expected and got

    spark.sql(f"DROP TABLE IF EXISTS {ta}")
    spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_dpp_partitioned_join_prunes_partitions(spark, sf_small, tmp_path):
    """The dpp_partition_pruning gate query's plan must carry BOTH the
    inferred static PartitionFilter and the dynamicpruningexpression on the
    partitioned fact scan, and the pruned result must equal the plain
    filtered aggregate."""
    from flink_training_exercises_spark.sources import load_table
    from flink_training_exercises_spark.sources.bucketing import (
        dpp_join_agg,
        write_partitioned,
    )

    ev = load_table(spark, "events", sf_small)
    path = str(tmp_path / "events_part")
    write_partitioned(ev, path)
    dim = spark.createDataFrame(
        [(t, len(t)) for t in ("click", "error", "purchase", "signup", "view")],
        "d_type string, type_weight int",
    ).where(F.length("d_type") <= 5)
    agg = dpp_join_agg(spark, path, dim)
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "dynamicpruningexpression" in plan
    got = {tuple(r) for r in agg.collect()}
    want = {
        tuple(r)
        for r in ev.where(F.length("event_type") <= 5)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
        )
        .collect()
    }
    assert got == want and len(got) == 3
