"""Skew-mitigation operators for hot keys at scale.

AQE's skew-join splitting (on in session.py) covers sort-merge joins, but
two patterns still need explicit handling on a 1000-executor cluster:

  * salted two-phase aggregation -- a groupBy where one key holds a large
    fraction of all rows bottlenecks its single reducer. Phase 1 aggregates
    on (key, salt) so the hot key spreads over `salt_buckets` reducers;
    phase 2 combines the partials. Correct for any algebraic aggregate;
    exposed here for count/sum (exact integers).
  * salted broadcast-side replication join -- a join where the probe side's
    hot key floods one task: replicate the small side `salt_buckets` times
    and salt the big side uniformly.

Both are semantics-preserving rewrites; tests assert equality with the
direct forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT_BUCKETS = 16


def salted_aggregate(df: DataFrame, keys: list[str], aggs: dict[str, str]) -> DataFrame:
    """Two-phase skew-safe aggregation. ``aggs`` maps output alias ->
    'count' | 'sum:<col>' (algebraic aggregates that re-combine exactly)."""
    salted = df.withColumn("__salt", (F.rand(seed=7) * DEFAULT_SALT_BUCKETS).cast("int"))
    phase1_exprs = []
    phase2_exprs = []
    for alias, spec in aggs.items():
        if spec == "count":
            phase1_exprs.append(F.count(F.lit(1)).alias(f"__p_{alias}"))
            phase2_exprs.append(F.sum(f"__p_{alias}").alias(alias))
        elif spec.startswith("sum:"):
            phase1_exprs.append(F.sum(spec[4:]).alias(f"__p_{alias}"))
            phase2_exprs.append(F.sum(f"__p_{alias}").alias(alias))
        else:
            raise ValueError(f"unsupported agg spec {spec!r}")
    partial = salted.groupBy(*keys, "__salt").agg(*phase1_exprs)
    return partial.groupBy(*keys).agg(*phase2_exprs)


def salted_broadcast_join(
    big: DataFrame, small: DataFrame, big_key: str, small_key: str
) -> DataFrame:
    """Inner join where `big` has hot keys: replicate `small` over every
    salt bucket, salt `big` uniformly, equi-join on (key, salt). The hot
    key's rows land on `salt_buckets` tasks instead of one."""
    spark = big.sparkSession
    salts = spark.range(DEFAULT_SALT_BUCKETS).select(F.col("id").cast("int").alias("__salt"))
    small_rep = small.crossJoin(F.broadcast(salts))
    big_salted = big.withColumn("__salt", (F.rand(seed=11) * DEFAULT_SALT_BUCKETS).cast("int"))
    joined = big_salted.join(
        F.broadcast(small_rep),
        (big_salted[big_key] == small_rep[small_key])
        & (big_salted["__salt"] == small_rep["__salt"]),
    )
    return joined.drop("__salt")


def skew_profile(df: DataFrame) -> DataFrame:
    """Key-skew diagnosis BEFORE a shuffle: the per-key row-count
    distribution summarized into the numbers a salting decision actually
    needs -- how hot is the hottest key relative to the mean and the
    p50/p95 keys, and how many mean-sized slices it spans
    (recommended_salt = ceil(max * n_keys / total), the salt factor that
    levels the hot key's partition back to an average one; 1 = no
    salting needed). Completes the skew family: salted_aggregate /
    salted_broadcast_join APPLY the mitigation, this op DECIDES it.
    Output ONE row (n_keys, total_rows, max_cnt, p50_cnt, p95_cnt,
    skew_vs_mean_ppm, recommended_salt), all BIGINT.

    Determinism: p50/p95 are exact discrete quantiles (value at rank
    ceil(p*n) over the per-key counts) computed by the integer
    cross-multiplied cumulative walk over the COUNT-OF-COUNTS frame --
    bounded by distinct count VALUES, not keys (the histogram_merge /
    quantile_merge recipe); skew_vs_mean_ppm = (1e6 * max * n_keys)
    DIV total and the salt ceiling are pure BIGINT rationals.

    Scale shape (100 TB): one hash groupBy to per-key counts (map-side
    partials), one tiny groupBy to count-of-counts -- localCheckpoint'd
    there, since totals and the quantile picks all read it (the
    multi-consumer rule) -- a bounded single-partition cumulative over
    that summary, and ONE conditional aggregate for both quantiles with
    a 1-row broadcast: never a corpus-wide sort or window, and the
    per-key groupBy runs exactly once."""
    from pyspark.sql import Window

    # count-of-counts is tiny (distinct count VALUES), and it feeds the
    # totals AND both quantile picks -- localCheckpoint once so the
    # per-key groupBy runs exactly once (the multi-consumer rule), then
    # fold p50/p95 as ONE conditional aggregate instead of two
    # crossJoin-filter frames (the bloom three-scalar lesson)
    counts = df.groupBy(F.col("user_id").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    hist = (
        counts.groupBy("c").agg(F.count(F.lit(1)).alias("f")).localCheckpoint()
    )
    wc = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("c", "f", F.sum("f").over(wc).alias("cf"))
    tot = hist.agg(
        F.sum("f").cast("bigint").alias("n_keys"),
        F.sum(F.col("c") * F.col("f")).cast("bigint").alias("total_rows"),
        F.max("c").cast("bigint").alias("max_cnt"),
    )
    picks = cum.crossJoin(F.broadcast(tot)).agg(
        F.min(F.when(F.col("cf") * 100 >= F.col("n_keys") * 50, F.col("c")))
        .cast("bigint")
        .alias("p50_cnt"),
        F.min(F.when(F.col("cf") * 100 >= F.col("n_keys") * 95, F.col("c")))
        .cast("bigint")
        .alias("p95_cnt"),
    )
    return (
        tot.join(F.broadcast(picks))
        .select(
            "n_keys",
            "total_rows",
            "max_cnt",
            "p50_cnt",
            "p95_cnt",
            F.expr("(1000000 * max_cnt * n_keys) DIV total_rows")
            .cast("bigint")
            .alias("skew_vs_mean_ppm"),
            F.expr("(max_cnt * n_keys + total_rows - 1) DIV total_rows")
            .cast("bigint")
            .alias("recommended_salt"),
        )
    )


def skew_profile_sql() -> str:
    """DuckDB twin of :func:`skew_profile`: same count-of-counts walk and
    integer rationals."""
    return """
WITH counts AS (
  SELECT user_id AS k, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
),
hist AS (SELECT c, count(*) AS f FROM counts GROUP BY 1),
cum AS (
  SELECT c, CAST(sum(f) OVER (ORDER BY c
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cf
  FROM hist
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(c) AS BIGINT) AS total_rows,
         CAST(max(c) AS BIGINT) AS max_cnt
  FROM counts
),
p50 AS (
  SELECT CAST(min(c) AS BIGINT) AS p50_cnt FROM cum, tot
  WHERE cf * 100 >= n_keys * 50
),
p95 AS (
  SELECT CAST(min(c) AS BIGINT) AS p95_cnt FROM cum, tot
  WHERE cf * 100 >= n_keys * 95
)
SELECT n_keys, total_rows, max_cnt, p50_cnt, p95_cnt,
       CAST((1000000 * max_cnt * n_keys) // total_rows AS BIGINT)
         AS skew_vs_mean_ppm,
       CAST((max_cnt * n_keys + total_rows - 1) // total_rows AS BIGINT)
         AS recommended_salt
FROM tot, p50, p95
"""
