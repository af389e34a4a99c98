"""Range (interval) join -- point-in-interval matching, which Spark has no
native operator for (a naive theta join degenerates to a filtered
BroadcastNestedLoop/cartesian product).

Scale path: bucketize. Each interval explodes into the fixed-width time
buckets it covers; points map to one bucket; candidates come from a plain
equi-join on the bucket id, then the exact BETWEEN predicate filters. The
cross product never materializes -- cost is |points| + sum(interval
lengths)/bucket_width candidates, and the join shuffles on uniformly
distributed bucket keys. Choose bucket_width ~ median interval length.

The DuckDB oracle is the naive BETWEEN join (exact same semantics, fine at
oracle scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_join_bucketed(
    points: DataFrame,
    intervals: DataFrame,
    point_ms: str,
    start_ms: str,
    end_ms: str,
    bucket_width_ms: int,
    how: str = "inner",
) -> DataFrame:
    """Join rows of `points` to every interval with start <= point <= end
    (inclusive both ends). Columns from both sides are kept; `how='left'`
    keeps unmatched points with NULL interval columns.

    The range predicate lives IN the join condition (not a post-filter), so
    outer semantics are exact: a point has exactly one bucket and an interval
    covers each bucket once, so a matched (point, interval) pair joins in
    exactly one bucket and unmatched points surface once with NULLs -- no
    anti-join reconstruction, which would mis-handle NULL-valued point
    columns under non-null-safe equality."""
    if how not in ("inner", "left"):
        raise ValueError(f"unsupported how={how!r}")
    overlap = set(points.columns) & set(intervals.columns)
    if overlap:
        raise ValueError(
            f"points and intervals must have disjoint column names; shared: {sorted(overlap)}"
        )
    p_bucket = F.floor(F.col(point_ms) / bucket_width_ms).cast("bigint")
    i_start_b = F.floor(F.col(start_ms) / bucket_width_ms).cast("bigint")
    i_end_b = F.floor(F.col(end_ms) / bucket_width_ms).cast("bigint")
    p = points.withColumn("__bucket_p", p_bucket)
    i = intervals.withColumn("__bucket_i", F.explode(F.sequence(i_start_b, i_end_b)))
    cond = (
        (F.col("__bucket_p") == F.col("__bucket_i"))
        & (F.col(point_ms) >= F.col(start_ms))
        & (F.col(point_ms) <= F.col(end_ms))
    )
    return p.join(i, cond, how).drop("__bucket_p", "__bucket_i")


def downtime_intervals(events: DataFrame) -> DataFrame:
    """Synthetic-but-deterministic interval table derived from the events
    table's calendar days: every 3rd day has a 'downtime' window from
    02:00+day minutes lasting 90+day minutes. Derivable identically in SQL."""
    from ..functions.time import epoch_ms

    # floor(epoch_ms / 86400000.0) -- the exact expression the oracle uses
    days = events.select(
        F.floor(epoch_ms("ts") / F.lit(86400000.0)).cast("bigint").alias("epoch_day")
    ).distinct()
    picked = days.where(F.col("epoch_day") % 3 == 0)
    start = (F.col("epoch_day") * 86400000) + (2 * 3600000) + (F.col("epoch_day") % 60) * 60000
    dur = (F.lit(90) + F.col("epoch_day") % 45) * 60000
    return picked.select(
        F.col("epoch_day").alias("interval_id"),
        start.alias("start_ms"),
        (start + dur).alias("end_ms"),
    )


def events_in_downtime(events: DataFrame) -> DataFrame:
    """Query: which events fell inside a downtime window (range join on
    hour buckets). Output (event_id, interval_id, offset_ms)."""
    from ..functions.time import epoch_ms

    pts = events.select("event_id", epoch_ms("ts").alias("ev_ms"))
    ivs = downtime_intervals(events)
    joined = range_join_bucketed(pts, ivs, "ev_ms", "start_ms", "end_ms", 3600000)
    return joined.select(
        "event_id", "interval_id", (F.col("ev_ms") - F.col("start_ms")).alias("offset_ms")
    )


EVENTS_IN_DOWNTIME_SQL = """
WITH days AS (
  SELECT DISTINCT CAST(floor(epoch_ms(ts) / 86400000e0) AS BIGINT) AS epoch_day FROM events
),
intervals AS (
  SELECT epoch_day AS interval_id,
         epoch_day * 86400000 + 2 * 3600000 + (epoch_day % 60) * 60000 AS start_ms,
         epoch_day * 86400000 + 2 * 3600000 + (epoch_day % 60) * 60000
           + (90 + epoch_day % 45) * 60000 AS end_ms
  FROM days WHERE epoch_day % 3 = 0
)
SELECT e.event_id, i.interval_id, epoch_ms(e.ts) - i.start_ms AS offset_ms
FROM events e JOIN intervals i
  ON epoch_ms(e.ts) >= i.start_ms AND epoch_ms(e.ts) <= i.end_ms
"""
