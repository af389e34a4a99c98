"""As-of (time-travel) join -- Spark has no native operator for it; DuckDB
does (ASOF JOIN), which makes a perfect oracle.

Implementation is the scale-correct union-and-carry-forward form, NOT a
range-exploded join: tag both sides, union, and for each left row take the
most recent right row per key via ``last_value(..., ignorenulls)`` over an
event-time window. One shuffle on the key, no quadratic candidate
generation -- this survives 100 TB where a range cross join would not.

Tie policy: a right row at exactly the left row's timestamp matches
(<= semantics, like ``pd.merge_asof`` and DuckDB's ASOF JOIN >=); among
equal timestamps the highest id wins deterministically, and right rows sort
before left rows at the same instant so the match is visible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """For every left row: the right row of the same ``user_id`` with the
    greatest ``ts`` <= the left row's (NULL if none); both sides are
    events-shaped (user_id, ts, event_id). Output: (user_id, event_id,
    matched_id, match_gap_ms)."""
    # null placeholders carry each side's ACTUAL id dtype (string ids etc.
    # would otherwise fail the union or silently widen)
    l_id_type = dict(left.dtypes)["event_id"]
    r_id_type = dict(right.dtypes)["event_id"]
    l_tag = left.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.col("event_id").alias("lid"),
        F.lit(None).cast(r_id_type).alias("rid"),
        F.lit(1).alias("side"),  # left sorts after right at equal t
    )
    r_tag = right.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(None).cast(l_id_type).alias("lid"),
        F.col("event_id").alias("rid"),
        F.lit(0).alias("side"),
    )
    return _asof_from_tagged(l_tag.unionByName(r_tag))


def _asof_from_tagged(unioned: DataFrame) -> DataFrame:
    """Carry-forward core over a pre-tagged union (k, t, lid, rid, side)."""
    w = (
        Window.partitionBy("k")
        .orderBy("t", "side", F.coalesce("rid", "lid"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select(
        "k",
        "t",
        "lid",
        F.last("rid", ignorenulls=True).over(w).alias("matched_id"),
        F.last(F.when(F.col("rid").isNotNull(), F.col("t")), ignorenulls=True)
        .over(w)
        .alias("matched_t"),
    )
    from ..functions.time import epoch_ms

    # gap = difference of per-timestamp epoch-ms truncations (NOT
    # timestamp_diff, which truncates the microsecond *difference* and can
    # disagree by 1ms with engines that floor each epoch first)
    return carried.where(F.col("lid").isNotNull()).select(
        F.col("k").alias("user_id"),
        F.col("lid").alias("event_id"),
        "matched_id",
        (epoch_ms("t") - epoch_ms("matched_t")).alias("match_gap_ms"),
    )


def purchase_click_attribution(events: DataFrame) -> DataFrame:
    """Pipeline application: attribute each purchase to the user's most
    recent click at-or-before it. Single scan: both sides come from one
    table, so the tagged union is built with when() instead of two filtered
    scans (halves the I/O -- the asof_join entry point is for genuinely
    distinct inputs)."""
    is_p = F.col("event_type") == "purchase"
    is_c = F.col("event_type") == "click"
    tagged = events.where(is_p | is_c).select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.when(is_p, F.col("event_id")).alias("lid"),
        F.when(is_c, F.col("event_id")).alias("rid"),
        F.when(is_p, F.lit(1)).otherwise(F.lit(0)).alias("side"),
    )
    return _asof_from_tagged(tagged)


PURCHASE_CLICK_SQL = """
SELECT p.user_id,
       p.event_id,
       c.event_id AS matched_id,
       CASE WHEN c.event_id IS NULL THEN NULL
            ELSE epoch_ms(p.ts) - epoch_ms(c.ts) END AS match_gap_ms
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (
  -- dedup equal-timestamp clicks per user to the highest event_id, matching
  -- the Spark implementation's deterministic tie policy (DuckDB's ASOF
  -- picks an arbitrary row among exact ties otherwise)
  SELECT user_id, ts, max(event_id) AS event_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
) c ON p.user_id = c.user_id AND p.ts >= c.ts
"""
