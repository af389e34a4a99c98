"""Change-data-capture operators: MERGE-INTO semantics as a batch plan.

The reference's closest surface is the stateful travel-time exercise
(keyed latest-state maintenance, ``TravelTimePrediction.java``); at
warehouse scale the same "apply a change batch onto a standing snapshot"
shape is the Delta/Hudi/Iceberg MERGE: upserts and deletes keyed by a
business key, last-writer-wins by a change sequence. We express it as ONE
window over the unioned (snapshot + changes) relation -- a single hash
shuffle on the merge key, no driver state, no row-at-a-time loop.

Scale path at 100 TB: the union is scan-only; the only shuffle is the
per-key window (hash partition on the merge key), which is the minimum
any MERGE implementation pays. Skewed keys are bounded by per-user change
counts (a key's partition holds its changes, not the corpus); the
snapshot side would be bucketed by key in a real table layout so the
exchange on that side disappears (sources/bucketing.py pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def merge_latest(
    snapshot: DataFrame,
    changes: DataFrame,
    keys: list[str],
    seq_cols: list[str],
) -> DataFrame:
    """Last-writer-wins merge that KEEPS the winning row whole -- including
    any delete marker. This is the associative inner step of MERGE: because
    the winner per key depends only on the max ``seq_cols`` tuple (changes
    beating snapshot on exact ties), folding change batches through
    ``merge_latest`` in ANY grouping yields the same final state, which is
    what makes the incremental/streaming form (foreachBatch) equal to the
    one-shot batch form. Delete markers must stay in the state as
    tombstones until the final read -- filtering them per step would let an
    older row resurrect a deleted key in a later batch."""
    s = snapshot.withColumn("_src", F.lit(0))
    c = changes.withColumn("_src", F.lit(1))
    merged = s.unionByName(c)
    order = [F.desc(x) for x in seq_cols] + [F.desc("_src")]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        merged.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk", "_src")
    )


def merge_upsert(
    snapshot: DataFrame, changes: DataFrame, keys: list[str], seq_cols: list[str]
) -> DataFrame:
    """Apply a CDC change batch onto a snapshot with MERGE semantics.

    Both inputs must share a schema that includes ``keys``, ``seq_cols``
    (the change-ordering columns -- make them a total order per key or the
    merge is nondeterministic) and a boolean ``delete_col`` (constant
    false on the snapshot side). The winner per key is the row with the
    highest ``seq_cols`` tuple, changes beating the snapshot on exact
    ties; keys whose winner is a delete marker drop out (DELETE), new
    keys appear (INSERT), existing keys take the winning row's values
    (UPDATE). Output drops the helper columns.
    """
    return (
        merge_latest(snapshot, changes, keys, seq_cols)
        .where(~F.col("is_delete"))
        .drop("is_delete")
    )


def merge_upsert_user_state_sql(cutoff_ms: int) -> str:
    """DuckDB twin of the gated ``cdc_merge_user_state`` query: snapshot =
    latest pre-cutoff event per user, change batch = post-cutoff events
    with ``delete_type`` rows as delete markers, merged last-writer-wins
    by (epoch ms, event_id, change-beats-snapshot)."""
    return f"""
WITH snap AS (
  SELECT user_id, event_type, value, state_ms, event_id, FALSE AS is_delete,
         0 AS src
  FROM (
    SELECT user_id, event_type, value, epoch_ms(ts) AS state_ms, event_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
    FROM events WHERE epoch_ms(ts) < {cutoff_ms}
  ) WHERE rk = 1
),
chg AS (
  SELECT user_id, event_type, value, epoch_ms(ts) AS state_ms, event_id,
         (event_type = 'error') AS is_delete, 1 AS src
  FROM events WHERE epoch_ms(ts) >= {cutoff_ms}
),
u AS (SELECT * FROM snap UNION ALL SELECT * FROM chg),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY state_ms DESC, event_id DESC, src DESC
  ) AS rk FROM u
)
SELECT user_id, event_type, value, state_ms, event_id
FROM r WHERE rk = 1 AND NOT is_delete
"""


# SCD2 validity-interval history over the raw event stream: each event's
# state is valid until the user's next event (NULL = current row). Shared
# verbatim by the batch scd2_user_history gate (plans/q_relational_indexing)
# and the streaming incremental-maintenance twin
# (streaming/queries.run_scd2_maintenance_availablenow), so the two gates
# hash against the identical contract.
SCD2_HISTORY_SQL = """
SELECT user_id, event_id,
       epoch_ms(ts) AS valid_from_ms,
       epoch_ms(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
         AS valid_to_ms
FROM events
"""
