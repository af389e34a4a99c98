"""Streaming keyed state in Python: ``applyInPandasWithState`` over key
groups, the streaming twins of operators/stateful.py (SURVEY.md §2.6 W5)
and operators/timeseries.rolling_zscore_anomalies.

Each operator is one pure fold, ``fold(state, rows) -> out rows``, that
sorts its rows itself and carries a ``{key: [long, ...]}`` dict across
them. State is kept per key group, ``key % KEY_GROUPS`` (*State
Management in Apache Flink*, VLDB 2017), not per raw key: one handler
call per group and micro-batch loads the group's dict from its one state
row (``keys ARRAY<BIGINT>, vals ARRAY<ARRAY<BIGINT>>``, shared by both
operators), folds all of the group's rows and writes the dict back.
The travel-time fold is the batch twin's ``travel_time_fold``; its dict
holds the direction buckets' integer regression statistics (Sxx, Sxy)
of each destination cell -- the reference's
``ValueState<TravelTimePredictionModel>`` (TravelTimePrediction.java:122,
TravelTimePredictionModel.java:33-45).

Ordering: a fold sorts by event time *within each delivered batch*, so
across micro-batches the state is folded in event-time order exactly when
the source arrives in event-time order -- as the reference's
TaxiRideSource emits rides in ride time (TaxiRideSource.java:36-38). The
chronological replays do: events in ``ts`` order, rides (the ``rides``
source) in ride-time order.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from ..functions.time import ntz_epoch
from ..operators.stateful import KEY_GROUPS, TRAVEL_TIME_SCHEMA, _features, travel_time_fold
from ..operators.timeseries import ZSCORE_K, ZSCORE_LOOKBACK, ZSCORE_MIN_N


def _fold_key_groups(df: DataFrame, key: str, fold, output_schema: str) -> DataFrame:
    """``fold`` run per ``key % KEY_GROUPS`` group of ``df`` with its
    ``{key: vals}`` dict kept in streaming state; append-mode output. A
    group's micro-batch rows can arrive as several Arrow chunks
    (maxRecordsPerBatch), so they are concatenated before the fold's one
    sort."""

    def handle(_group, pdfs, state):
        keyed = {k: list(v) for k, v in zip(*state.get)} if state.exists else {}
        out = fold(keyed, pd.concat(pdfs, ignore_index=True))
        state.update((list(keyed), list(keyed.values())))
        yield out

    return (
        df.withColumn("key_group", F.col(key) % KEY_GROUPS)
        .groupBy("key_group")
        .applyInPandasWithState(
            handle,
            outputStructType=output_schema,
            stateStructType="keys ARRAY<BIGINT>, vals ARRAY<ARRAY<BIGINT>>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_travel_time(rides: DataFrame) -> DataFrame:
    """Keyed stateful prediction stream: regression state per destination
    cell, append-mode output of (ride_id, predicted_minutes) per START
    event."""
    return _fold_key_groups(_features(rides), "cell", travel_time_fold, TRAVEL_TIME_SCHEMA)


def _zscore_fold(state: dict, pdf: pd.DataFrame) -> pd.DataFrame:
    """Fold events into ``state``, user_id -> the user's trailing
    <= ZSCORE_LOOKBACK cents values, oldest first, in the stable (ev_us,
    event_id) order; one output row per event."""
    col = {c: pdf[c].to_numpy() for c in pdf.columns}
    order = np.lexsort((col["event_id"], col["ev_us"]))
    uids, xs = col["user_id"][order], col["cents"][order]
    ns, flags = [], []
    for uid, x in zip(uids.tolist(), xs.tolist()):
        tail = state.setdefault(uid, [])
        n, s, ss = len(tail), sum(tail), sum(c * c for c in tail)
        ns.append(n)
        flags.append(
            int(
                n >= ZSCORE_MIN_N
                and (n * x - s) ** 2 * (n - 1) > ZSCORE_K * ZSCORE_K * n * (n * ss - s * s)
            )
        )
        tail.append(x)
        if len(tail) > ZSCORE_LOOKBACK:
            tail.pop(0)
    return pd.DataFrame(
        {
            "event_id": col["event_id"][order],
            "user_id": uids,
            "cents": xs,
            "n_baseline": ns,
            "is_anomaly": flags,
        }
    )


def streaming_zscore(events: DataFrame) -> DataFrame:
    """Streaming twin of ``operators.timeseries.rolling_zscore_anomalies``:
    per-user state holding the trailing <= 20 integer-cents values (the
    reference's RichFlatMapFunction + ValueState shape,
    TravelTimePrediction.java:120-164, applied to anomaly scoring). The
    cents fixed-pointing happens JVM-side BEFORE the fold (same
    floor(x*100 + 0.5) expression as the batch twin); the Python state walk
    is pure integer arithmetic, so emissions are bit-identical to the batch
    operator whenever rows arrive in event-time order -- which the
    single-file source (one micro-batch, the fold sorts) and the
    chronological replay feeder both guarantee. State is O(LOOKBACK) longs
    per user -- constant memory per user at any scale."""
    feats = events.select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * F.lit(1e2) + F.lit(5e-1)).cast("bigint").alias("cents"),
        F.timestamp_diff("MICROSECOND", ntz_epoch(), F.col("ts")).alias("ev_us"),
    )
    return _fold_key_groups(
        feats,
        "user_id",
        _zscore_fold,
        "event_id long, user_id long, cents long, n_baseline int, is_anomaly int",
    )
