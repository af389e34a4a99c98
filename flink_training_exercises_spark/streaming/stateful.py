"""Streaming stateful travel-time prediction (SURVEY.md §2.6 W5) --
``applyInPandasWithState`` twin of operators/stateful.py.

Per destination-cell key, the state is the 8 direction buckets' integer
regression statistics (Sxx, Sxy) -- exactly the reference's
``ValueState<TravelTimePredictionModel>`` of 8 SimpleRegressions
(TravelTimePrediction.java:122, TravelTimePredictionModel.java:33-45),
re-expressed as two long arrays.

Ordering: rows are sorted by event time *within each delivered batch*.
Across triggers this matches Flink's behavior exactly as much as Flink
matches itself -- both process in arrival order, and arrival order equals
event order when the replay source is chronological (TaxiRideSource.java:36-38).
"""

from __future__ import annotations

import math
from typing import Any, Iterator, Tuple

import numpy as _np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from ..operators.stateful import _features

N_BUCKETS = 8

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("ride_id", T.LongType()),
        T.StructField("predicted_minutes", T.IntegerType()),
    ]
)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("sxx", T.ArrayType(T.LongType())),
        T.StructField("sxy", T.ArrayType(T.LongType())),
    ]
)


def _predict(sxx: int, sxy: int, x: int) -> int:
    if sxx == 0:
        return -1
    return math.floor((float(sxy) / float(sxx)) * x / 60000.0)


def _handle(
    key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        sxx, sxy = list(state.get[0]), list(state.get[1])
    else:
        sxx, sxy = [0] * N_BUCKETS, [0] * N_BUCKETS
    out_ids: list[int] = []
    out_preds: list[int] = []
    # a key's micro-batch rows can arrive as SEVERAL Arrow chunks
    # (maxRecordsPerBatch); event-time order only holds across the whole
    # batch if we concatenate before the single sort. Per-key costs are
    # trimmed hard (r13 optimization, guide §1.2): this operator sees
    # ~33k keys of ~2 rows per sf0.1 batch, so a pandas sort_values
    # (~200 us fixed cost) and a copying concat PER KEY dominated the
    # handler -- np.lexsort over the column arrays is the identical
    # stable (ev_ms, ride_id, is_start) total order (lexsort's LAST key
    # is primary, and both sorts are stable) at a fraction of the cost,
    # and the single-chunk case (the overwhelming majority) skips the
    # concat copy.
    chunks = list(pdfs)
    if not chunks:
        state.update((sxx, sxy))
        return
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    ev = pdf["ev_ms"].to_numpy()
    rid = pdf["ride_id"].to_numpy()
    ist = pdf["is_start"].to_numpy()
    order = _np.lexsort((ist, rid, ev))
    rid = rid[order]
    ist = ist[order]
    bkt = pdf["bucket"].to_numpy()[order]
    xm = pdf["x_m"].to_numpy()[order]
    ym = pdf["y_ms"].to_numpy()[order]
    for i in range(len(rid)):
        b, x = int(bkt[i]), int(xm[i])
        if ist[i]:
            out_ids.append(int(rid[i]))
            out_preds.append(_predict(sxx[b], sxy[b], x))
        else:
            sxx[b] += x * x
            sxy[b] += x * int(ym[i])
    state.update((sxx, sxy))
    if out_ids:
        # keys whose batch slice holds only END events emit nothing; not
        # yielding at all skips one Arrow batch construction per such key
        # (output rows are identical either way)
        yield pd.DataFrame({"ride_id": out_ids, "predicted_minutes": out_preds})


def streaming_travel_time(rides: DataFrame) -> DataFrame:
    """Keyed stateful prediction stream: one state per destination cell,
    append-mode output of (ride_id, predicted_minutes) per START event."""
    return (
        _features(rides)
        .groupBy("cell")
        .applyInPandasWithState(
            _handle,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming rolling z-score anomalies (keyed trailing-window ValueState)
# ---------------------------------------------------------------------------

ZSCORE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("cents", T.LongType()),
        T.StructField("n_baseline", T.IntegerType()),
        T.StructField("is_anomaly", T.IntegerType()),
    ]
)
# state = the key's trailing <= ZSCORE_LOOKBACK cents values, oldest first
ZSCORE_STATE_SCHEMA = T.StructType([T.StructField("tail", T.ArrayType(T.LongType()))])


def _zscore_handle(
    key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    from ..operators.timeseries import ZSCORE_K, ZSCORE_LOOKBACK, ZSCORE_MIN_N

    tail = list(state.get[0]) if state.exists else []
    uid = int(key[0])
    ids: list[int] = []
    xs: list[int] = []
    ns: list[int] = []
    flags: list[int] = []
    # concatenate ALL Arrow chunks before the one sort: per-chunk sorting
    # would break event-time order whenever a key's batch spans chunks
    # (maxRecordsPerBatch), silently diverging from the batch twin
    chunks = list(pdfs)
    if not chunks:
        state.update((tail,))
        yield pd.DataFrame(
            {"event_id": [], "user_id": [], "cents": [], "n_baseline": [], "is_anomaly": []}
        )
        return
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    # identical stable (ev_us, event_id) order via np.lexsort (last key is
    # primary) -- the per-key pandas sort_values fixed cost dominated the
    # handler at high key cardinality (r13, same rewrite as _handle)
    eid_arr = pdf["event_id"].to_numpy()
    cents_arr = pdf["cents"].to_numpy()
    order = _np.lexsort((eid_arr, pdf["ev_us"].to_numpy()))
    for event_id, x in zip(eid_arr[order], cents_arr[order]):
        x = int(x)
        n, s, ss = len(tail), sum(tail), sum(c * c for c in tail)
        flag = int(
            n >= ZSCORE_MIN_N
            and (n * x - s) ** 2 * (n - 1) > ZSCORE_K * ZSCORE_K * n * (n * ss - s * s)
        )
        ids.append(int(event_id))
        xs.append(x)
        ns.append(n)
        flags.append(flag)
        tail.append(x)
        if len(tail) > ZSCORE_LOOKBACK:
            tail.pop(0)
    state.update((tail,))
    yield pd.DataFrame(
        {
            "event_id": ids,
            "user_id": [uid] * len(ids),
            "cents": xs,
            "n_baseline": ns,
            "is_anomaly": flags,
        }
    )


def streaming_zscore(events: DataFrame) -> DataFrame:
    """Streaming twin of ``operators.timeseries.rolling_zscore_anomalies``:
    per-user ValueState holding the trailing <= 20 integer-cents values
    (the reference's RichFlatMapFunction + ValueState shape,
    TravelTimePrediction.java:120-164, applied to anomaly scoring). The
    cents fixed-pointing happens JVM-side BEFORE the handler (same
    floor(x*100 + 0.5) expression as the batch twin); the Python state walk
    is pure integer arithmetic, so emissions are bit-identical to the batch
    operator whenever rows arrive in event-time order -- which the
    single-file source (one micro-batch, handler sorts per key) and the
    chronological replay feeder both guarantee. State is O(LOOKBACK) longs
    per key -- constant memory per user at any scale."""
    from ..functions.time import ntz_epoch

    feats = events.select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * F.lit(1e2) + F.lit(5e-1)).cast("bigint").alias("cents"),
        F.timestamp_diff("MICROSECOND", ntz_epoch(), F.col("ts")).alias("ev_us"),
    )
    return feats.groupBy("user_id").applyInPandasWithState(
        _zscore_handle,
        outputStructType=ZSCORE_OUTPUT_SCHEMA,
        stateStructType=ZSCORE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
