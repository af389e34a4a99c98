"""Travel-time prediction (SURVEY.md §2.6 W5) -- the reference's only
custom stateful operator (TravelTimePrediction.java:76-164).

Semantics: rides keyed by *destination* grid cell; within a key, events are
processed in event-time order. END events train a per-direction-bucket
no-intercept linear regression (slope = Sxy/Sxx --
TravelTimePredictionModel.java:38-77, ``SimpleRegression(false)``); START
events predict travel minutes from the model state *so far* (or -1 when the
bucket is untrained -- TravelTimePredictionModel.java:59-64).

Two implementations with IDENTICAL results:

  * ``travel_time_window``: pure Column expressions. "State so far" is a
    window frame ``ROWS UNBOUNDED PRECEDING .. 1 PRECEDING`` summing only
    END rows -- Catalyst-visible, codegen'd, no Python. This is the form a
    Spark engine should prefer for the batch/backfill path.
  * ``travel_time_stateful``: ``travel_time_fold`` carrying regression
    state across ordered rows, run per key group by ``applyInPandas``; the
    streaming twin (streaming/stateful.py) runs the same fold under
    ``applyInPandasWithState``.

Exactness: the regression sufficient statistics are accumulated as INTEGERS
(distance floored to 1e-3 units, travel time in whole ms), so Sxx/Sxy are
associative-exact -- bit-identical across engines, partitionings, and both
implementations. slope*distance/60000 then floors to whole minutes, matching
the reference's ``(int)`` truncation (positive domain).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import geo
from ..functions.time import epoch_ms

# milli-units per distance unit: floor(km * 1e3)
_DIST_SCALE = "1e3"
_MS_PER_MIN = "6e4"
# Python keyed state (this module's applyInPandas twin and both streaming
# folds in streaming/stateful.py) is grouped by key % KEY_GROUPS, not per key
KEY_GROUPS = 64
TRAVEL_TIME_SCHEMA = "ride_id long, predicted_minutes int"


def _features(rides: DataFrame) -> DataFrame:
    """Shared feature projection: destination cell, direction bucket,
    integer-scaled distance x_m and duration y_ms, deterministic order key."""
    in_nyc = geo.is_in_nyc("start_lon", "start_lat") & geo.is_in_nyc("end_lon", "end_lat")
    dist = geo.euclidean_distance_km("start_lon", "start_lat", "end_lon", "end_lat")
    angle = geo.direction_angle("end_lon", "end_lat", "start_lon", "start_lat")
    return rides.where(in_nyc).select(
        "ride_id",
        "is_start",
        epoch_ms("ts").alias("ev_ms"),
        geo.grid_cell("end_lon", "end_lat").alias("cell"),
        geo.direction_bucket(angle).alias("bucket"),
        F.floor(dist * F.expr(_DIST_SCALE)).cast("bigint").alias("x_m"),
        F.timestamp_diff("MILLISECOND", F.col("start_time"), F.col("end_time")).alias("y_ms"),
    )


def _prediction(sxx, sxy, x_m):
    slope = sxy.cast("double") / sxx
    pred = F.floor(slope * x_m / F.expr(_MS_PER_MIN)).cast("int")
    return F.when(sxx.isNull() | (sxx == 0), F.lit(-1)).otherwise(pred)


def travel_time_window(rides: DataFrame) -> DataFrame:
    """Window-expression form: (ride_id, predicted_minutes) per START event."""
    w = (
        Window.partitionBy("cell", "bucket")
        .orderBy("ev_ms", "ride_id", "is_start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    end_only = lambda col: F.when(~F.col("is_start"), col)  # noqa: E731
    scored = _features(rides).select(
        "ride_id",
        "is_start",
        "x_m",
        F.sum(end_only(F.col("x_m") * F.col("x_m"))).over(w).alias("sxx"),
        F.sum(end_only(F.col("x_m") * F.col("y_ms"))).over(w).alias("sxy"),
    )
    return scored.where("is_start").select(
        "ride_id",
        _prediction(F.col("sxx"), F.col("sxy"), F.col("x_m")).alias("predicted_minutes"),
    )


def travel_time_fold(state: dict, pdf: pd.DataFrame) -> pd.DataFrame:
    """Fold one key group's ``_features`` rows into ``state`` and return
    (ride_id, predicted_minutes) per START event.

    ``state`` maps cell * 8 + bucket (buckets run 0..7, so cells never
    share a slot) to [sxx, sxy]. Rows are taken in the stable (ev_ms,
    ride_id, is_start) order; ``np.lexsort``'s last key is the primary."""
    col = {c: pdf[c].to_numpy() for c in pdf.columns}
    order = np.lexsort((col["is_start"], col["ride_id"], col["ev_ms"]))
    slot = col["cell"] * 8 + col["bucket"]
    out_ids, out_preds = [], []
    for ride_id, is_start, key, x, y in zip(
        *(a[order].tolist() for a in (col["ride_id"], col["is_start"], slot, col["x_m"], col["y_ms"]))
    ):
        sxx, sxy = state.get(key, (0, 0))
        if not is_start:
            state[key] = [sxx + x * x, sxy + x * y]
            continue
        out_ids.append(ride_id)
        # float() each stat first: Python int/int division is correctly
        # rounded on the *exact* integers, but the SQL engines round each
        # BIGINT to double before dividing -- they differ once stats
        # exceed 2^53.
        out_preds.append(-1 if sxx == 0 else math.floor(float(sxy) / float(sxx) * x / 60000.0))
    return pd.DataFrame({"ride_id": out_ids, "predicted_minutes": out_preds})


def travel_time_stateful(rides: DataFrame) -> DataFrame:
    """applyInPandas form: ``travel_time_fold`` over each of the KEY_GROUPS
    groups of destination cells, from an empty state (the batch twin of the
    streaming stateful operator).

    Per-(cell, bucket) state is independent, so grouping by
    ``cell % KEY_GROUPS`` gives bit-identical results while cutting the
    number of pandas group invocations from |cells| (thousands of tiny
    frames, ~5 ms fixed cost each -- measured 38x slower than the window
    twin at sf0.1) to KEY_GROUPS. A group holds ~1/KEY_GROUPS of the
    rides, all in one pandas frame."""
    return (
        _features(rides)
        .withColumn("key_group", F.col("cell") % KEY_GROUPS)
        .groupBy("key_group")
        .applyInPandas(lambda pdf: travel_time_fold({}, pdf), schema=TRAVEL_TIME_SCHEMA)
    )
