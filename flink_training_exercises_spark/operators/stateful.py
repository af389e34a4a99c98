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
  * ``travel_time_stateful``: per-key ``applyInPandas`` carrying regression
    state across ordered rows -- the shape that generalizes to
    ``applyInPandasWithState`` in streaming (streaming/stateful.py).

Exactness: the regression sufficient statistics are accumulated as INTEGERS
(distance floored to 1e-3 units, travel time in whole ms), so Sxx/Sxy are
associative-exact -- bit-identical across engines, partitionings, and both
implementations. slope*distance/60000 then floors to whole minutes, matching
the reference's ``(int)`` truncation (positive domain).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import geo
from ..functions.time import epoch_ms

# milli-units per distance unit: floor(km * 1e3)
_DIST_SCALE = "1e3"
_MS_PER_MIN = "6e4"


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


def travel_time_stateful(rides: DataFrame) -> DataFrame:
    """applyInPandas form: regression state carried across ordered rows (the
    batch twin of the streaming stateful operator).

    Keys are SHARDED, not per-cell: per-(cell, bucket) state is independent,
    so grouping by ``cell % n_shards`` and keying the state dict on
    (cell, bucket) gives bit-identical results while cutting the number of
    pandas group invocations from |cells| (thousands of tiny frames, ~5 ms
    fixed cost each -- measured 38x slower than the window twin at sf0.1)
    to n_shards. One mergesort per shard preserves each cell's event-time
    order. Scale knob: raise n_shards with corpus size so a shard's rows
    fit executor memory (per-cell grouping is the n_shards -> inf limit)."""

    def per_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ev_ms", "ride_id", "is_start"], kind="mergesort")
        out_ids, out_preds = [], []
        state: dict[tuple[int, int], tuple[int, int]] = {}  # (cell,bucket) -> (sxx,sxy)
        for ride_id, is_start, cell, bucket, x_m, y_ms in zip(
            pdf["ride_id"], pdf["is_start"], pdf["cell"], pdf["bucket"], pdf["x_m"], pdf["y_ms"]
        ):
            x = int(x_m)
            key = (int(cell), int(bucket))
            if is_start:
                sxx, sxy = state.get(key, (0, 0))
                if sxx == 0:
                    pred = -1
                else:
                    # float() each stat first: Python int/int division is
                    # correctly rounded on the *exact* integers, but the SQL
                    # engines round each BIGINT to double before dividing --
                    # they differ once stats exceed 2^53.
                    pred = math.floor((float(sxy) / float(sxx)) * x / 60000.0)
                out_ids.append(int(ride_id))
                out_preds.append(pred)
            else:
                sxx, sxy = state.get(key, (0, 0))
                state[key] = (sxx + x * x, sxy + x * int(y_ms))
        return pd.DataFrame({"ride_id": out_ids, "predicted_minutes": out_preds})

    return (
        _features(rides)
        .withColumn("shard", F.col("cell") % F.lit(64))
        .groupBy("shard")
        .applyInPandas(per_shard, schema="ride_id long, predicted_minutes int")
    )
