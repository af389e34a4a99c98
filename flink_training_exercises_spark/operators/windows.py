"""Event-time window operators (SURVEY.md §2.6 W2/A8, §2.2 P2/P4/P5).

The reference's PopularPlaces (PopularPlaces.java:71-97,122-148) is:
    NYC filter -> grid-cell map -> keyBy(cell, isStart)
    -> sliding event-time window (15 min / 5 min) -> count
    -> threshold >= 20 -> cell-center coordinates.

Spark-first design: the keyed sliding window + count is a single
``groupBy(window(ts, size, slide), keys).count()`` -- an *incremental*
partial aggregate (map-side combine) instead of the reference's
buffer-whole-window-and-iterate WindowFunction (PopularPlaces.java:141-144).
At 100 TB this matters: the shuffle carries one partial count per
(partition, window, key), not every event.

Window-end is exposed as epoch millis (BIGINT), matching the reference's
``window.getEnd()`` long (PopularPlaces.java:139).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import geo
from ..functions.time import epoch_ms

# Reference defaults: 15 min / 5 min / 20 (PopularPlaces.java:58,79).
DEFAULT_WINDOW = "15 minutes"
DEFAULT_SLIDE = "5 minutes"
DEFAULT_THRESHOLD = 20


def sliding_window_count(
    df: DataFrame,
    keys: list[str],
    window: str = DEFAULT_WINDOW,
    slide: str = DEFAULT_SLIDE,
) -> DataFrame:
    """W2/A8 -- epoch-aligned sliding-window count per key over ``ts``.

    Works identically on batch DataFrames and on streaming DataFrames that
    already carry a watermark (append mode reproduces Flink's
    fire-once-per-window semantics -- SURVEY.md §7).
    """
    return (
        df.groupBy(F.window("ts", window, slide).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            epoch_ms(F.col("w.end")).alias("window_end_ms"),
            *keys,
            F.col("cnt"),
        )
    )


def popular_places(
    rides: DataFrame,
    window: str = DEFAULT_WINDOW,
    slide: str = DEFAULT_SLIDE,
    threshold: int = DEFAULT_THRESHOLD,
) -> DataFrame:
    """The full PopularPlaces pipeline over a ride view
    (ride_id, is_start, ts, start_lon/lat, end_lon/lat).

    P1 NYC filter (both endpoints) -> P4 grid cell of the *relevant* endpoint
    (START: departure, END: arrival -- PopularPlaces.java:103-117) -> W2
    sliding count keyed on (cell, is_start) -> P2 threshold -> P5 cell-center
    coordinates (GeoUtils.java:170-191).
    """
    in_nyc = geo.is_in_nyc("start_lon", "start_lat") & geo.is_in_nyc("end_lon", "end_lat")
    loc_lon = F.when(F.col("is_start"), F.col("start_lon")).otherwise(F.col("end_lon"))
    loc_lat = F.when(F.col("is_start"), F.col("start_lat")).otherwise(F.col("end_lat"))
    cells = rides.where(in_nyc).select(
        F.col("ts"),
        F.col("is_start"),
        geo.grid_cell(loc_lon, loc_lat).alias("cell"),
    )
    counted = sliding_window_count(cells, ["cell", "is_start"], window, slide)
    return counted.where(F.col("cnt") >= threshold).select(
        geo.grid_cell_center_lon("cell").alias("center_lon"),
        geo.grid_cell_center_lat("cell").alias("center_lat"),
        F.col("window_end_ms"),
        F.col("is_start"),
        F.col("cnt"),
    )
