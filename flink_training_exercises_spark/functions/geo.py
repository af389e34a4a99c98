"""Geo scalar functions (SURVEY.md §2.8 F1-F9).

Pure Column expressions -- JVM-side, whole-stage-codegen'd, no Python UDFs.
Constants pinned to the reference's GeoUtils (GeoUtils.java:29-47):

    lon in [-74.05, -73.7], lat in [40.5, 41.0]
    grid: 250 x 400 cells of DELTA_LON=0.0014 x DELTA_LAT=0.00125 (~100m)

Two quirks are preserved deliberately (SURVEY.md §7 watch list):
  * euclidean_distance_km takes cos() of a *degrees* value as if it were
    radians (GeoUtils.java:222-226).
  * the grid x uses abs(LON_WEST) - abs(lon), which is only meaningful for
    western-hemisphere longitudes (GeoUtils.java:75-80) -- faithful.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

LON_EAST = -73.7
LON_WEST = -74.05
LAT_NORTH = 41.0
LAT_SOUTH = 40.5
DELTA_LON = 0.0014
DELTA_LAT = 0.00125
NUMBER_OF_GRID_X = 250


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else x


def is_in_nyc(lon, lat) -> Column:
    """F1 -- GeoUtils.isInNYC (GeoUtils.java:58-62)."""
    lon, lat = _c(lon), _c(lat)
    return ~((lon > LON_EAST) | (lon < LON_WEST)) & ~((lat > LAT_NORTH) | (lat < LAT_SOUTH))


def grid_cell(lon, lat) -> Column:
    """F2 -- GeoUtils.mapToGridCell (GeoUtils.java:75-80):
    x = floor((|LON_WEST| - |lon|) / DELTA_LON), y = floor((LAT_NORTH - lat)
    / DELTA_LAT), cell = x + y * 250."""
    lon, lat = _c(lon), _c(lat)
    x = F.floor((F.lit(abs(LON_WEST)) - F.abs(lon)) / F.lit(DELTA_LON)).cast("int")
    y = F.floor((F.lit(LAT_NORTH) - lat) / F.lit(DELTA_LAT)).cast("int")
    return (x + y * NUMBER_OF_GRID_X).cast("int")


def grid_cell_center_lon(cell) -> Column:
    """F3 -- GeoUtils.getGridCellCenterLon (GeoUtils.java:170-175)."""
    cell = _c(cell)
    x = F.pmod(cell, F.lit(NUMBER_OF_GRID_X))
    return (F.lit(abs(LON_WEST)) - x * F.lit(DELTA_LON) - F.lit(DELTA_LON / 2)) * F.lit(-1.0)


def grid_cell_center_lat(cell) -> Column:
    """F4 -- GeoUtils.getGridCellCenterLat (GeoUtils.java:184-191)."""
    cell = _c(cell)
    y = F.floor(cell / F.lit(NUMBER_OF_GRID_X))
    return F.lit(LAT_NORTH) - y * F.lit(DELTA_LAT) - F.lit(DELTA_LAT / 2)


def euclidean_distance_km(lon1, lat1, lon2, lat2) -> Column:
    """F5 -- GeoUtils.getEuclideanDistance (GeoUtils.java:222-226).

    110.25 * sqrt((lat1-lat2)^2 + ((lon1-lon2) * cos(lat2))^2); the cos is
    applied to the raw *degrees* value -- a reference quirk kept for parity.
    """
    lon1, lat1, lon2, lat2 = _c(lon1), _c(lat1), _c(lon2), _c(lat2)
    x = lat1 - lat2
    y = (lon1 - lon2) * F.cos(lat2)
    return F.lit(110.25) * F.sqrt(x * x + y * y)


def direction_angle(dest_lon, dest_lat, start_lon, start_lat) -> Column:
    """F6 -- GeoUtils.getDirectionAngle (GeoUtils.java:241-249):
    (int) degrees(atan2(destLat-startLat, (destLon-startLon)*cos(startLat)))
    + 179, in 0..359. Java's (int) cast truncates toward zero, so degrees
    in (-180, -179) give angle 0, not -1 as a floor would."""
    dest_lon, dest_lat = _c(dest_lon), _c(dest_lat)
    start_lon, start_lat = _c(start_lon), _c(start_lat)
    x = dest_lat - start_lat
    y = (dest_lon - start_lon) * F.cos(start_lat)
    return F.degrees(F.atan2(x, y)).cast("int") + F.lit(179)


def direction_bucket(angle) -> Column:
    """F9 -- direction bucket 0..7 = floor(angle/45)
    (TravelTimePredictionModel.java:85-87)."""
    return F.floor(_c(angle) / F.lit(45)).cast("int")
