"""Derived taxi-ride view over the driver's ``events`` table.

The reference's streaming exercises run on NYC TaxiRide events: TWO events
per ride (START/END) sharing a rideId, each row carrying the full ride
(both endpoints, both times) -- TaxiRide.java:62-70, convertTrips.sh:19.
The driver testdata has no geo columns, so the geo exercises run on a
*deterministic* ride view derived from ``events`` with pure integer/double
arithmetic that evaluates bit-identically in Spark and the DuckDB oracle:

  * consecutive event pairs (2k, 2k+1) become ride k's START and END events;
  * ride times are synthesized from ride_id (start uniform over 29 days,
    duration 1-60 min); event time = startTime for START, endTime for END
    (TaxiRideSource.java:222-229);
  * 40% of rides pin their endpoints to hotspot grid-cell centers so the
    PopularPlaces threshold fires (FIXTURES.md); the rest spread
    quasi-uniformly with ~10-13% outside the NYC bbox so RideCleansing is
    non-trivial (GeoUtils.java:29-32).

IMPORTANT parity rules: every float literal is E-notation (plain decimal
literals parse as DECIMAL in both Spark SQL and DuckDB and would silently
switch the arithmetic from IEEE double to exact decimal); ms->timestamp
conversion differs per engine and goes through the {ms_to_ts} hole.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# 2024-01-01 00:00:00 UTC in ms; 29 days; max extra duration 59 min.
_T0 = 1704067200000
_SPAN = 2505600000
_DUR = 3540000

# Hotspots: grid x = 35 + 3*h (h = rid % 10), y = 200 -> cell centers via
# GeoUtils.java:170-191; lat 40.749375 is the center of grid row 200.
RIDES_SQL = f"""
SELECT
  ride_id, is_start,
  {{ms_to_ts_event}} AS ts,
  {{ms_to_ts_start}} AS start_time,
  {{ms_to_ts_end}} AS end_time,
  CASE WHEN ride_id % 5 < 2
       THEN -74.05e0 + (35 + 3 * (ride_id % 10)) * 1.4e-3 + 7e-4
       ELSE -74.05e0 + ((ride_id * 7919 + 13) % 3900) / 1e4 END AS start_lon,
  CASE WHEN ride_id % 5 < 2
       THEN 40.749375e0
       ELSE 40.5e0 + ((ride_id * 104729 + 7) % 5500) / 1e4 END AS start_lat,
  CASE WHEN ride_id % 5 < 2
       THEN -74.05e0 + (35 + 3 * ((ride_id * 3 + 1) % 10)) * 1.4e-3 + 7e-4
       ELSE -74.05e0 + ((ride_id * 7919 + user_id * 31 + 1013) % 3900) / 1e4 END AS end_lon,
  CASE WHEN ride_id % 5 < 2
       THEN 40.749375e0
       ELSE 40.5e0 + ((ride_id * 104729 + user_id * 57 + 2029) % 5500) / 1e4 END AS end_lat,
  CAST(1 + ride_id % 4 AS INT) AS passenger_cnt
FROM (
  SELECT
    CAST((event_id - event_id % 2) / 2 AS BIGINT) AS ride_id,
    (event_id % 2) = 0 AS is_start,
    user_id,
    {_T0} + (CAST((event_id - event_id % 2) / 2 AS BIGINT) * 104729) % {_SPAN} AS start_ms,
    {_T0} + (CAST((event_id - event_id % 2) / 2 AS BIGINT) * 104729) % {_SPAN}
          + 60000 + (CAST((event_id - event_id % 2) / 2 AS BIGINT) * 7919) % {_DUR} AS end_ms
  FROM {{events}}
) e
"""


def _fill(events: str, ms_to_ts) -> str:
    return RIDES_SQL.format(
        events=events,
        ms_to_ts_event=ms_to_ts("CASE WHEN is_start THEN start_ms ELSE end_ms END"),
        ms_to_ts_start=ms_to_ts("start_ms"),
        ms_to_ts_end=ms_to_ts("end_ms"),
    )


def _spark_ms_to_ts(ms: str) -> str:
    return f"timestampadd(MILLISECOND, {ms}, TIMESTAMP_NTZ '1970-01-01 00:00:00')"


def _duck_ms_to_ts(ms: str) -> str:
    return f"epoch_ms({ms})"


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events the derived views read, widened: a single-split local
    parquet would run every view expression on one core."""
    from ..sources import load_table, widen_scan

    return widen_scan(load_table(spark, "events", sf_dir))


def rides_of(events: DataFrame) -> DataFrame:
    """The ride SQL over an events frame, batch or streaming; ``spark.sql``
    binds the frame to a view it drops after analysis, and would quote a
    string argument as a literal, so the other holes are filled first."""
    return events.sparkSession.sql(_fill("{events}", _spark_ms_to_ts), events=events)


def rides_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ride view as a DataFrame (runs the shared SQL through Catalyst)."""
    return rides_of(load_events(spark, sf_dir))


def rides_cte() -> str:
    """DuckDB-side CTE body for oracle queries."""
    return _fill("events", _duck_ms_to_ts)
