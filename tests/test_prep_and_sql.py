"""Prep tooling (P11 mbox parse, S11 trip conversion)."""

from datetime import datetime

from flink_training_exercises_spark.sources.prep import parse_mbox_mails, trips_to_events

RAW_MAIL = """Message-ID: <abc@x>
Date: Wed Sep 17 14:53:05 2014
From: Fabian Hueske <fhueske@apache.org>
Subject: Re: splitting DataSet
In-Reply-To: <prev@x>

Hi,
this is the =
body text.
"""

RAW_MAIL_NO_REPLY = """Message-ID: <def@x>
Date: Thu Sep 18 09:00:00 2014
From: A <a@x>
Subject: hello

body
"""

RAW_MAIL_BROKEN = """From: nobody
Subject: missing id and date

x
"""


def test_parse_mbox_mails(spark):
    raw = spark.createDataFrame(
        [(RAW_MAIL,), (RAW_MAIL_NO_REPLY,), (RAW_MAIL_BROKEN,)], "value string"
    )
    got = {r["messageId"]: r for r in parse_mbox_mails(raw).collect()}
    assert set(got) == {"<abc@x>", "<def@x>"}  # broken mail dropped
    m = got["<abc@x>"]
    assert m["time"] == "2014-09-17-14:53:05"  # date reformat (MBoxParser.java:137)
    assert m["sender"] == "Fabian Hueske <fhueske@apache.org>"
    assert m["replyTo"] == "<prev@x>"
    assert "this is the body text." in m["body"]  # '=' soft-wrap unwrapped
    assert got["<def@x>"]["replyTo"] == "null"  # sentinel (MBoxParser.java:150)


def test_trips_to_events(spark):
    trips = spark.createDataFrame(
        [
            (1, datetime(2013, 1, 1, 0, 0), datetime(2013, 1, 1, 0, 10),
             -74.0, 40.75, -73.9, 40.8, 2),
            (2, datetime(2013, 1, 1, 0, 5), datetime(2013, 1, 1, 0, 7),
             -74.0, 40.75, -73.9, 40.8, 1),
        ],
        "ride_id long, start_time timestamp_ntz, end_time timestamp_ntz, "
        "start_lon double, start_lat double, end_lon double, end_lat double, "
        "passenger_cnt int",
    )
    out = trips_to_events(trips).collect()
    assert len(out) == 4  # one START + one END per trip (convertTrips.sh:19)
    # globally ordered by event time: start1(0:00), start2(0:05), end2(0:07), end1(0:10)
    assert [(r["ride_id"], r["is_start"]) for r in out] == [
        (1, True), (2, True), (2, False), (1, False),
    ]
    assert out[0]["ts"] == out[0]["start_time"]
    assert out[3]["ts"] == out[3]["end_time"]


def _reference_cells_on_way(lon1, lat1, lon2, lat2):
    """Python port of the reference walk (GeoUtils.java:106-161), including
    its asymmetric negative-slope branch (corner case falls through to a
    second test against the updated row) -- the parity ground truth."""
    import math

    from flink_training_exercises_spark.functions.geo import (
        DELTA_LAT,
        DELTA_LON,
        LAT_NORTH,
        LON_WEST,
        NUMBER_OF_GRID_X,
    )

    x1 = math.floor((abs(LON_WEST) - abs(lon1)) / DELTA_LON)
    y1 = math.floor((LAT_NORTH - lat1) / DELTA_LAT)
    x2 = math.floor((abs(LON_WEST) - abs(lon2)) / DELTA_LON)
    y2 = math.floor((LAT_NORTH - lat2) / DELTA_LAT)
    if x1 <= x2:
        sx, sy, ex, ey = x1, y1, x2, y2
    else:
        sx, sy, ex, ey = x2, y2, x1, y1
    slope = (ey - sy) / ((ex - sx) + 0.00000001)
    cx, cy = sx, sy
    cells = [cx + cy * NUMBER_OF_GRID_X]
    while cx < ex or cy != ey:
        if slope > 0:
            y = (cx - sx + 0.5) * slope + sy - 0.5
            if cy - 0.05 < y < cy + 0.05:
                cx += 1
                cy += 1
            elif y < cy:
                cx += 1
            else:
                cy += 1
        else:
            y = (cx - sx + 0.5) * slope + sy + 0.5
            if cy - 0.05 < y < cy + 0.05:
                cx += 1
                cy -= 1
            if y > cy:  # NOT elif: evaluated against the updated cy
                cx += 1
            else:
                cy -= 1
        cells.append(cx + cy * NUMBER_OF_GRID_X)
    return cells
