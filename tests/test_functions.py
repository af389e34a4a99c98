"""Unit tests for the scalar function library, pinned to the reference's
GeoUtils constants (GeoUtils.java:29-47,75-80,170-191)."""

import math

from pyspark.sql import functions as F

from flink_training_exercises_spark.functions import (
    direction_angle,
    direction_bucket,
    email_address,
    euclidean_distance_km,
    grid_cell,
    grid_cell_center_lat,
    grid_cell_center_lon,
    is_in_nyc,
    month_key,
    tokenize_words,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


def test_is_in_nyc_boundaries(spark):
    cases = [
        (-74.0, 40.75, True),
        (-74.05, 40.5, True),   # inclusive corners
        (-73.7, 41.0, True),
        (-74.06, 40.75, False),  # west of bbox
        (-73.69, 40.75, False),  # east
        (-74.0, 40.49, False),   # south
        (-74.0, 41.01, False),   # north
    ]
    df = spark.createDataFrame(cases, "lon double, lat double, expected boolean")
    bad = df.where(is_in_nyc("lon", "lat") != F.col("expected")).count()
    assert bad == 0


def test_grid_cell_roundtrip(spark):
    # GeoUtils.java:75-80: cell 0 is the NW corner; centers invert exactly.
    for lon, lat in [(-74.0, 40.75), (-73.75, 40.6), (-74.0493, 40.9993)]:
        cell = _one(spark, grid_cell(F.lit(lon), F.lit(lat)))
        clon = _one(spark, grid_cell_center_lon(F.lit(cell)))
        clat = _one(spark, grid_cell_center_lat(F.lit(cell)))
        assert abs(clon - lon) <= 0.0014 / 2 + 1e-9
        assert abs(clat - lat) <= 0.00125 / 2 + 1e-9
        # center maps back to the same cell
        assert _one(spark, grid_cell(F.lit(clon), F.lit(clat))) == cell


def test_grid_cell_nw_corner(spark):
    assert _one(spark, grid_cell(F.lit(-74.0493), F.lit(40.9994))) == 0


def test_euclidean_distance_quirk(spark):
    # GeoUtils.java:222-226 -- cos of the *degrees* value (faithful quirk).
    lon1, lat1, lon2, lat2 = -74.0, 40.75, -73.9, 40.8
    expected = 110.25 * math.sqrt(
        (lat1 - lat2) ** 2 + ((lon1 - lon2) * math.cos(lat2)) ** 2
    )
    got = _one(
        spark,
        euclidean_distance_km(F.lit(lon1), F.lit(lat1), F.lit(lon2), F.lit(lat2)),
    )
    assert abs(got - expected) < 1e-12


def test_direction_angle_and_bucket(spark):
    # GeoUtils.java:241-249: (int) degrees(atan2) + 179 in [0, 359]; the
    # Java cast truncates toward zero.
    a = _one(
        spark,
        direction_angle(F.lit(-73.9), F.lit(40.8), F.lit(-74.0), F.lit(40.75)),
    )
    x = 40.8 - 40.75
    y = (-73.9 - -74.0) * math.cos(40.75)
    assert a == math.trunc(math.degrees(math.atan2(x, y))) + 179
    b = _one(spark, direction_bucket(F.lit(a)))
    assert b == a // 45
    assert 0 <= b <= 7


def test_direction_angle_truncates_toward_zero(spark):
    # degrees(atan2) = -179.94 here: the (int) cast gives -179, so the angle
    # is 0 and the bucket 0 (a floor would give -1 and -1)
    x = -1e-4
    y = (-73.9 - -74.0) * math.cos(40.75)
    assert -180 < math.degrees(math.atan2(x, y)) < -179
    a = _one(
        spark,
        direction_angle(F.lit(-73.9), F.lit(40.75 + x), F.lit(-74.0), F.lit(40.75)),
    )
    assert a == 0
    assert _one(spark, direction_bucket(F.lit(a))) == 0


def test_month_key_and_email(spark):
    df = spark.createDataFrame(
        [("2014-09-27-09:58:22", "Fabian Hueske <fhueske@apache.org>")],
        "time string, sender string",
    )
    row = df.select(
        month_key().alias("m"), email_address().alias("e")
    ).first()
    assert row["m"] == "2014-09"
    assert row["e"] == "fhueske@apache.org"
    # bare address passes through
    bare = spark.createDataFrame([("x@y.z",)], "sender string")
    assert bare.select(email_address().alias("e")).first()["e"] == "x@y.z"


def test_tokenize_words_stopwords_and_distinct(spark):
    df = spark.createDataFrame(
        [("The quick  Fox and the fox2 jumps THE fox",)], "body string"
    )
    all_words = df.select(tokenize_words("body").alias("w")).first()["w"]
    # 'the'/'and' are stop words; 'fox2' fails ^[a-z]+$; case-folded
    assert all_words == ["quick", "fox", "jumps", "fox"]
    distinct = df.select(tokenize_words("body", distinct=True).alias("w")).first()["w"]
    assert distinct == ["quick", "fox", "jumps"]
