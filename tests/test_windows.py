"""Sliding-window semantics: epoch alignment, multiplicity, threshold."""

from datetime import datetime

from flink_training_exercises_spark.operators.windows import sliding_window_count


def test_epoch_aligned_sliding_windows(spark):
    # One event at 00:07 with 15min/5min windows must land in exactly 3
    # windows ending at 00:10, 00:15, 00:20 (epoch-aligned, fire-once).
    df = spark.createDataFrame(
        [(datetime(2024, 1, 1, 0, 7, 0), "k")], "ts timestamp_ntz, key string"
    )
    got = sorted(
        r["window_end_ms"]
        for r in sliding_window_count(df, ["key"]).collect()
    )
    base = 1704067200000  # 2024-01-01 00:00:00 UTC
    assert got == [base + 10 * 60000, base + 15 * 60000, base + 20 * 60000]


def test_window_boundary_inclusivity(spark):
    # Events are assigned to [start, end): an event exactly at a window end
    # belongs to the NEXT window, not the closing one.
    df = spark.createDataFrame(
        [(datetime(2024, 1, 1, 0, 10, 0), "k")], "ts timestamp_ntz, key string"
    )
    ends = sorted(
        r["window_end_ms"]
        for r in sliding_window_count(df, ["key"]).collect()
    )
    base = 1704067200000
    assert ends == [base + 15 * 60000, base + 20 * 60000, base + 25 * 60000]


def test_counts_per_key(spark):
    rows = [(datetime(2024, 1, 1, 0, 1 + i, 0), "a") for i in range(4)] + [
        (datetime(2024, 1, 1, 0, 2, 0), "b")
    ]
    df = spark.createDataFrame(rows, "ts timestamp_ntz, key string")
    out = {
        (r["key"], r["window_end_ms"]): r["cnt"]
        for r in sliding_window_count(df, ["key"]).collect()
    }
    base = 1704067200000
    assert out[("a", base + 5 * 60000)] == 4
    assert out[("b", base + 5 * 60000)] == 1
