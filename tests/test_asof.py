"""As-of join semantics: <= matching, tie policy, no-match NULLs."""

from datetime import datetime

from flink_training_exercises_spark.operators.asof import asof_join


def _df(spark, rows):
    return spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, event_id long")


def test_asof_basic_and_edges(spark):
    t = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = _df(spark, [
        (1, t(10), 100),   # after clicks 1 and 2 -> latest (id 2)
        (1, t(4), 101),    # between click 1 and 2 -> click 1
        (1, t(1), 102),    # before any click -> NULL
        (2, t(30), 103),   # other user, no clicks at all -> NULL
        (1, t(5), 104),    # exactly at click 2's ts -> <= matches click 2
    ])
    right = _df(spark, [
        (1, t(2), 1),
        (1, t(5), 2),
        (1, t(5), 3),      # tie at t=5: highest id wins
    ])
    out = {
        r["event_id"]: (r["matched_id"], r["match_gap_ms"])
        for r in asof_join(left, right).collect()
    }
    assert out[100] == (3, 5000)   # latest click, tie resolved to id 3
    assert out[101] == (1, 2000)
    assert out[102] == (None, None)
    assert out[103] == (None, None)
    assert out[104] == (3, 0)      # <= semantics: same-instant click matches
    assert len(out) == 5           # every left row exactly once (left join)
