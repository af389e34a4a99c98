"""Sessionization (batch + streaming), approx aggregates."""

import uuid
from datetime import datetime

from pyspark.sql import functions as F

from flink_training_exercises_spark.operators.sessions import (
    sessionize,
    streaming_sessionize,
)
from flink_training_exercises_spark.sources import load_table

EV = "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"


def _events(spark, rows):
    return spark.createDataFrame(rows, EV)


def test_sessionize_gap_semantics(spark):
    t = lambda m: datetime(2024, 1, 1, 0 + m // 60, m % 60, 0)  # noqa: E731
    rows = [
        (1, t(0), 7, "a", 1.00, None),
        (2, t(10), 7, "a", 2.00, None),   # same session (<=30 min gap)
        (3, t(50), 7, "a", 4.00, None),   # 40 min gap -> new session
        (4, t(5), 8, "a", 8.00, None),    # other user
    ]
    got = {
        (r["user_id"], r["session_id"]): r
        for r in sessionize(_events(spark, rows)).collect()
    }
    assert len(got) == 3
    s1 = got[(7, 1)]
    assert s1["n_events"] == 2 and s1["total_value"] == 3.0
    assert got[(7, 2)]["n_events"] == 1
    assert got[(8, 1)]["total_value"] == 8.0


def test_streaming_sessionize_matches_batch_shape(spark, sf_small):
    from flink_training_exercises_spark.streaming.sources import events_stream

    name = f"ss_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_sessionize(events_stream(spark, sf_small))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql(f"SELECT * FROM {name}")
    batch = sessionize(load_table(spark, "events", sf_small))
    # session_window closes sessions the watermark passed; every emitted
    # session must exist identically in the batch result (merge semantics
    # agree), modulo the unflushed tail
    b = {
        (r["user_id"], r["session_start_ms"], r["session_end_ms"] > r["session_start_ms"])
        for r in batch.collect()
    }
    emitted = got.collect()
    assert len(emitted) > 50
    for r in emitted:
        # streaming session_window end = last event + gap; starts must align
        assert (r["user_id"], r["session_start_ms"], True) in b or (
            r["user_id"],
            r["session_start_ms"],
            False,
        ) in b


def test_approx_count_distinct_accuracy(spark, sf_small):
    ev = load_table(spark, "events", sf_small)
    row = ev.agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id").alias("approx"),
    ).first()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05


def test_session_path_topk_hand_computed(spark):
    """Two users, known sessions: paths are ordered by event time with
    event_id tie-break, truncated at max_events, ranked (count desc,
    path asc) within path length."""
    from datetime import datetime, timedelta

    from flink_training_exercises_spark.operators.sessions import session_path_topk

    t0 = datetime(2024, 1, 1)
    m = lambda k: t0 + timedelta(minutes=k)
    rows = [
        # user 1, session 1: A>B (gap 1 min), then 40-min gap -> session 2: A>B
        (1, m(0), 1, "A", 0.0),
        (2, m(1), 1, "B", 0.0),
        (3, m(41), 1, "A", 0.0),
        (4, m(42), 1, "B", 0.0),
        # user 2, one session: A>B  (same path, third occurrence)
        (5, m(0), 2, "A", 0.0),
        (6, m(1), 2, "B", 0.0),
        # user 3, singleton session: C
        (7, m(0), 3, "C", 0.0),
        # user 4: same-timestamp pair -- event_id orders X before Y
        (8, m(0), 4, "X", 0.0),
        (9, m(0), 4, "Y", 0.0),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double",
    )
    out = session_path_topk(events, max_events=2, k=5).collect()
    by = {(r["path_len"], r["rank"]): r for r in out}
    assert by[(2, 1)]["path"] == "A>B" and by[(2, 1)]["n_sessions"] == 3
    assert by[(2, 2)]["path"] == "X>Y" and by[(2, 2)]["n_sessions"] == 1
    assert by[(1, 1)]["path"] == "C" and by[(1, 1)]["n_sessions"] == 1
    # truncation: a 3-event session contributes its first-2 path
    ev2 = events.unionAll(
        spark.createDataFrame(
            [(10, m(2), 2, "Z", 0.0)],
            "event_id long, ts timestamp_ntz, user_id long, event_type string, value double",
        )
    )
    out2 = {
        (r["path_len"], r["path"]): r["n_sessions"]
        for r in session_path_topk(ev2, max_events=2, k=5).collect()
    }
    assert out2[(2, "A>B")] == 3  # user 2's session still truncates to A>B


def test_session_gap_rule_boundary(spark):
    """The shared session rule (_with_session_ids) is STRICTLY-greater-than:
    events spaced at exactly gap_ms stay in ONE session; gap_ms + 1ms
    splits. Pinned here because sessionize AND session_path_topk both ride
    on the single helper."""
    from datetime import datetime, timedelta

    from flink_training_exercises_spark.operators.sessions import (
        session_path_topk,
        sessionize,
    )

    t0 = datetime(2024, 1, 1)
    gap = 60_000  # 1 min for the test
    mk = lambda eid, ms, et: (eid, t0 + timedelta(milliseconds=ms), 1, et, 1.0)
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
    )
    exact = spark.createDataFrame([mk(1, 0, "A"), mk(2, gap, "B")], schema)
    split = spark.createDataFrame([mk(1, 0, "A"), mk(2, gap + 1, "B")], schema)
    assert len(sessionize(exact, gap_ms=gap).collect()) == 1
    assert len(sessionize(split, gap_ms=gap).collect()) == 2
    assert [r["path"] for r in session_path_topk(exact, gap_ms=gap).collect()] == ["A>B"]
    assert sorted(
        r["path"] for r in session_path_topk(split, gap_ms=gap).collect()
    ) == ["A", "B"]


def test_concurrency_profile_hand_computed(spark):
    from flink_training_exercises_spark.operators.sessions import (
        concurrency_profile,
    )

    # gap_ms=1000: three single-event sessions -> intervals [t, t+1000).
    # user 7 at ms 0, user 8 at ms 500, user 9 at ms 5000:
    #   [0,500) lvl 1 | [500,1000) lvl 2 | [1000,1500) lvl 1 |
    #   [1500,5000) lvl 0 | [5000,6000) lvl 1
    t = lambda ms: datetime(2024, 1, 1, 0, 0, ms // 1000, (ms % 1000) * 1000)  # noqa: E731
    rows = [
        (1, t(0), 7, "a", 1.0, None),
        (2, t(500), 8, "a", 1.0, None),
        (3, t(5000), 9, "a", 1.0, None),
    ]
    got = {
        r["concurrency"]: (r["total_ms"], r["n_segments"])
        for r in concurrency_profile(_events(spark, rows), gap_ms=1000).collect()
    }
    assert got == {2: (500, 1), 1: (2000, 3), 0: (3500, 1)}


def test_concurrency_profile_conservation_and_bucket_invariance(spark, sf_small):
    # sum(total_ms) spans exactly [min boundary, max boundary), and the
    # two-phase bucketed prefix sum is invariant to the bucket size
    # (including one so small every boundary is alone in its bucket)
    from flink_training_exercises_spark.operators.sessions import (
        concurrency_profile,
    )

    ev = load_table(spark, "events", sf_small)
    base = sorted(map(tuple, concurrency_profile(ev).collect()))
    span = sum(r[1] for r in base)
    import datetime as _dt

    bounds = ev.select(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    lo = int(bounds["lo"].replace(tzinfo=_dt.timezone.utc).timestamp() * 1000)
    hi = int(bounds["hi"].replace(tzinfo=_dt.timezone.utc).timestamp() * 1000)
    # span = [first session start, last session end+gap) = [lo, hi+gap)
    assert span == (hi + 30 * 60 * 1000) - lo
    tiny = sorted(map(tuple, concurrency_profile(ev, bucket_ms=1).collect()))
    huge = sorted(
        map(tuple, concurrency_profile(ev, bucket_ms=1 << 40).collect())
    )
    assert base == tiny == huge


def test_attribution_credit_hand_computed(spark):
    """n=5 touch chain v,c,v,c,v before one purchase: first 400000, three
    middles 66666 each, last 400000 + remainder 2 -> view 866668 over 3
    touches, click 133332 over 2; credits sum to exactly 1e6."""
    from datetime import datetime, timedelta

    from flink_training_exercises_spark.operators.sessions import (
        attribution_credit,
    )

    t0 = datetime(2024, 1, 1)
    types = ["view", "click", "view", "click", "view"]
    rows = [
        (i + 1, t0 + timedelta(minutes=i), 7, types[i], 1.0, None)
        for i in range(5)
    ] + [(9, t0 + timedelta(minutes=30), 7, "purchase", 5.0, None)]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    got = {
        r["event_type"]: (r["n_touches"], r["credit_ppm"])
        for r in attribution_credit(ev).collect()
    }
    assert got == {"view": (3, 866668), "click": (2, 133332)}
    assert sum(v for _, v in got.values()) == 1_000_000


def test_attribution_credit_degenerate_counts(spark):
    """Single-touch takes the full 1e6; two-touch splits 50/50; a touch
    outside the window earns nothing."""
    from datetime import datetime, timedelta

    from flink_training_exercises_spark.operators.sessions import (
        attribution_credit,
    )

    t0 = datetime(2024, 1, 1)
    rows = [
        # user 1: one in-window view -> 1e6
        (1, t0, 1, "view", 1.0, None),
        (2, t0 + timedelta(hours=1), 1, "purchase", 5.0, None),
        # user 2: view + click -> 500000 each
        (3, t0, 2, "view", 1.0, None),
        (4, t0 + timedelta(minutes=5), 2, "click", 1.0, None),
        (5, t0 + timedelta(hours=1), 2, "purchase", 5.0, None),
        # user 3: touch 7h before purchase -> outside the 6h window
        (6, t0, 3, "click", 1.0, None),
        (7, t0 + timedelta(hours=7), 3, "purchase", 5.0, None),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    got = {
        r["event_type"]: (r["n_touches"], r["credit_ppm"])
        for r in attribution_credit(ev).collect()
    }
    assert got == {"view": (2, 1_500_000), "click": (1, 500_000)}


def test_attribution_credit_conservation(spark, sf_small):
    """Corpus-wide: total credit == 1e6 x (conversions with >= 1 touch)."""
    from pyspark.sql import functions as F

    from flink_training_exercises_spark.functions.time import epoch_ms
    from flink_training_exercises_spark.operators.sessions import (
        attribution_credit,
    )
    from flink_training_exercises_spark.sources import load_table

    ev = load_table(spark, "events", sf_small)
    total = (
        attribution_credit(ev).agg(F.sum("credit_ppm").alias("s")).first()["s"]
    )
    ms = epoch_ms("ts")
    conv = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u"), ms.alias("c_ms"), F.col("event_id").alias("c_id")
    )
    touch = ev.where(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("u"), ms.alias("t_ms")
    )
    attributed = (
        conv.join(touch, "u")
        .where(
            (F.col("t_ms") <= F.col("c_ms"))
            & (F.col("t_ms") > F.col("c_ms") - 6 * 3600 * 1000)
        )
        .select("c_id")
        .distinct()
        .count()
    )
    assert total == 1_000_000 * attributed and attributed > 0


def test_user_behavior_gini_hand_computed(spark):
    from flink_training_exercises_spark.operators.sessions import (
        user_behavior_gini,
    )

    # u1: 2 views + 2 clicks -> n=4, sumsq=8, gini = 1e6*8 // 16 = 500000
    # u2: 3 views           -> gini 0
    # u3: 1 view + 1 click + 1 purchase -> n=9... n=3, sumsq=3,
    #     gini = 1e6*6 // 9 = 666666
    rows = (
        [(1, "view")] * 2 + [(1, "click")] * 2
        + [(2, "view")] * 3
        + [(3, "view"), (3, "click"), (3, "purchase")]
    )
    ev = spark.createDataFrame(rows, "user_id long, event_type string")
    got = {
        r["user_id"]: (r["n_events"], r["n_types"], r["gini_ppm"])
        for r in user_behavior_gini(ev).collect()
    }
    assert got == {
        1: (4, 2, 500000),
        2: (3, 1, 0),
        3: (3, 3, 666666),
    }


def test_user_behavior_gini_bounds(spark, sf_small):
    """0 <= gini < 1e6, single-type users are exactly 0, and the uniform
    bound gini <= 1e6 * (1 - 1/k) holds per user."""
    from flink_training_exercises_spark.operators.sessions import (
        user_behavior_gini,
    )
    from flink_training_exercises_spark.sources import load_table

    rows = user_behavior_gini(load_table(spark, "events", sf_small)).collect()
    assert rows
    for r in rows:
        assert 0 <= r["gini_ppm"] < 1000000
        if r["n_types"] == 1:
            assert r["gini_ppm"] == 0
        assert r["gini_ppm"] <= 1000000 * (r["n_types"] - 1) // r["n_types"]


def test_session_cooccurrence_lift_hand_computed(spark):
    from datetime import datetime

    from flink_training_exercises_spark.operators.sessions import (
        session_cooccurrence_lift,
    )

    mk = datetime
    rows = [
        # user 1, one session: view + click + view -> basket {view, click}
        (1, 1, mk(2024, 1, 1, 10, 0, 0), "view"),
        (2, 1, mk(2024, 1, 1, 10, 5, 0), "click"),
        (3, 1, mk(2024, 1, 1, 10, 10, 0), "view"),
        # user 2, session A: {view}; session B after a >30min gap: {click}
        (4, 2, mk(2024, 1, 1, 9, 0, 0), "view"),
        (5, 2, mk(2024, 1, 1, 11, 0, 0), "click"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, event_type string"
    )
    got = {
        (r["type_a"], r["type_b"]): (
            r["n_both"], r["n_a"], r["n_b"], r["lift_ppm"]
        )
        for r in session_cooccurrence_lift(ev).collect()
    }
    # 3 baskets; view in 2, click in 2; co-present in 1
    # lift = 1e6 * 1 * 3 // (2 * 2) = 750000
    assert got == {("click", "view"): (1, 2, 2, 750000)}


def test_session_cooccurrence_lift_contracts(spark, sf_small):
    """n_both <= min(n_a, n_b); canonical pair order; lift consistent
    with the count columns by exact recomputation."""
    from flink_training_exercises_spark.operators.sessions import (
        session_cooccurrence_lift,
        sessionize,
    )
    from flink_training_exercises_spark.sources import load_table

    ev = load_table(spark, "events", sf_small)
    rows = session_cooccurrence_lift(ev).collect()
    assert rows
    n_sessions = sessionize(ev).count()
    for r in rows:
        assert r["type_a"] < r["type_b"]
        assert 1 <= r["n_both"] <= min(r["n_a"], r["n_b"])
        assert r["lift_ppm"] == (1000000 * r["n_both"] * n_sessions) // (
            r["n_a"] * r["n_b"]
        )


# Each operator's catalog entry equals its DuckDB twin under compare(); the
# run is the one tests/test_catalog.py shares through conftest's CatalogRuns.


def test_concurrency_profile_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("session_concurrency_profile") == []


def test_attribution_credit_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("attribution_credit") == []


def test_user_behavior_gini_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("user_behavior_gini") == []


def test_session_cooccurrence_lift_matches_duckdb_twin(catalog_runs):
    assert catalog_runs.problems("session_cooccurrence_lift") == []
