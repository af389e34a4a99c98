"""Streaming semantics: stream/batch parity, fire-once windows, late-data
dropping at the watermark, checkpoint-resume (S2), stateful streaming (W5),
and the replay differential: every streaming catalog entry, fed its source
as chronological micro-batches, equals its oracle."""

import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from flink_training_exercises_spark.operators.stateful import travel_time_window
from flink_training_exercises_spark.operators.timeseries import rolling_zscore_anomalies
from flink_training_exercises_spark.operators.windows import popular_places
from flink_training_exercises_spark.plans.catalog import CATALOG, release_query_state
from flink_training_exercises_spark.plans.differential import compare
from flink_training_exercises_spark.plans.rides import rides_of, rides_view
from flink_training_exercises_spark.scratch import scratch_root
from flink_training_exercises_spark.sources import load_table
from flink_training_exercises_spark.streaming.queries import (
    drain_availablenow,
    streaming_popular_places,
    streaming_ride_cleansing,
)
from flink_training_exercises_spark.streaming.sources import (
    STREAM_SCHEMAS,
    events_stream,
    replay_to_files,
)
from flink_training_exercises_spark.streaming.stateful import (
    streaming_travel_time,
    streaming_zscore,
)

_EVENTS_SCHEMA = STREAM_SCHEMAS["events"]


def _chunked_stream(spark, chunk_dir, schema=_EVENTS_SCHEMA):
    """The replay chunks in ``chunk_dir`` as a stream, one file per
    micro-batch."""
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(chunk_dir)


def _arrive(chunks, live):
    """Copy replay chunks into the live source dir; copy2 keeps their
    increasing mtimes, so the file source still reads them in order."""
    for c in chunks:
        shutil.copy2(c, os.path.join(live, os.path.basename(c)))


def _with_own_scratch(run):
    """``run()`` with mkscratch pointed at an empty scratch root of its
    own, so other processes sharing the scratch root cannot show up;
    returns its result and the ``fte_*`` entries it left there."""
    root = tempfile.mkdtemp(prefix="own_scratch_", dir=scratch_root())
    try:
        with pytest.MonkeyPatch.context() as mp:
            mp.setenv("SPARK_GRAFT_SCRATCH", root)
            out = run()
        return out, {e for e in os.listdir(root) if e.startswith("fte_")}
    finally:
        shutil.rmtree(root, ignore_errors=True)


# The column each source's replay chunks are chronological in.
_REPLAY_ORDER = {"events": "ts", "documents": "doc_id", "rides": "ts"}


def _source_table(spark, source, sf_dir):
    """The batch table a replay of ``source`` stages."""
    return rides_view(spark, sf_dir) if source == "rides" else load_table(spark, source, sf_dir)


class ReplayRuns:
    """Each streaming catalog entry run at most once per session on its
    source table replayed as 4 chronological chunks, one per micro-batch
    (chunks staged once per source). The differential below and the
    entry-specific invariants read the same run."""

    def __init__(self, catalog_runs, root):
        self.catalog_runs, self.root = catalog_runs, root
        self._chunks, self._runs = {}, {}
        self.leaked = {}  # entry -> fte_* scratch entries its run left behind

    def stream(self, source):
        if source not in self._chunks:
            runs = self.catalog_runs
            d = os.path.join(self.root, source)
            table = _source_table(runs.spark, source, runs.sf_dir)
            replay_to_files(table, _REPLAY_ORDER[source], d, n_chunks=4)
            self._chunks[source] = d
        return _chunked_stream(self.catalog_runs.spark, self._chunks[source], STREAM_SCHEMAS[source])

    def query(self, name):
        if name not in self._runs:
            spec, runs = CATALOG[name], self.catalog_runs
            stream = self.stream(spec.source)
            try:
                self._runs[name], self.leaked[name] = _with_own_scratch(
                    lambda: spec.spark.__wrapped__(stream, runs.sf_dir).toPandas()
                )
            finally:
                release_query_state(runs.spark)
        return self._runs[name]

    def problems(self, name):
        """compare()'s problems for the replayed entry against its oracle."""
        return compare(name, self.query(name), self.catalog_runs.oracle(name))


@pytest.fixture(scope="session")
def replay_runs(catalog_runs, tmp_path_factory):
    return ReplayRuns(catalog_runs, str(tmp_path_factory.mktemp("replay")))


REPLAYED = sorted(n for n, spec in CATALOG.items() if spec.source)


@pytest.mark.parametrize("name", REPLAYED)
def test_streaming_query_replays_to_oracle(replay_runs, name):
    """Chunked == single-batch for every streaming entry that declares a
    source: fed 4 chronological micro-batches instead of one, with the
    watermark advancing between them, it still equals its oracle (which
    its single-batch drain equals in test_catalog), and its drain leaves
    no scratch directory behind."""
    assert replay_runs.problems(name) == []
    assert replay_runs.leaked[name] == set()


def test_stream_batch_ts_parity(spark, sf_small):
    """events_stream must yield the SAME instants as the batch loader --
    min/max/dtype of ts all equal. Guards the round-2 unit bug where a
    `ts LONG` stream schema surfaced raw parquet micros and a nanos-assuming
    div 1000 put every event in 1970 (VERDICT r2 #1)."""
    import uuid as _uuid

    from flink_training_exercises_spark.sources import load_table

    name = f"ts_parity_{_uuid.uuid4().hex[:8]}"
    got = drain_availablenow(events_stream(spark, sf_small).select("ts"), name)
    assert dict(got.dtypes)["ts"] == "timestamp_ntz"
    s_min, s_max = got.agg(F.min("ts"), F.max("ts")).first()
    b_min, b_max = (
        load_table(spark, "events", sf_small).agg(F.min("ts"), F.max("ts")).first()
    )
    assert (s_min, s_max) == (b_min, b_max)


def test_stream_batch_parity_popular_places(spark, sf_small):
    """Append-mode streaming windows == batch windows, for every window the
    watermark closed before end-of-stream (the tail within the watermark
    horizon is unflushed by design -- Flink would equally still be waiting)."""
    name = f"pp_{uuid.uuid4().hex[:8]}"
    stream = streaming_popular_places(
        rides_of(events_stream(spark, sf_small)), watermark="60 seconds",
        window="1 day", slide="6 hours", threshold=2,
    )
    got = drain_availablenow(stream, name)
    batch = popular_places(
        rides_view(spark, sf_small), window="1 day", slide="6 hours", threshold=2
    )
    max_ms = rides_view(spark, sf_small).select(
        F.max(F.timestamp_diff("MILLISECOND", F.expr("TIMESTAMP_NTZ '1970-01-01'"), F.col("ts")))
    ).first()[0]
    horizon = max_ms - 60_000
    s = {tuple(r) for r in got.where(F.col("window_end_ms") <= horizon).collect()}
    b = {tuple(r) for r in batch.where(F.col("window_end_ms") <= horizon).collect()}
    assert len(b) > 10
    assert s == b


def test_run_availablenow_is_exact_horizon_cut(spark, sf_small):
    """The drained stream is EXACTLY the batch result cut at the final
    watermark: nothing extra (no window emitted early / twice), nothing
    missing below the horizon -- the fire-once contract the oracle checks."""
    name = f"ppgate_{uuid.uuid4().hex[:8]}"
    got = drain_availablenow(
        streaming_popular_places(
            rides_of(events_stream(spark, sf_small)),
            window="1 day", slide="6 hours", threshold=2,
        ),
        name,
    )
    batch = popular_places(
        rides_view(spark, sf_small), window="1 day", slide="6 hours", threshold=2
    )
    from flink_training_exercises_spark.functions import geo

    # the watermark advances on the POST-NYC-filter stream, so the horizon
    # is the max ts among NYC rides, not all rides
    max_ms = rides_view(spark, sf_small).where(
        geo.is_in_nyc("start_lon", "start_lat") & geo.is_in_nyc("end_lon", "end_lat")
    ).select(
        F.max(F.timestamp_diff("MILLISECOND", F.expr("TIMESTAMP_NTZ '1970-01-01'"), F.col("ts")))
    ).first()[0]
    s = {tuple(r) for r in got.collect()}  # unfiltered: gate shape
    b = {
        tuple(r)
        for r in batch.where(F.col("window_end_ms") <= max_ms - 60_000).collect()
    }
    assert len(b) > 10
    assert s == b


def test_streaming_ride_cleansing_stateless_parity(spark, sf_small):
    name = f"rc_{uuid.uuid4().hex[:8]}"
    got = drain_availablenow(streaming_ride_cleansing(rides_of(events_stream(spark, sf_small))), name)
    batch_n = streaming_ride_cleansing(rides_view(spark, sf_small)).count()
    assert got.count() == batch_n > 0


def test_late_rows_dropped_at_watermark(spark, tmp_path):
    """W7: a row older than the watermark when its micro-batch arrives is
    dropped from the aggregation (sequential file replay forces watermark
    advancement between batches)."""
    from datetime import datetime

    # plain TIMESTAMP here: withWatermark requires it (tests run UTC).
    # NOTE the operative watermark lags one micro-batch (it's recomputed
    # after each batch), so the late row must arrive >= 2 batches after the
    # rows that advanced event time -- same as Flink's periodic watermarks,
    # which also trail the stream (TaxiRideSource.java:205-213).
    mk = lambda rows: spark.createDataFrame(rows, "id long, ts timestamp")  # noqa: E731
    d = str(tmp_path / "replay")
    replay_to_files(mk([(i, datetime(2024, 1, 1, 10, 0, i)) for i in range(10)]), "ts", d, 1)
    replay_to_files(mk([(50, datetime(2024, 1, 1, 10, 5, 0))]), "ts", d, 1, start_index=1)
    # late row: 9:00:30, watermark is now 10:04:00 -> must be dropped
    replay_to_files(mk([(100, datetime(2024, 1, 1, 9, 0, 30))]), "ts", d, 1, start_index=2)
    # flush chunk pushes the watermark past 10:10 so closed windows emit
    replay_to_files(mk([(999, datetime(2024, 1, 1, 11, 30, 0))]), "ts", d, 1, start_index=3)

    stream = (
        spark.readStream.schema("id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .withWatermark("ts", "60 seconds")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.end").cast("string").alias("we"), "cnt")
    )
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {r["we"]: r["cnt"] for r in spark.sql(f"SELECT * FROM {name}").collect()}
    # 10 on-time rows + the 10:05 row; the late 9:00:30 row is dropped, so
    # its window never materializes
    assert got.get("2024-01-01 10:10:00") == 11
    assert got.get("2024-01-01 09:10:00") is None


def test_checkpoint_resume_no_duplicates(spark, tmp_path):
    """S2: restarting from a checkpoint skips already-emitted input (the
    WAL replaces the reference's manual emitted-count snapshot)."""
    from datetime import datetime

    d = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out1 = [(i, datetime(2024, 1, 1, 0, 0, i)) for i in range(5)]
    replay_to_files(
        spark.createDataFrame(out1, "id long, ts timestamp"), "ts", d, n_chunks=1
    )
    out = str(tmp_path / "out")
    src = lambda: spark.readStream.schema("id long, ts timestamp").parquet(d)  # noqa: E731
    # memory sinks can't recover from a checkpoint; a file sink can (and its
    # commit log gives exactly-once output -- stronger than S2's source-only
    # snapshot)
    run = lambda: (  # noqa: E731
        src()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(300)
    )
    run()
    assert spark.read.parquet(out).count() == 5

    replay_to_files(
        spark.createDataFrame(
            [(i, datetime(2024, 1, 1, 0, 1, i)) for i in range(3)], "id long, ts timestamp"
        ),
        "ts",
        d,
        n_chunks=1,
        start_index=1,
    )
    run()
    ids = sorted(r["id"] for r in spark.read.parquet(out).collect())
    # 5 original + 3 new, each exactly once -- the restart consumed only c1
    assert ids == [0, 0, 1, 1, 2, 2, 3, 4]


def test_streaming_stateful_travel_time_matches_batch(spark, sf_small):
    """W5 streaming (applyInPandasWithState) == batch window form when the
    full history arrives chronologically."""
    name = f"tt_{uuid.uuid4().hex[:8]}"
    got = drain_availablenow(streaming_travel_time(rides_of(events_stream(spark, sf_small))), name)
    s = {(r["ride_id"], r["predicted_minutes"]) for r in got.collect()}
    b = {
        (r["ride_id"], r["predicted_minutes"])
        for r in travel_time_window(rides_view(spark, sf_small)).collect()
    }
    assert s == b
    assert len(s) > 100


def test_streaming_exact_dedup(spark, sf_small):
    """Streaming dedup: one survivor per key, watermark-bounded state."""
    from flink_training_exercises_spark.streaming.queries import streaming_exact_dedup
    from flink_training_exercises_spark.streaming.sources import events_stream

    name = f"dd_{uuid.uuid4().hex[:8]}"
    got = drain_availablenow(
        streaming_exact_dedup(events_stream(spark, sf_small)),
        name,
    )
    rows = got.collect()
    keys = {(r["user_id"], r["event_type"]) for r in rows}
    assert len(rows) == len(keys)  # exactly one survivor per key
    from flink_training_exercises_spark.sources import load_table

    batch_keys = {
        (r["user_id"], r["event_type"])
        for r in load_table(spark, "events", sf_small)
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert keys == batch_keys  # every key represented


def test_streaming_distinct_users_matches_batch(spark, sf_small):
    """dedup->windowed-count stateful chain == batch COUNT(DISTINCT) cut at
    the final watermark."""
    import uuid as _uuid

    from flink_training_exercises_spark.sources import load_table
    from flink_training_exercises_spark.streaming.queries import streaming_distinct_users

    name = f"sdu_{_uuid.uuid4().hex[:8]}"
    got = {
        (r["window_end_ms"], r["event_type"]): r["distinct_users"]
        for r in drain_availablenow(streaming_distinct_users(events_stream(spark, sf_small)), name).collect()
    }
    ev = load_table(spark, "events", sf_small).select(
        F.unix_millis(F.date_trunc("hour", "ts").cast("timestamp")).alias("hour_ms"),
        "event_type",
        "user_id",
    )
    # TZ-independence note: cast-to-LTZ here is test-only convenience; the
    # session fixture pins UTC. The engine path under test avoids it.
    horizon = ev.agg(F.max("hour_ms")).first()[0] - 60000
    expect = {
        ((r["hour_ms"] + 3600000), r["event_type"]): r["n"]
        for r in ev.groupBy("hour_ms", "event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
        if r["hour_ms"] + 3600000 <= horizon
    }
    assert got == expect and len(got) > 0


def test_streaming_interval_join_matches_batch(spark, sf_small):
    """Stream-stream interval join (availableNow drain) == batch interval
    join: inner-join rows emit on match, no horizon cut."""
    import uuid as _uuid

    from flink_training_exercises_spark.sources import load_table
    from flink_training_exercises_spark.streaming.queries import streaming_interval_join

    name = f"sij_{_uuid.uuid4().hex[:8]}"
    got = {
        (r["purchase_id"], r["click_id"])
        for r in drain_availablenow(
            streaming_interval_join(
                events_stream(spark, sf_small).where(F.col("event_type") == "click"),
                events_stream(spark, sf_small).where(F.col("event_type") == "purchase"),
            ),
            name,
        ).collect()
    }
    ev = load_table(spark, "events", sf_small)
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("cu"), F.col("ts").alias("tc")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("pu"), F.col("ts").alias("tp")
    )
    expect = {
        (r["purchase_id"], r["click_id"])
        for r in p.join(
            c,
            (F.col("pu") == F.col("cu"))
            & (F.col("tc") <= F.col("tp"))
            & (F.col("tc") >= F.col("tp") - F.expr("INTERVAL 21600000 MILLISECONDS")),
        ).collect()
    }
    assert got == expect and len(got) > 0


def test_sessionize_emissions_invariant_under_chunked_replay(replay_runs):
    """The emitted session set is IDENTICAL when the events arrive as 4
    chronological micro-batches with the watermark advancing between them
    -- emission-set invariance under micro-batch partitioning, the
    property that makes the single-batch oracle valid for a real
    incremental stream."""
    assert replay_runs.problems("streaming_sessionize") == []
    assert len(replay_runs.query("streaming_sessionize")) > 100


def test_streaming_cdc_merge_chunked(replay_runs, catalog_runs):
    """Batch-boundary invariance of the foreachBatch MERGE: folding the
    change stream in 4 chronological micro-batches must land on exactly
    the one-shot batch LWW state -- including deletes applied across
    batch boundaries (tombstones in state)."""
    assert replay_runs.problems("streaming_cdc_merge") == []
    # deletes must actually occur in the final window for the tombstone
    # path to be exercised
    (n_deleted,) = catalog_runs.duck.execute(
        """SELECT count(*) FROM (
             SELECT event_type, row_number() OVER (
               PARTITION BY user_id ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rk
             FROM events)
           WHERE rk = 1 AND event_type = 'error'"""
    ).fetchone()
    assert n_deleted > 0


def test_streaming_cdc_merge_checkpoint_resume(spark, sf_small, tmp_path, catalog_runs):
    """W6 for the foreachBatch MERGE: drain the first half of the change
    stream, 'crash' (query ends), then resume with the SAME checkpoint and
    state dirs after the second half arrives -- the WAL skips committed
    batches, new ones fold onto the standing parquet state (tombstones
    included), and the final state equals the one-shot batch LWW."""
    from flink_training_exercises_spark.functions.time import epoch_ms
    from flink_training_exercises_spark.streaming.queries import (
        run_cdc_merge_availablenow,
    )

    ev = load_table(spark, "events", sf_small)
    chunks = replay_to_files(ev, "ts", str(tmp_path / "staged"), n_chunks=4)
    live = str(tmp_path / "live")
    os.makedirs(live)
    root = str(tmp_path / "fold")

    def drain(tag):
        changes = _chunked_stream(spark, live).select(
            "user_id",
            "event_type",
            "value",
            epoch_ms("ts").alias("state_ms"),
            "event_id",
            (F.col("event_type") == "error").alias("is_delete"),
        )
        return run_cdc_merge_availablenow(
            changes, ["user_id"], ["state_ms", "event_id"], f"cdc_resume_{tag}", root=root
        )

    # run 1: only the first two chunks exist; drains and terminates
    _arrive(chunks[:2], live)
    assert drain("a").count() > 0
    # the rest of the stream arrives; resume from the same checkpoint
    _arrive(chunks[2:], live)
    got = drain("b").toPandas()
    assert compare("streaming_cdc_merge", got, catalog_runs.oracle("streaming_cdc_merge")) == []


def test_cdc_merge_keeps_keys_only_in_first_batch(spark, sf_small, tmp_path):
    """Standing state must carry keys the later batches never touch. In
    the test data every user has events in every replay chunk, so a fold
    that dropped its state would still match there; here one extra user
    has a single change, in the first chunk only, and the drained merge
    must keep it and equal the one-shot batch merge_latest."""
    from flink_training_exercises_spark.functions.time import epoch_ms
    from flink_training_exercises_spark.operators.cdc import merge_latest
    from flink_training_exercises_spark.streaming.queries import (
        run_cdc_merge_availablenow,
    )

    ev = load_table(spark, "events", sf_small)
    lone_user = ev.agg(F.max("user_id")).first()[0] + 1
    first = (
        ev.orderBy("ts", "event_id")
        .limit(1)
        .withColumn("user_id", F.lit(lone_user).cast("long"))
        .withColumn("event_id", F.col("event_id") + 10**9)
        .withColumn("event_type", F.lit("view"))
    )
    chunks = replay_to_files(ev.unionByName(first), "ts", str(tmp_path / "staged"), n_chunks=4)
    lone_rows = [spark.read.parquet(c).where(F.col("user_id") == lone_user).count() for c in chunks]
    assert lone_rows == [1, 0, 0, 0]
    live = str(tmp_path / "live")
    os.makedirs(live)
    _arrive(chunks, live)

    def changes(df):
        return df.select(
            "user_id",
            "event_type",
            "value",
            epoch_ms("ts").alias("state_ms"),
            "event_id",
            (F.col("event_type") == "error").alias("is_delete"),
        )

    keys, seq = ["user_id"], ["state_ms", "event_id"]
    got = run_cdc_merge_availablenow(
        changes(_chunked_stream(spark, live)), keys, seq, "cdc_lone_key", root=str(tmp_path / "fold")
    ).toPandas()
    batch = changes(spark.read.schema(_EVENTS_SCHEMA).parquet(*chunks))
    want = (
        merge_latest(batch.limit(0), batch, keys, seq)
        .where(~F.col("is_delete"))
        .drop("is_delete")
        .toPandas()
    )
    assert lone_user in set(got["user_id"])
    assert compare("streaming_cdc_merge", got, want) == []


def test_cdc_merge_empty_source_returns_empty_batch_df(spark, tmp_path):
    """Zero micro-batches (empty source dir): no state table is ever
    written -- the runner must return an empty batch DataFrame with the
    change schema minus the delete marker, not raise path-not-found
    (ADVICE r4)."""
    from flink_training_exercises_spark.streaming.queries import (
        run_cdc_merge_availablenow,
    )

    src_dir = str(tmp_path / "empty_src")
    os.makedirs(src_dir)
    changes = (
        spark.readStream.schema("user_id long, state_ms long, is_delete boolean")
        .parquet(src_dir)
    )
    out = run_cdc_merge_availablenow(
        changes,
        keys=["user_id"],
        seq_cols=["state_ms"],
        query_name="cdc_empty_gate_test",
        root=str(tmp_path / "fold"),
    )
    assert out.columns == ["user_id", "state_ms"]
    assert out.count() == 0


@pytest.mark.parametrize("runner", ["cdc", "rollup", "scd2"])
def test_fold_runner_empty_first_batch_matches_batch(
    spark, sf_small, tmp_path, catalog_runs, runner
):
    """A stream whose first file has 0 rows, followed by 3 chronological
    chunks: the first micro-batch folds nothing, and each foreachBatch fold
    entry must still land on its oracle. The drain made its own scratch
    root, so none may be left behind."""
    import time

    name = {
        "cdc": "streaming_cdc_merge",
        "rollup": "streaming_incremental_rollup",
        "scd2": "streaming_scd2_maintenance",
    }[runner]
    ev = load_table(spark, "events", sf_small)
    empty = str(tmp_path / "empty")
    ev.limit(0).coalesce(1).write.parquet(empty)
    d = str(tmp_path / "chunks")
    os.makedirs(d)
    first = os.path.join(d, "chunk-0000.parquet")
    part = [f for f in os.listdir(empty) if f.endswith(".parquet")]
    assert len(part) == 1
    shutil.move(os.path.join(empty, part[0]), first)
    # the file source replays in mtime order: the empty file goes first
    mt = time.time() - 60
    os.utime(first, (mt, mt))
    replay_to_files(ev, "ts", d, n_chunks=3, start_index=1)

    got, leaked = _with_own_scratch(
        lambda: CATALOG[name].spark.__wrapped__(_chunked_stream(spark, d), sf_small).toPandas()
    )
    assert compare(name, got, catalog_runs.oracle(name)) == []
    assert leaked == set()


def test_fold_availablenow_resume_and_replay_fold_each_batch_once(
    spark, sf_small, tmp_path
):
    """Restart and replay for the fold protocol (an additive per-user
    count, which a re-folded batch would double): drain 2 of 4 chunks,
    add the rest and resume on the same root, then delete the newest
    commit-log entry so Spark re-runs that batch. Every result must equal
    the one-shot count over the chunks present."""
    from flink_training_exercises_spark.streaming.queries import fold_availablenow

    ev = load_table(spark, "events", sf_small)
    staged = str(tmp_path / "staged")
    chunks = replay_to_files(ev, "ts", staged, n_chunks=4)
    live = str(tmp_path / "live")
    os.makedirs(live)
    root = str(tmp_path / "fold")

    def fold(state, batch):
        counts = batch.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        if state is None:
            return counts
        return state.unionByName(counts).groupBy("user_id").agg(F.sum("n").alias("n"))

    def drain(tag):
        out = fold_availablenow(_chunked_stream(spark, live), fold, f"fold_replay_{tag}", root)
        return {tuple(r) for r in out.collect()}

    def one_shot(paths):
        batch = spark.read.schema(_EVENTS_SCHEMA).parquet(*paths)
        return {
            tuple(r)
            for r in batch.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
        }

    _arrive(chunks[:2], live)
    assert drain("a") == one_shot(chunks[:2])
    _arrive(chunks[2:], live)
    assert drain("b") == one_shot(chunks)
    commits = os.path.join(root, "ck", "commits")
    newest = max(int(f) for f in os.listdir(commits) if f.isdigit())
    assert newest == 3
    for f in (str(newest), f".{newest}.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))
    assert drain("c") == one_shot(chunks)


def test_streaming_zscore_invariant_under_chunked_replay(replay_runs):
    """The gated streaming z-score drains a single-file source in one
    micro-batch; this pins that per-key ValueState carries the trailing
    window ACROSS micro-batches: the same events arriving as 4
    chronological chunks must emit exactly the batch operator's rows."""
    assert replay_runs.problems("streaming_anomaly_zscore") == []
    assert len(replay_runs.query("streaming_anomaly_zscore")) > 500


# Each Python keyed-state operator: (stream function, source table, the
# batch operator its emissions equal, the fewest rows that batch must have).
_KEYED_STATE = {
    "zscore": (
        streaming_zscore,
        "events",
        lambda spark, sf_dir: rolling_zscore_anomalies(load_table(spark, "events", sf_dir)),
        500,
    ),
    "travel_time": (
        streaming_travel_time,
        "rides",
        lambda spark, sf_dir: travel_time_window(rides_view(spark, sf_dir)),
        100,
    ),
}


@pytest.mark.parametrize("op", sorted(_KEYED_STATE))
def test_keyed_state_invariant_under_tiny_arrow_chunks(spark, sf_small, tmp_path, op):
    """A key group's micro-batch rows arriving in reverse time order as
    MANY Arrow chunks (tiny maxRecordsPerBatch) must not change the
    emissions: the handler concatenates the chunks before the fold's
    single sort, so they still equal the batch operator exactly."""
    fn, source, batch, min_rows = _KEYED_STATE[op]
    reversed_dir = str(tmp_path / "reversed")
    (
        _source_table(spark, source, sf_small)
        .repartition(1)
        .sortWithinPartitions(F.col(_REPLAY_ORDER[source]).desc())
        .write.parquet(reversed_dir)
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "7")
    try:
        stream = fn(_chunked_stream(spark, reversed_dir, STREAM_SCHEMAS[source]))
        name = f"tiny_{op}_{uuid.uuid4().hex[:8]}"
        got = {tuple(r) for r in drain_availablenow(stream, name).collect()}
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    want = {tuple(r) for r in batch(spark, sf_small).collect()}
    assert len(want) > min_rows
    assert got == want


@pytest.mark.parametrize("op", sorted(_KEYED_STATE))
def test_keyed_state_checkpoint_resume(spark, sf_small, tmp_path, op):
    """W6 for the Python keyed state: drain the first half of the replay to
    a checkpointed file sink, 'crash', then resume with the SAME checkpoint
    after the rest arrives -- the state store restores every key group's
    dict (each user's trailing-cents tail, each cell's regression stats),
    so the union of emissions equals the batch operator exactly once (no
    gaps, no duplicates)."""
    fn, source, batch, _ = _KEYED_STATE[op]
    table = _source_table(spark, source, sf_small)
    chunks = replay_to_files(table, _REPLAY_ORDER[source], str(tmp_path / "staged"), n_chunks=4)
    live = str(tmp_path / "live")
    os.makedirs(live)

    sink = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")

    def drain_once():
        q = (
            fn(_chunked_stream(spark, live, STREAM_SCHEMAS[source]))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    want = sorted(tuple(r) for r in batch(spark, sf_small).collect())
    _arrive(chunks[:2], live)
    drain_once()
    n_partial = spark.read.parquet(sink).count()
    assert 0 < n_partial < len(want)
    _arrive(chunks[2:], live)
    drain_once()

    got = sorted(tuple(r) for r in spark.read.parquet(sink).collect())
    assert got == want  # exactly-once AND state continuity across the crash


def test_streaming_pit_enrichment_matches_batch(spark, sf_small):
    """Stream-static POINT-IN-TIME enrichment: the purchase stream joined
    to the batch-built SCD2 version dimension on user_id PLUS the half-open
    interval residual. Stateless inner stream-static join => the availableNow
    drain must equal the batch scd2_point_in_time_join catalog query
    row-for-row (including boundary and zero-width-version semantics)."""
    from flink_training_exercises_spark.streaming.queries import (
        run_pit_enrichment_availablenow,
    )

    got = {
        tuple(r)
        for r in run_pit_enrichment_availablenow(
            events_stream(spark, sf_small), sf_small, f"pit_enrich_{uuid.uuid4().hex[:8]}"
        ).collect()
    }
    expected = {
        tuple(r)
        for r in CATALOG["scd2_point_in_time_join"].spark(spark, sf_small).collect()
    }
    assert got == expected and expected


def test_streaming_snapshot_diff_chunked_matches_batch(replay_runs):
    """Batch-boundary invariance of the incremental snapshot diff: snapshot
    B arriving in 4 chunks must classify to exactly the one-shot batch
    full-outer diff -- added/changed/unchanged drained per batch, removed
    computed once against the drained key set."""
    assert replay_runs.problems("streaming_snapshot_diff") == []
    # all three classes must occur for the test to mean anything
    statuses = set(replay_runs.query("streaming_snapshot_diff")["status"])
    assert statuses == {"added", "removed", "changed"}


def test_streaming_pit_enrichment_chunked_matches_batch(replay_runs):
    """Chunked-replay invariance for the stream-static PIT join: stateless
    inner stream-static joins emit per micro-batch with no watermark
    state, so batch boundaries cannot change the result."""
    assert replay_runs.problems("streaming_pit_enrichment") == []


def test_streaming_rollup_chunked_matches_batch(replay_runs):
    """Batch-boundary invariance of the incremental rollup: folding 4
    chronological chunks of partial aggregates must land on exactly the
    one-shot batch aggregate -- count/sum add, max maxes, per key."""
    assert replay_runs.problems("streaming_incremental_rollup") == []


def test_streaming_windowed_topk_matches_batch(spark, sf_small):
    """STAGED-FOR-ROUND-7 windowed heavy hitters: the drained streaming
    windowed counts, ranked by the batch top-k stage, must equal the batch
    windowed counts cut at the final watermark and ranked the same."""
    from flink_training_exercises_spark.functions.time import epoch_ms
    from flink_training_exercises_spark.sources import load_table
    from flink_training_exercises_spark.streaming.queries import (
        drain_availablenow,
        rank_topk_per_window,
        streaming_windowed_topk,
    )

    name = f"wtopk_{uuid.uuid4().hex[:8]}"
    drained = drain_availablenow(
        streaming_windowed_topk(events_stream(spark, sf_small)), name
    )
    got = {tuple(r) for r in rank_topk_per_window(drained).collect()}

    ev = load_table(spark, "events", sf_small)
    win_ms = 6 * 3600 * 1000
    em = epoch_ms("ts")
    max_ms = ev.agg(F.max(em)).first()[0]
    counts = (
        ev.select((em - em % win_ms + win_ms).alias("window_end_ms"), "event_type")
        .groupBy("window_end_ms", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("window_end_ms") <= max_ms - 60000)
    )
    want = {tuple(r) for r in rank_topk_per_window(counts).collect()}
    assert got == want and got


def test_streaming_windowed_hll_matches_batch(spark, sf_small):
    """STAGED (round-8 backlog) windowed HLL: the drained streaming
    register maxes, folded by the batch estimate stage, must equal the
    batch-computed registers cut at the final watermark and folded the
    same. Registers are exact integers, so the parity is hash-exact; the
    estimate column is the shared single-literal float fold. (No accuracy
    asserts: the raw estimator biases low near n ~ m by design --
    CLAUDE.md round-4 note.)"""
    from flink_training_exercises_spark.functions.hashing import md5_long
    from flink_training_exercises_spark.functions.time import epoch_ms
    from flink_training_exercises_spark.operators.sketches import (
        _HLL_RHO_CAP,
        _HLL_W,
        HLL_M,
    )
    from flink_training_exercises_spark.sources import load_table
    from flink_training_exercises_spark.streaming.queries import (
        drain_availablenow,
        hll_estimate_per_window,
        streaming_windowed_hll,
    )

    name = f"whll_{uuid.uuid4().hex[:8]}"
    drained = drain_availablenow(
        streaming_windowed_hll(events_stream(spark, sf_small)), name
    )
    got_regs = {tuple(r) for r in drained.collect()}
    got = {tuple(r) for r in hll_estimate_per_window(drained).collect()}

    ev = load_table(spark, "events", sf_small)
    win_ms = 6 * 3600 * 1000
    em = epoch_ms("ts")
    h = md5_long(F.col("user_id").cast("string"))
    keyed = ev.select(
        (em - em % win_ms + win_ms).alias("window_end_ms"),
        (h % HLL_M).alias("bucket"),
        h.alias("_h"),
    ).select(
        "window_end_ms",
        "bucket",
        F.expr(f"(_h div {HLL_M}) % {1 << _HLL_W}").alias("w32"),
    )
    rho = F.when(F.col("w32") == 0, F.lit(_HLL_RHO_CAP)).otherwise(
        F.lit(_HLL_RHO_CAP) - F.length(F.bin(F.col("w32")))
    )
    max_ms = ev.agg(F.max(em)).first()[0]
    want_regs_df = (
        keyed.select("window_end_ms", "bucket", rho.alias("rho"))
        .groupBy("window_end_ms", "bucket")
        .agg(F.max("rho").alias("m_j"))
        .where(F.col("window_end_ms") <= max_ms - 60000)
    )
    want_regs = {tuple(r) for r in want_regs_df.collect()}
    want = {tuple(r) for r in hll_estimate_per_window(want_regs_df).collect()}
    assert got_regs == want_regs and got_regs
    assert got == want and got


def test_streaming_windowed_topk_chunked_matches_unchunked(replay_runs):
    """Chunked-replay invariance for the windowed heavy hitters: watermark
    advancement across micro-batches cannot change fire-once window
    emissions."""
    assert replay_runs.problems("streaming_windowed_topk") == []


def test_streaming_windowed_hll_chunked_matches_unchunked(replay_runs):
    """Chunked-replay invariance for the windowed HLL: register maxes are
    associative+commutative, so micro-batch boundaries cannot change the
    drained registers."""
    assert replay_runs.problems("streaming_windowed_hll") == []


def test_streaming_concurrency_profile_matches_cut_batch(spark, sf_small, catalog_runs):
    """The sweep over the drained session_window intervals must equal the
    sweep over the batch gap sessions (ends shifted by the gap) cut at the
    final watermark -- i.e. the profile is a pure function of the emitted
    session set."""
    from flink_training_exercises_spark.functions.time import epoch_ms
    from flink_training_exercises_spark.operators.sessions import (
        DEFAULT_GAP_MS,
        concurrency_from_intervals,
        sessionize,
    )

    got = set(catalog_runs.query("streaming_concurrency_profile").itertuples(index=False))
    ev = load_table(spark, "events", sf_small)
    max_ms = ev.agg(F.max(epoch_ms("ts"))).first()[0]
    iv = (
        sessionize(ev)
        .select(
            F.col("session_start_ms").alias("s"),
            (F.col("session_end_ms") + DEFAULT_GAP_MS).alias("e"),
        )
        .where(F.col("e") <= max_ms - 60000)
    )
    want = {tuple(r) for r in concurrency_from_intervals(iv).collect()}
    assert got == want and got


def test_streaming_windowed_histogram_matches_batch(spark, sf_small):
    """STAGED (round-9 backlog) windowed fixed-width histogram: the
    drained streaming bin counts must equal the batch per-window counts
    cut at the final watermark -- exact integer parity."""
    from flink_training_exercises_spark.functions.time import epoch_ms
    from flink_training_exercises_spark.sources import load_table
    from flink_training_exercises_spark.streaming.queries import (
        drain_availablenow,
        streaming_windowed_histogram,
    )

    name = f"whist_{uuid.uuid4().hex[:8]}"
    got = {
        tuple(r)
        for r in drain_availablenow(
            streaming_windowed_histogram(events_stream(spark, sf_small)), name
        ).collect()
    }

    ev = load_table(spark, "events", sf_small)
    win_ms = 6 * 3600 * 1000
    em = epoch_ms("ts")
    cents = F.floor(F.col("value") * F.lit(1e2) + F.lit(5e-1)).cast("bigint")
    max_ms = ev.agg(F.max(em)).first()[0]
    want = {
        tuple(r)
        for r in (
            ev.select(
                (em - em % win_ms + win_ms).alias("window_end_ms"),
                cents.alias("c"),
            )
            .select("window_end_ms", F.expr("c div 1000").alias("bin"))
            .where(F.col("window_end_ms") <= max_ms - 60000)
            .groupBy("window_end_ms", "bin")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            .collect()
        )
    }
    assert got == want and got


def test_streaming_windowed_histogram_chunked_matches_unchunked(replay_runs):
    """Chunked-replay invariance: per-bin counts are associative and
    commutative, so micro-batch boundaries cannot change the drain."""
    assert replay_runs.problems("streaming_windowed_histogram") == []


def test_es_bulk_payloads_shape():
    """S8 bulk-request SHAPE without the env: documents carry the
    PopularPlacesToES field mapping, every payload alternates
    action/document ndjson lines, trailing newline included, and
    bulk_size cuts batches at exactly bulk_size documents."""
    import json as _json

    from flink_training_exercises_spark.streaming.sinks import es_bulk_payloads

    rows = [
        {
            "window_end_ms": 1000 + i,
            "center_lat": 40.75,
            "center_lon": -73.98,
            "is_start": bool(i % 2),
            "cnt": 10 + i,
        }
        for i in range(25)
    ]
    payloads = list(es_bulk_payloads(rows, index="nyc-places", bulk_size=10))
    assert len(payloads) == 3  # 10 + 10 + 5
    sizes = []
    for p in payloads:
        assert p.endswith("\n")
        lines = p.strip("\n").split("\n")
        assert len(lines) % 2 == 0
        sizes.append(len(lines) // 2)
        for a, d in zip(lines[::2], lines[1::2]):
            act = _json.loads(a)
            doc = _json.loads(d)
            assert act == {"index": {"_index": "nyc-places"}}
            assert set(doc) == {"time", "location", "isStart", "cnt"}
            lat, lon = doc["location"].split(",")
            assert float(lat) == 40.75 and float(lon) == -73.98
    assert sizes == [10, 10, 5]
    docs = [
        _json.loads(d)
        for p in payloads
        for d in p.strip("\n").split("\n")[1::2]
    ]
    assert [d["time"] for d in docs] == [1000 + i for i in range(25)]
    assert list(es_bulk_payloads([], index="x")) == []


def test_streaming_scd2_maintenance_matches_batch(spark, sf_small):
    """The one-shot drain must equal the batch lead-window validity
    intervals exactly (same (ts, event_id) ordering contract, NULL =
    current row)."""
    from flink_training_exercises_spark.functions.time import epoch_ms
    from flink_training_exercises_spark.streaming.queries import (
        run_scd2_maintenance_availablenow,
    )
    from pyspark.sql import Window as W

    got = sorted(
        map(
            tuple,
            run_scd2_maintenance_availablenow(
                events_stream(spark, sf_small), f"scd2_one_{uuid.uuid4().hex[:8]}"
            ).collect(),
        )
    )
    ev = load_table(spark, "events", sf_small)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    want = sorted(
        map(
            tuple,
            ev.select(
                "user_id",
                "event_id",
                epoch_ms("ts").alias("valid_from_ms"),
                epoch_ms(F.lead("ts").over(w)).alias("valid_to_ms"),
            ).collect(),
        )
    )
    assert got == want and got


def test_streaming_scd2_chunked_matches_batch(replay_runs):
    """Batch-boundary invariance of the SCD2 maintenance fold: open rows
    closed across 4 chronological chunk boundaries must receive exactly
    the global next-event bound the one-shot lead window assigns."""
    assert replay_runs.problems("streaming_scd2_maintenance") == []
    # every user has exactly ONE open (current) row -- the SCD2 shape
    got = replay_runs.query("streaming_scd2_maintenance")
    assert (got["valid_to_ms"].isna().groupby(got["user_id"]).sum() == 1).all()


def test_quantile_from_binned_hand_computed(spark):
    """STAGED-FOR-ROUND-10 windowed quantile walk: hand case with a spike
    bin, an exact-boundary percentile hit, and two windows."""
    from flink_training_exercises_spark.streaming.queries import (
        quantile_from_binned,
    )

    # window 1000: bins 0(cnt 2), 3(cnt 6), 7(cnt 2)  -> n=10
    #   p25 -> rank ceil(2.5)=3  -> bin 3 (cum_prev 2 < 3 <= 8)
    #   p50 -> rank 5            -> bin 3
    #   p75 -> rank ceil(7.5)=8  -> bin 3 (cum 8 >= 7.5)   BOUNDARY: 8 exactly
    #   p90 -> rank 9            -> bin 7
    # window 2000: one bin 5(cnt 4) -> every pct -> bin 5
    bins = spark.createDataFrame(
        [(1000, 0, 2), (1000, 3, 6), (1000, 7, 2), (2000, 5, 4)],
        "window_end_ms long, bin long, cnt long",
    )
    got = {
        (r["window_end_ms"], r["pct"]): (r["est_floor_cents"], r["n_values"])
        for r in quantile_from_binned(bins, bin_cents=1000).collect()
    }
    assert got == {
        (1000, 25): (3000, 10),
        (1000, 50): (3000, 10),
        (1000, 75): (3000, 10),
        (1000, 90): (7000, 10),
        (2000, 25): (5000, 4),
        (2000, 50): (5000, 4),
        (2000, 75): (5000, 4),
        (2000, 90): (5000, 4),
    }


def test_streaming_windowed_quantile_matches_oracle(catalog_runs):
    """Streaming windowed quantile equals its catalog oracle, and the
    estimates the batch stage walks from the drained histogram are
    monotone in pct per window."""
    assert catalog_runs.problems("streaming_windowed_quantile") == []
    got = catalog_runs.query("streaming_windowed_quantile")
    assert len(got)
    # monotone in pct within each window (cumulative walk contract)
    for _w, rows in got.sort_values(["window_end_ms", "pct"]).groupby("window_end_ms"):
        ests = list(rows["est_floor_cents"])
        assert ests == sorted(ests)


def test_streaming_scd2_same_millisecond_orders_by_microsecond(spark, tmp_path):
    """Review-catch pin: two same-user events inside ONE millisecond with
    event_id order INVERTED vs microsecond order must close/open exactly
    as the oracle's ORDER BY ts does. An ms-ordered fold would tie them
    and tie-break by event_id -- leaving the WRONG row open."""
    from datetime import datetime

    from flink_training_exercises_spark.streaming.queries import (
        run_scd2_maintenance_availablenow,
    )

    rows = [
        # user 1: us=200 carries the LARGER event_id (9), us=700 the
        # smaller (5) -- ts order is (9, 5); event_id order would be (5, 9)
        (9, datetime(2024, 1, 1, 10, 0, 0, 200), 1, "click", 1.0, "{}"),
        (5, datetime(2024, 1, 1, 10, 0, 0, 700), 1, "click", 1.0, "{}"),
        (7, datetime(2024, 1, 1, 10, 0, 1, 0), 2, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "same_ms")
    replay_to_files(df, "ts", d, n_chunks=1)
    got = {
        r["event_id"]: (r["valid_from_ms"], r["valid_to_ms"])
        for r in run_scd2_maintenance_availablenow(
            _chunked_stream(spark, d), f"scd2_us_{uuid.uuid4().hex[:8]}"
        ).collect()
    }
    base = 1704103200000  # 2024-01-01T10:00:00Z in epoch ms
    # both user-1 events truncate to the same ms; event 9 (earlier us)
    # closes AT that ms, event 5 (later us) stays open
    assert got == {9: (base, base), 5: (base, None), 7: (base + 1000, None)}


def test_streaming_windowed_cms_matches_oracle(catalog_runs):
    """Streaming windowed Count-Min sketch equals its catalog oracle;
    est >= exact row-wise (the one-sided CMS contract) and overcount is
    their difference."""
    assert catalog_runs.problems("streaming_windowed_cms") == []
    rows = catalog_runs.query("streaming_windowed_cms").to_dict("records")
    assert rows
    assert all(r["est_cnt"] >= r["exact_cnt"] for r in rows)
    assert all(r["overcount"] == r["est_cnt"] - r["exact_cnt"] for r in rows)


def test_streaming_windowed_cms_chunked_matches_unchunked(replay_runs):
    """Chunked-replay invariance: per-cell counts are associative and
    commutative, so micro-batch boundaries cannot change the drained
    sketch."""
    assert replay_runs.problems("streaming_windowed_cms") == []


def test_cms_window_estimates_width1_degenerate(spark):
    """Hand pin of the panel-estimate batch stage at width=1: every key
    hashes to bucket 0 in every row, so each panel key's estimate is
    exactly the window's TOTAL event count and overcount = total - own.
    Exercises the min-over-rows walk, the absent-cell-as-0 path (a
    window with cells but no panel activity), and the md5 panel
    predicate against a hashlib replay."""
    import hashlib
    from datetime import datetime, timezone

    from flink_training_exercises_spark.streaming.queries import (
        CMS_PANEL_MOD,
        cms_window_estimates,
    )

    def md5_long(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    # two panel users + one off-panel user (found by replaying the predicate)
    panel_ids = [u for u in range(1, 200) if md5_long(str(u)) % CMS_PANEL_MOD == 0][:2]
    off_panel = next(
        u for u in range(1, 200) if md5_long(str(u)) % CMS_PANEL_MOD != 0
    )
    u1, u2 = panel_ids
    win_ms = 6 * 3600 * 1000
    base = 1704067200000  # 2024-01-01T00:00:00Z, window-aligned
    ts = lambda ms: datetime.fromtimestamp(ms / 1e3, tz=timezone.utc).replace(
        tzinfo=None
    )
    # window 1: u1 x2, u2 x1, off_panel x1 (total 4); window 2: off_panel x1
    events = spark.createDataFrame(
        [
            (ts(base + 1000), u1),
            (ts(base + 2000), u1),
            (ts(base + 3000), u2),
            (ts(base + 4000), off_panel),
            (ts(base + win_ms + 1000), off_panel),
        ],
        "ts timestamp_ntz, user_id long",
    )
    w1_end, w2_end = base + win_ms, base + 2 * win_ms
    cells = spark.createDataFrame(
        [(w1_end, r, 0, 4) for r in range(4)]
        + [(w2_end, r, 0, 1) for r in range(4)],
        "window_end_ms long, r long, bucket long, cell_sum long",
    )
    got = {
        (r["window_end_ms"], r["user_id"]): (
            r["exact_cnt"],
            r["est_cnt"],
            r["overcount"],
        )
        for r in cms_window_estimates(cells, events, width=1).collect()
    }
    assert got == {
        (w1_end, u1): (2, 4, 2),
        (w1_end, u2): (1, 4, 3),
        # absent panel keys still get the full-bucket estimate (window 2
        # has no panel activity at all: exact 0 via the left join)
        (w2_end, u1): (0, 1, 1),
        (w2_end, u2): (0, 1, 1),
    }


def test_streaming_windowed_minhash_matches_oracle(catalog_runs):
    """Streaming windowed MinHash equals its catalog oracle; signature
    matches stay within the permutation count, the estimate is their
    integer ppm, and the exact Jaccard stays in [0, 1e6]."""
    assert catalog_runs.problems("streaming_windowed_minhash") == []
    rows = catalog_runs.query("streaming_windowed_minhash").to_dict("records")
    assert rows
    for r in rows:
        assert 0 <= r["sig_matches"] <= r["n_perms"]
        assert r["est_jaccard_ppm"] == (1_000_000 * r["sig_matches"]) // r["n_perms"]
        assert 0 <= r["exact_jaccard_ppm"] <= 1_000_000


def test_streaming_windowed_minhash_k_guard(spark, sf_small):
    """ADVICE r13: k beyond the universal-hash family size must raise
    explicitly (the value_acf_lags guard convention) on BOTH the operator
    and its oracle twin -- the r13 column-per-permutation rewrite would
    otherwise surface it as an unresolved-column AnalysisException."""
    import pytest as _pytest

    from flink_training_exercises_spark.operators.dedup import _MINHASH_PARAMS
    from flink_training_exercises_spark.streaming.queries import (
        streaming_windowed_minhash,
        windowed_minhash_oracle,
    )
    from flink_training_exercises_spark.streaming.sources import events_stream

    too_many = len(_MINHASH_PARAMS) + 1
    stream = events_stream(spark, sf_small)
    for bad_k in (0, too_many):
        with _pytest.raises(ValueError, match="universal-hash family"):
            streaming_windowed_minhash(stream, k=bad_k)
        with _pytest.raises(ValueError, match="universal-hash family"):
            windowed_minhash_oracle(k=bad_k)


def test_streaming_windowed_minhash_chunked_matches_unchunked(replay_runs):
    """Chunked-replay invariance: min is associative, commutative AND
    idempotent, so micro-batch boundaries (and any re-delivery inside
    one) cannot change the drained signatures."""
    assert replay_runs.problems("streaming_windowed_minhash") == []


def test_minhash_window_similarity_hand_computed(spark):
    """Hand pin of the similarity batch stage with synthetic signatures
    (k=4, 1-second windows): w1/w2 share 3 of 4 signature cells (est
    750000) and 2 of 4 distinct users (exact 500000 -- the duplicate
    user-2 event in w1 must not move the distinct count); w2/w3 share
    nothing (est 0, exact 0 through the coalesce-absent-inter path);
    the non-consecutive (w1, w3) pair must NOT appear."""
    from datetime import datetime, timezone

    from flink_training_exercises_spark.streaming.queries import (
        minhash_window_similarity,
    )

    ts = lambda ms: datetime.fromtimestamp(ms / 1e3, tz=timezone.utc).replace(
        tzinfo=None
    )
    sigs = spark.createDataFrame(
        [(1000, 0, 11), (1000, 1, 22), (1000, 2, 33), (1000, 3, 44)]
        + [(2000, 0, 11), (2000, 1, 22), (2000, 2, 33), (2000, 3, 99)]
        + [(3000, 0, 55), (3000, 1, 66), (3000, 2, 77), (3000, 3, 88)],
        "window_end_ms long, r long, sig long",
    )
    events = spark.createDataFrame(
        [
            (ts(100), 1),
            (ts(150), 2),
            (ts(200), 2),
            (ts(300), 3),
            (ts(1100), 2),
            (ts(1200), 3),
            (ts(1300), 4),
            (ts(2100), 5),
        ],
        "ts timestamp_ntz, user_id long",
    )
    got = sorted(
        map(
            tuple,
            minhash_window_similarity(sigs, events, k=4, window_ms=1000).collect(),
        )
    )
    assert got == [
        (1000, 2000, 4, 3, 750000, 500000),
        (2000, 3000, 4, 0, 0, 0),
    ]


def test_streaming_windowed_bloom_matches_oracle(catalog_runs):
    """Streaming windowed Bloom equals its catalog oracle; row-wise the
    one-sided contract holds (bloom_hit >= present, no false negatives
    structurally) and a false positive is exactly a hit on an absent
    word."""
    assert catalog_runs.problems("streaming_windowed_bloom") == []
    rows = catalog_runs.query("streaming_windowed_bloom").to_dict("records")
    assert rows
    for r in rows:
        assert r["bloom_hit"] >= r["present"]  # no false negatives
        assert r["false_positive"] == r["bloom_hit"] * (1 - r["present"])
    # sizing-rule visibility (66 FPs measured) holds at the GATE's sf0.01,
    # not this fixture's sf0.001 (too few keys per window to collide) --
    # the CMS width-64 precedent keeps visibility in the constant's
    # sizing note, contracts in the test


def test_streaming_windowed_bloom_chunked_matches_unchunked(replay_runs):
    """Chunked-replay invariance: bit_or is associative, commutative AND
    idempotent (the MinHash min argument), so micro-batch boundaries and
    any duplicate delivery inside one cannot change the drained words."""
    assert replay_runs.problems("streaming_windowed_bloom") == []


def test_bloom_window_membership_hand_computed(spark):
    """Hand pin of the membership batch stage with synthetic word vectors:
    a panel key whose K cells are all set hits; one with any cell's word
    row ABSENT from the drain misses (absent word reads 0); present keys
    always hit through their own fold (no false negative); the
    false_positive flag is bloom_hit AND NOT present."""
    from datetime import datetime, timezone

    import hashlib

    from flink_training_exercises_spark.functions.hashing import MERSENNE_P
    from flink_training_exercises_spark.operators.bloom import _BLOOM_PARAMS
    from flink_training_exercises_spark.streaming.queries import (
        BLOOM_STREAM_WORDS,
        CMS_PANEL_MOD,
        bloom_window_membership,
    )

    md5l = lambda s: int(hashlib.md5(s.encode()).hexdigest()[:15], 16)  # noqa: E731
    # pick two panel keys (md5 % 7 == 0): one we will mark present in the
    # window, one absent whose cells we set fully (a forced false
    # positive), plus verify an absent key with a missing word row misses
    panel_keys = [k for k in range(200) if md5l(str(k)) % CMS_PANEL_MOD == 0]
    assert len(panel_keys) >= 3
    present_k, fp_k, miss_k = panel_keys[0], panel_keys[1], panel_keys[2]

    m_bits = 63 * BLOOM_STREAM_WORDS

    def cells(k):
        base = md5l(str(k))
        out = set()
        for a, b in _BLOOM_PARAMS:
            pos = ((a * base + b) % MERSENNE_P) % m_bits
            out.add((pos // 63, pos % 63))
        return out

    win_end = 21600000  # one 6h window ending at epoch+6h
    # words: the present key's fold plus the fp key's cells, but NOT all
    # of miss_k's cells (drop one whole word if it is uniquely miss_k's)
    words = {}
    for k in (present_k, fp_k):
        for w, b in cells(k):
            words[w] = words.get(w, 0) | (1 << b)
    # ensure miss_k actually misses: at least one of its cells unset
    missing = [(w, b) for (w, b) in cells(miss_k) if not (words.get(w, 0) >> b) & 1]
    assert missing, "synthetic collision: pick different keys"
    words_df = spark.createDataFrame(
        [(win_end, w, bits) for w, bits in words.items()],
        "window_end_ms long, word long, bits long",
    )
    mkts = lambda ms: datetime.fromtimestamp(  # noqa: E731
        ms / 1e3, tz=timezone.utc
    ).replace(tzinfo=None)
    # the panel derives from the events frame, so fp_k / miss_k need
    # events too -- placed in the NEXT 6h window (absent from win_end's,
    # and window-2 rows can't emit: the probe walks only drained windows)
    events_df = spark.createDataFrame(
        [
            (1, mkts(1000), present_k, "view", 0.0, None),
            (2, mkts(win_end + 1000), fp_k, "view", 0.0, None),
            (3, mkts(win_end + 2000), miss_k, "view", 0.0, None),
        ],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    out = {
        r["user_id"]: (r["present"], r["bloom_hit"], r["false_positive"])
        for r in bloom_window_membership(words_df, events_df).collect()
    }
    assert out[present_k] == (1, 1, 0)
    assert out[fp_k] == (0, 1, 1)
    assert out[miss_k] == (0, 0, 0)
