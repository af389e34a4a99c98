"""Streaming sources (SURVEY.md §2.1 S1/S2, §2.6 W3).

The reference's TaxiRideSource replays a timestamp-ordered file at
``servingSpeedFactor`` x wall-clock with bounded Gaussian disorder and
in-source watermarks (TaxiRideSource.java:122-238). Structured Streaming
splits those concerns idiomatically:

  * ordered replay   -> file micro-batches (``replay_to_files`` writes
    chronological chunks; ``maxFilesPerTrigger=1`` replays them in order;
    ``availableNow`` drains everything for tests). Wall-clock pacing is a
    demo concern, not a semantics concern -- event time lives in the data.
  * disorder         -> not injected: the replay is chronological, and
    the watermark delay bounds the disorder a source may carry.
  * watermarks       -> ``withWatermark`` on the event-time column; the
    reference's three generation strategies (periodic t-maxDelay-1,
    per-event t-1, bounded-out-of-orderness 60s) all collapse to one
    delay, ``functions/time.WATERMARK`` (SURVEY.md §2.6 W3).
  * checkpoint/restore (S2) -> the source's offset log +
    ``checkpointLocation``; no manual emitted-count snapshot needed
    (CheckpointedTaxiRideSource.java:161-169 is subsumed by the WAL).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# Stream schema of each table a catalog entry can declare as its source
# (plans.catalog.register(source=...)).
STREAM_SCHEMAS = {
    "events": (
        "event_id LONG, ts TIMESTAMP_NTZ, user_id LONG, event_type STRING, "
        "value DOUBLE, props STRING"
    ),
    "documents": "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    # plans.rides.rides_view: replayed in ride-time (``ts``) order, as the
    # reference's TaxiRideSource emits rides
    "rides": (
        "ride_id LONG, is_start BOOLEAN, ts TIMESTAMP_NTZ, start_time TIMESTAMP_NTZ, "
        "end_time TIMESTAMP_NTZ, start_lon DOUBLE, start_lat DOUBLE, end_lon DOUBLE, "
        "end_lat DOUBLE, passenger_cnt INT"
    ),
}


def table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """``table`` (a key of STREAM_SCHEMAS) as a file-source stream. Each
    table is a single parquet FILE; the file stream source needs a
    directory basePath, so the glob filter picks the file within the sf
    dir. ``rides`` has no file of its own: it is the ride view over the
    events stream."""
    if table == "rides":
        from ..plans.rides import rides_of

        return rides_of(table_stream(spark, sf_dir, "events"))
    return (
        spark.readStream.schema(STREAM_SCHEMAS[table])
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file-source stream, `ts` as TIMESTAMP_NTZ with
    the same instants as the batch loader.

    The testdata stores `ts` as parquet timestamp[us] (no tz), so declaring
    TIMESTAMP_NTZ in the stream schema reads it natively -- identical to the
    batch path, no unit arithmetic. (A `ts LONG` schema here would surface
    the raw int64 MICROsecond values; round 2 shipped exactly that plus a
    nanos-assuming `div 1000`, which put the watermark in 1970 and emitted 0
    session rows. tests/test_streaming.py::test_stream_batch_ts_parity pins
    stream == batch max(ts) so any unit drift fails fast.)"""
    return table_stream(spark, sf_dir, "events")


def _stage_chunks(df: DataFrame, time_col: str, n_chunks: int) -> tuple[str, list[str]]:
    """Distributed chronological chunking (shared by replay_to_files and
    paced_feed): repartitionByRange on the time column makes partition i
    hold a contiguous time range < partition i+1's (sampling-based range
    boundaries -- no global single-task sort, no driver collect), then ONE
    dynamic-partitioned write puts each chunk in its own directory with
    exactly one part file (a chunk IS one range partition).
    sortWithinPartitions leads with the partition column so the writer's
    own partition-column sort can't scramble within-chunk time order (the
    round-3 dynamic-partition finding). Returns (staging_dir, part files
    in chronological chunk order)."""
    import glob as globmod

    from ..scratch import mkscratch

    stage = mkscratch(prefix="replay_stage_")
    (
        df.repartitionByRange(n_chunks, F.col(time_col))
        .withColumn("__chunk", F.spark_partition_id())
        .sortWithinPartitions("__chunk", time_col)
        .write.partitionBy("__chunk")
        .mode("overwrite")
        .parquet(stage)
    )
    dirs = sorted(
        globmod.glob(os.path.join(stage, "__chunk=*")),
        key=lambda p: int(p.rsplit("=", 1)[-1]),
    )
    parts = []
    for dpath in dirs:
        found = globmod.glob(os.path.join(dpath, "part-*.parquet"))
        assert len(found) == 1, f"range partition wrote {len(found)} files"
        parts.append(found[0])
    return stage, parts


def replay_to_files(
    df: DataFrame, time_col: str, out_dir: str, n_chunks: int = 4, start_index: int = 0
) -> list[str]:
    """Materialize a batch DataFrame as n chronological parquet chunks --
    the replay corpus for file-source streaming (S1's ordered-file
    semantics, TaxiRideSource.java:122-215). Returns chunk paths in replay
    order; feed with ``maxFilesPerTrigger=1`` for one-chunk-per-micro-batch
    replay.

    Fully distributed (VERDICT r3 #5): chunk assignment and writing happen
    executor-side via range partitioning + one dynamic-partitioned write;
    the driver only renames the finished part files into flat chunk paths
    (the file stream source lists FILES, not Spark's part-file dirs)."""
    import shutil

    import time as _time

    stage, parts = _stage_chunks(df, time_col, n_chunks)
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    base = _time.time()
    for i, part in enumerate(parts):
        path = os.path.join(out_dir, f"chunk-{start_index + i:04d}.parquet")
        shutil.move(part, path)
        # shutil.move preserves the part file's mtime, and the parallel
        # staged write finishes parts in ARBITRARY order -- but Spark's
        # FileStreamSource processes files ordered by modification time,
        # so under maxFilesPerTrigger a later chunk could be consumed
        # first and its watermark would drop the earlier chunk's rows
        # (observed as an intermittent chunked-replay sessionize flake).
        # Stamp strictly increasing mtimes in chunk order.
        mt = base + i
        os.utime(path, (mt, mt))
        paths.append(path)
    shutil.rmtree(stage, ignore_errors=True)
    return paths


def paced_feed(
    df: DataFrame,
    out_dir: str,
    serving_speed_factor: float = 600.0,
    n_chunks: int = 10,
) -> "threading.Thread":
    """S1's wall-clock half: replay chunks proportionally to EVENT time
    (``ts``) at ``serving_speed_factor`` x (TaxiRideSource.java:217-220 -- the reference
    default 600x plays 10 minutes of events per second). Runs in a daemon
    thread releasing chronological chunk files; a file-source stream on
    ``out_dir`` consumes them live. Returns the feeder thread (join() it or
    let the stream's availableNow drain after completion).

    Distributed (VERDICT r3 #5): ALL chunks are pre-staged executor-side
    (one range-partitioned write, no driver collect); only the per-chunk
    min event time (for pacing) and the file RENAMES go through the driver
    -- releasing a finished file at its paced wall-clock instant is pure
    metadata work, exactly how a cluster-scale paced replay would drip a
    pre-materialized corpus into a landing directory."""
    import shutil
    import threading
    import time as _time

    spark = df.sparkSession
    stage, parts = _stage_chunks(df, "ts", n_chunks)
    if not parts:
        raise ValueError("nothing to replay")
    # per-chunk pacing instants: one tiny agg over the staged files (the
    # partition column is in the directory names)
    mins = {
        r["__chunk"]: r["t0"]
        for r in spark.read.parquet(stage)
        .groupBy("__chunk")
        .agg(F.min("ts").alias("t0"))
        .collect()
    }
    chunk_t0s = [mins[int(p.split("__chunk=")[-1].split(os.sep)[0])] for p in parts]
    t0_event = min(chunk_t0s)

    last_mt = [0.0]

    def run() -> None:
        os.makedirs(out_dir, exist_ok=True)
        start_wall = _time.monotonic()
        for i, (part, ev_t0) in enumerate(zip(parts, chunk_t0s)):
            target_wall = (ev_t0 - t0_event).total_seconds() / serving_speed_factor
            delay = target_wall - (_time.monotonic() - start_wall)
            if delay > 0:
                _time.sleep(delay)
            path = os.path.join(out_dir, f"chunk-{i:04d}.parquet")
            shutil.move(part, path)
            # same mtime discipline as replay_to_files: fast pacing can
            # release two chunks inside one mtime tick, and the preserved
            # part-file mtimes are in arbitrary order
            mt = _time.time()
            os.utime(path, (max(mt, last_mt[0] + 0.001),) * 2)
            last_mt[0] = max(mt, last_mt[0] + 0.001)
        shutil.rmtree(stage, ignore_errors=True)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    return t
