"""Source/format tests: TaxiRide CSV quirks, mbox-style multi-char record
delimiter, edge lists, nanosecond testdata timestamps, per-session schema
resolution."""

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from flink_training_exercises_spark.sources import (
    load_table,
    read_edge_list,
    read_mail_records,
    read_taxi_rides_csv,
)


def test_taxi_csv_end_time_swap_and_blank_coords(spark, tmp_path):
    # TaxiRide.java:76-82: END rows print (endTime, startTime) -- swapped;
    # TaxiRide.java:119-122: blank coords parse to 0.0.
    p = tmp_path / "rides.csv"
    p.write_text(
        "1,START,2013-01-01 00:00:00,2013-01-01 00:05:00,-74.0,40.75,-73.9,40.8,2\n"
        "1,END,2013-01-01 00:05:00,2013-01-01 00:00:00,-74.0,40.75,-73.9,40.8,2\n"
        "2,START,2013-01-01 00:01:00,1970-01-01 00:00:00,,,,,1\n"
    )
    rows = {(r["rideId"], r["isStart"]): r for r in read_taxi_rides_csv(spark, str(p)).collect()}
    start, end = rows[(1, True)], rows[(1, False)]
    # both events of ride 1 agree on (startTime, endTime) after the un-swap
    assert start["startTime"] == end["startTime"]
    assert start["endTime"] == end["endTime"]
    assert start["startTime"].minute == 0 and start["endTime"].minute == 5
    blank = rows[(2, True)]
    assert blank["startLon"] == 0.0 and blank["endLat"] == 0.0


def test_mail_records_multichar_delimiters(spark, tmp_path):
    # MBoxParser.java:56-57: fields '#|#', records '##//##'.
    p = tmp_path / "mails.txt"
    recs = [
        "id1#|#2014-09-01-00:00:00#|#A <a@x>#|#subj1#|#body one#|#null",
        "id2#|#2014-09-02-00:00:00#|#B <b@x>#|#subj2#|#body two#|#id1",
    ]
    p.write_text("##//##".join(recs))
    got = {r["messageId"]: r for r in read_mail_records(spark, str(p)).collect()}
    assert set(got) == {"id1", "id2"}
    assert got["id2"]["replyTo"] == "id1"
    assert got["id1"]["sender"] == "A <a@x>"


def test_edge_list(spark, tmp_path):
    p = tmp_path / "edges.tsv"
    p.write_text("a\tb\t1.5\nb\tc\t2.0\n")
    got = {(r["src"], r["dst"]): r["weight"] for r in read_edge_list(spark, str(p)).collect()}
    assert got == {("a", "b"): 1.5, ("b", "c"): 2.0}


def _write_nanos_events(sf_dir, out_dir):
    """sf_dir's events with ``ts`` as parquet timestamp[ns] (999 ns past
    each microsecond), written to out_dir/events.parquet."""
    micros = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    ns = pc.add(pc.multiply(micros["ts"].cast(pa.int64()), 1000), 999).cast(pa.timestamp("ns"))
    nanos = micros.set_column(micros.schema.get_field_index("ts"), "ts", ns)
    pq.write_table(nanos, str(out_dir / "events.parquet"))
    assert pq.read_schema(str(out_dir / "events.parquet")).field("ts").type == pa.timestamp("ns")


def test_load_table_truncates_nanosecond_timestamps(spark, sf_small, tmp_path):
    """An events file whose ``ts`` is parquet timestamp[ns] loads as
    TIMESTAMP_NTZ with the microsecond file's values, the sub-microsecond
    part truncated (what DuckDB does reading nanos)."""
    _write_nanos_events(sf_small, tmp_path)

    got = load_table(spark, "events", str(tmp_path))
    want = load_table(spark, "events", sf_small)
    assert dict(got.dtypes)["ts"] == "timestamp_ntz"
    rows = lambda df: df.select("event_id", "ts").orderBy("event_id").collect()  # noqa: E731
    assert rows(got) == rows(want)


def test_load_table_resolves_each_file_once_per_session(spark, sf_small, tmp_path):
    """The first ``load_table`` of a file in a session runs one
    schema-inference job and a repeat runs none. A file rewritten at the
    same path (same size, ``ts`` now timestamp[ns]) resolves again and
    loads correct TIMESTAMP_NTZ values, and a second session resolves
    afresh."""
    bus = spark.sparkContext._jsc.sc().listenerBus()  # noqa: SLF001

    def jobs(session, group):
        sc = session.sparkContext
        sc.setJobGroup(group, group)
        try:
            df = load_table(session, "events", str(tmp_path))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        bus.waitUntilEmpty()
        return df, len(sc.statusTracker().getJobIdsForGroup(group))

    shutil.copy(os.path.join(sf_small, "events.parquet"), tmp_path)
    assert jobs(spark, "resolve_first")[1] == 1
    assert jobs(spark, "resolve_repeat")[1] == 0

    _write_nanos_events(sf_small, tmp_path)
    got, n = jobs(spark, "resolve_rewritten")
    assert n == 1
    want = load_table(spark, "events", sf_small)
    assert dict(got.dtypes)["ts"] == "timestamp_ntz"
    rows = lambda df: df.select("event_id", "ts").orderBy("event_id").collect()  # noqa: E731
    assert rows(got) == rows(want)

    assert jobs(spark.newSession(), "resolve_new_session")[1] == 1


def test_derived_views_leave_no_temp_view(spark, sf_small):
    """The ride, mail and edge views bind their events frame for one
    analysis only: no view of theirs stays in the catalog, and rides built
    at two sf dirs in one session each count their own dir's rides."""
    from flink_training_exercises_spark.plans import graphs, mails, rides
    from flink_training_exercises_spark.plans.differential import duck_con
    from flink_training_exercises_spark.streaming.sources import events_stream

    sf_dirs = (sf_small, os.path.join(os.path.dirname(sf_small), "sf0.01"))
    frames = [rides.rides_view(spark, sf_dir) for sf_dir in sf_dirs]
    assert rides.rides_of(events_stream(spark, sf_small)).isStreaming
    mails.mails_view(spark, sf_small)
    graphs.edges_view(spark, sf_small)
    names = [t.name for t in spark.catalog.listTables()]
    assert not [n for n in names if n.startswith(("__fte_events", "_pyspark_"))]
    counts = [frame.count() for frame in frames]
    ride_sql = f"SELECT count(*) FROM ({rides.rides_cte()})"
    assert counts == [duck_con(d).execute(ride_sql).fetchone()[0] for d in sf_dirs]
    assert counts[0] < counts[1]
