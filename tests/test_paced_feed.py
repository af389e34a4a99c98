"""S1 wall-clock replay pacing (servingSpeedFactor semantics)."""

import time
from datetime import datetime, timedelta

from flink_training_exercises_spark.streaming.sources import paced_feed


def test_paced_feed_replays_proportionally(spark, tmp_path):
    # 40s of event time at 20x -> ~2s of wall time, 4 chunks ~0.5s apart
    base = datetime(2024, 1, 1)
    rows = [(i, base + timedelta(seconds=i * 10)) for i in range(4)]
    df = spark.createDataFrame(rows, "id long, ts timestamp_ntz")
    d = str(tmp_path / "feed")
    t0 = time.monotonic()
    feeder = paced_feed(df, d, serving_speed_factor=20.0, n_chunks=4)
    feeder.join(60)
    elapsed = time.monotonic() - t0
    # 30s event span / 20x = 1.5s minimum pacing (plus write overhead)
    assert elapsed >= 1.4

    # and the replayed corpus is complete + chronological
    stream = spark.readStream.schema("id long, ts timestamp_ntz").parquet(d)
    q = (
        stream.writeStream.format("memory")
        .queryName("paced1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [r["id"] for r in spark.sql("SELECT id FROM paced1 ORDER BY id").collect()]
    assert got == [0, 1, 2, 3]
