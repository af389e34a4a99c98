"""Streaming query pipelines (SURVEY.md §2.6 W1/W2/W7).

Append-mode windowed aggregation over a watermarked event-time column
reproduces Flink's fire-once-per-window semantics: a (key, window) result is
emitted exactly once, when the watermark passes the window end, and rows
later than the watermark are dropped (W7) -- the same contract as the
reference's EventTime windows (PopularPlaces.java:71-97).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import geo
from ..scratch import mkscratch
from ..functions.time import WATERMARK, WATERMARK_MS, ntz_as_utc_instant
from ..operators.windows import DEFAULT_SLIDE, DEFAULT_THRESHOLD, DEFAULT_WINDOW

# ONE source of truth for the windowed sketches' window: the streaming
# fold's duration string and the batch stages' / oracles' epoch-ms width
# MUST agree -- a mismatch silently zeroes the est-vs-truth join (the
# _window_end_expr hazard). Both derive from SKETCH_WINDOW_MS, and the
# windowed sketches take no window parameter of their own.
SKETCH_WINDOW_MS = 6 * 3600 * 1000
SKETCH_WINDOW = f"{SKETCH_WINDOW_MS // (3600 * 1000)} hours"
assert SKETCH_WINDOW_MS % (3600 * 1000) == 0  # the derivation above is hour-exact

# Parameters each read by a streaming query and by its oracle.
INTERVAL_JOIN_GAP_MS = 6 * 3600 * 1000  # a purchase joins clicks up to 6 h before it
WINDOWED_TOPK_K = 3
HISTOGRAM_BIN_CENTS = 1000  # fixed bin width of the windowed histogram and quantile
WINDOWED_QUANTILE_PCTS = (25, 50, 75, 90)


def streaming_exact_dedup(events: DataFrame) -> DataFrame:
    """Streaming twin of operators/dedup.exact_dedup: first-seen-wins
    (user_id, event_type) dedup with watermark-bounded state
    (`dropDuplicatesWithinWatermark` -- duplicates arriving within the
    watermark horizon are suppressed, state for expired keys is evicted, so
    memory is bounded at any corpus size)."""
    keys = ["user_id", "event_type"]
    return events.withColumn(
        "__ts_i", ntz_as_utc_instant()
    ).withWatermark("__ts_i", WATERMARK).dropDuplicatesWithinWatermark(keys).drop("__ts_i")


def streaming_ride_cleansing(rides: DataFrame) -> DataFrame:
    """W1/P1 streaming: stateless NYC filter -- append mode, no state."""
    in_nyc = geo.is_in_nyc("start_lon", "start_lat") & geo.is_in_nyc("end_lon", "end_lat")
    return rides.where(in_nyc)


def streaming_popular_places(
    rides: DataFrame,
    watermark: str = WATERMARK,
    window: str = DEFAULT_WINDOW,
    slide: str = DEFAULT_SLIDE,
    threshold: int = DEFAULT_THRESHOLD,
) -> DataFrame:
    """W2 streaming: watermarked sliding-window count, keyed on
    (cell, is_start), thresholded, mapped to cell centers. Identical result
    columns to the batch operator (operators/windows.py) so stream/batch
    parity is directly assertable."""
    in_nyc = geo.is_in_nyc("start_lon", "start_lat") & geo.is_in_nyc("end_lon", "end_lat")
    loc_lon = F.when(F.col("is_start"), F.col("start_lon")).otherwise(F.col("end_lon"))
    loc_lat = F.when(F.col("is_start"), F.col("start_lat")).otherwise(F.col("end_lat"))
    cells = (
        rides.where(in_nyc)
        .select(
            # watermarks require TIMESTAMP; convert NTZ via epoch math so the
            # instant (and window alignment) is session-TZ independent
            ntz_as_utc_instant().alias("ts"),
            F.col("is_start"),
            geo.grid_cell(loc_lon, loc_lat).alias("cell"),
        )
        .withWatermark("ts", watermark)
    )
    counted = (
        cells.groupBy(F.window("ts", window, slide).alias("w"), "cell", "is_start")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.unix_millis(F.col("w.end")).alias("window_end_ms"),
            "cell",
            "is_start",
            "cnt",
        )
    )
    return counted.where(F.col("cnt") >= threshold).select(
        geo.grid_cell_center_lon("cell").alias("center_lon"),
        geo.grid_cell_center_lat("cell").alias("center_lat"),
        F.col("window_end_ms"),
        F.col("is_start"),
        F.col("cnt"),
    )


def drain_availablenow(stream: DataFrame, query_name: str) -> DataFrame:
    """Run an append-mode streaming DataFrame to completion (availableNow,
    memory sink, fresh checkpoint -> full deterministic replay) and return
    the materialized table. The memory sink's rows do not live in the
    checkpoint, so the checkpoint is removed once the drain ends."""
    checkpoint = mkscratch(prefix=f"fte_{query_name}_ck_")
    try:
        q = (
            stream.writeStream.format("memory")
            .queryName(query_name)
            .outputMode("append")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(checkpoint, ignore_errors=True)
    return stream.sparkSession.table(query_name)


def fold_availablenow(
    stream: DataFrame,
    fold,
    query_name: str,
    root: str | None = None,
) -> DataFrame:
    """Drain ``stream`` (availableNow, foreachBatch) through
    ``fold(state, batch) -> new_state`` onto a parquet state table and
    return the final state, materialized. ``state`` is the table after the
    previous batch, or None before the first one.

    Layout under ``root``: ``ck`` is the streaming checkpoint and
    ``state/v-<batch_id>`` is the state after that batch. A batch writes
    its fold to ``state/tmp-<batch_id>``, renames it to ``v-<batch_id>``
    and only then deletes the older versions, so a version directory
    exists only once it is complete and no batch reads and writes the same
    path: a crash during the write leaves the previous version standing,
    and the re-run batch folds onto it again.

    foreachBatch is at-least-once: a restart re-runs the last batch whose
    commit-log entry is missing, even when its state version was already
    written. A batch whose id is not above the newest version is
    therefore skipped. The state version is the commit that counts, so
    folds that are not idempotent (additive counts, interval closing) stay
    exact under replay, and the check is a directory listing, not a Spark
    job.

    Zero batches (empty source) return ``fold(None, <empty batch>)``, so
    an empty drain has exactly the columns and types of a real one. Pass a
    persistent ``root`` to resume an interrupted drain (the checkpoint
    skips committed batches, new ones fold onto the newest version); when
    ``root`` is None a scratch directory is made and removed once the
    result is pinned."""
    spark = stream.sparkSession
    own_root = root is None
    if own_root:
        root = mkscratch(prefix=f"fte_{query_name}_")
    state_root = os.path.join(root, "state")

    def versions() -> list[int]:
        if not os.path.isdir(state_root):
            return []
        return sorted(int(d[2:]) for d in os.listdir(state_root) if d.startswith("v-"))

    def version_dir(batch_id: int) -> str:
        return os.path.join(state_root, f"v-{batch_id}")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        done = versions()
        if done and done[-1] >= batch_id:
            return  # at-least-once replay of an already-folded batch
        state = spark.read.parquet(version_dir(done[-1])) if done else None
        tmp = os.path.join(state_root, f"tmp-{batch_id}")
        fold(state, batch_df).write.mode("overwrite").parquet(tmp)
        os.rename(tmp, version_dir(batch_id))
        for d in os.listdir(state_root):
            if d != f"v-{batch_id}":
                shutil.rmtree(os.path.join(state_root, d))

    try:
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .outputMode("update")
            .option("checkpointLocation", os.path.join(root, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        done = versions()
        if done:
            final = spark.read.parquet(version_dir(done[-1]))
        else:
            final = fold(None, spark.createDataFrame([], stream.schema))
        # pin the drained values NOW: the lazy parquet read would otherwise
        # track a later resume folding more batches under `root`
        return final.localCheckpoint()
    finally:
        if own_root:
            shutil.rmtree(root, ignore_errors=True)


def streaming_distinct_users(events: DataFrame) -> DataFrame:
    """Per-window distinct-user counts through the real streaming engine.

    Streaming aggregation forbids COUNT(DISTINCT), so this composes the two
    supported stateful operators: watermarked dropDuplicates on
    (hour, event_type, user_id) -- state evicted as the watermark passes
    each hour -- feeding a windowed count (Spark's multi-stateful-operator
    chain, same watermark). The count is insensitive to WHICH duplicate row
    survives, so the result is deterministic and batch-oracle-matchable:
    oracle = COUNT(DISTINCT user_id) per window, cut at the final
    watermark (window_end <= max(date_trunc hour) - delay)."""
    # hour truncation via epoch-ms arithmetic, NOT date_trunc: date_trunc on
    # a TIMESTAMP truncates in SESSION timezone (wrong buckets on a
    # half-hour-offset TZ); floor(epoch_ms / 3600000) is TZ-independent and
    # matches the oracle's date_trunc over naive NTZ timestamps exactly.
    from ..functions.time import epoch_ms

    em = epoch_ms("ts")
    ev = events.select(
        F.timestamp_millis(em - em % 3600000).alias("hour"), "event_type", "user_id"
    )
    deduped = ev.withWatermark("hour", WATERMARK).dropDuplicates(
        ["hour", "event_type", "user_id"]
    )
    return (
        deduped.groupBy(F.window("hour", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("distinct_users"))
        .select(
            F.unix_millis(F.col("w.end")).alias("window_end_ms"),
            "event_type",
            "distinct_users",
        )
    )


def streaming_interval_join(
    clicks: DataFrame, purchases: DataFrame, how: str = "inner"
) -> DataFrame:
    """Stream-stream interval join: purchases matched to any same-user click
    in the preceding ``max_gap_ms`` (default 6 h) -- Structured Streaming's
    third stateful operator class (join state + watermark-bounded buffer
    eviction), the attribution-join shape. Both inputs are watermarked event
    streams; the time-range condition lets the engine evict click state once
    the watermark passes ts_click + max_gap.

    Inner-join results emit when matched (not held to the watermark), so an
    availableNow drain over a single-file source emits exactly the batch
    interval join -- the batch oracle needs no horizon cut.

    For ``how="leftOuter"`` the click side is preserved: an unmatched click
    emits a null-purchase row once the JOIN watermark -- the MIN of the two
    sides' watermarks -- passes ts_click + max_gap (state eviction proves no
    future match is possible). The oracle mirrors exactly that horizon."""
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        ntz_as_utc_instant().alias("ts_c"),
    ).withWatermark("ts_c", WATERMARK)
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        ntz_as_utc_instant().alias("ts_p"),
    ).withWatermark("ts_p", WATERMARK)
    joined = c.join(
        p,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("ts_c") <= F.col("ts_p"))
        & (F.col("ts_c") >= F.col("ts_p") - F.expr(f"INTERVAL {INTERVAL_JOIN_GAP_MS} MILLISECONDS")),
        how,
    )
    # gap in MICROseconds: the native precision, exact on both engines
    # (a per-side epoch_ms truncation and a diff-then-truncate disagree by
    # 1 ms when the sub-ms parts straddle a boundary)
    return joined.select(
        "purchase_id",
        "click_id",
        F.when(F.col("c_user").isNotNull(), F.col("c_user"))
        .otherwise(F.col("p_user"))
        .alias("user_id"),
        F.timestamp_diff("MICROSECOND", F.col("ts_c"), F.col("ts_p")).alias("gap_us"),
    )


def run_enrich_static_availablenow(events: DataFrame, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment -- the canonical Structured
    Streaming join shape a real event pipeline runs on every record:
    the event stream inner-joined to a BROADCAST dimension graph
    (customer |><| nation) keyed on user_id. Stateless (no watermark
    state, no eviction horizon): every matched row emits on processing,
    so the availableNow drain equals the plain batch join and the oracle
    needs no horizon cut.

    Scale shape (100 TB): the dimension side is built once per
    micro-batch plan from bounded dim tables and broadcast -- the stream
    side never shuffles; per-record cost is a hash-map probe inside
    whole-stage codegen. The two-hop dim graph (customer -> nation)
    collapses into ONE broadcast relation before the stream join, which
    is exactly how a star-schema enrichment should land on a cluster."""
    from ..functions.time import epoch_ms
    from ..sources.loaders import load_table

    spark = events.sparkSession
    cust = load_table(spark, "customer", sf_dir)
    nat = load_table(spark, "nation", sf_dir)
    dim = F.broadcast(
        cust.join(nat, cust["c_nationkey"] == nat["n_nationkey"]).select(
            F.col("c_custkey").alias("dim_key"),
            F.col("c_mktsegment").alias("segment"),
            F.col("n_name").alias("nation"),
        )
    )
    joined = events.join(dim, events["user_id"] == dim["dim_key"]).select(
        "event_id",
        "user_id",
        "event_type",
        epoch_ms("ts").alias("ts_ms"),
        "segment",
        "nation",
    )
    return drain_availablenow(joined, "streaming_enrich_static_gate")


def run_pit_enrichment_availablenow(
    events: DataFrame, sf_dir: str, query_name: str
) -> DataFrame:
    """Stream-static POINT-IN-TIME enrichment: the purchase stream joined
    per micro-batch to the batch-built SCD2 version dimension (view events
    -> half-open [valid_from, valid_to) version intervals via lead()) on
    user_id PLUS the interval residual -- each purchase picks up the
    attribute version valid AT its event time, the temporal upgrade of
    run_enrich_static's current-state join (the reference's
    enrich-at-event-time idea, TravelTimePrediction.java:93-114).

    Stateless inner stream-static join => rows emit on processing, no
    watermark state, so the availableNow drain equals the batch
    scd2_point_in_time_join row-for-row (including the boundary rule: a
    purchase exactly on a version boundary takes the NEW version -- strict
    < on valid_to -- and zero-width versions never match). The oracle is
    the same SQL, no horizon cut.

    Scale shape (100 TB): the dim is bounded (one row per attribute
    version) and broadcast once per micro-batch plan; the stream side
    never shuffles -- per-record cost is a hash probe on user_id plus an
    O(versions-per-user) residual interval scan inside codegen. A
    range-cartesian never appears because user_id is an equi-key."""
    from pyspark.sql import Window as W

    from ..functions.time import epoch_ms
    from ..sources.loaders import load_table

    ev = load_table(events.sparkSession, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    dim = F.broadcast(
        ev.where(F.col("event_type") == "view").select(
            F.col("user_id").alias("d_user_id"),
            F.col("event_id").alias("version_id"),
            epoch_ms("ts").alias("valid_from_ms"),
            epoch_ms(F.lead("ts").over(w)).alias("valid_to_ms"),
        )
    )
    stream = events.where(F.col("event_type") == "purchase")
    facts = stream.select(
        "event_id",
        "user_id",
        epoch_ms("ts").alias("ts_ms"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    joined = facts.join(
        dim,
        (facts["user_id"] == dim["d_user_id"])
        & (dim["valid_from_ms"] <= facts["ts_ms"])
        & (dim["valid_to_ms"].isNull() | (facts["ts_ms"] < dim["valid_to_ms"])),
    ).select("event_id", "user_id", "ts_ms", "cents", "version_id", "valid_from_ms")
    return drain_availablenow(joined, query_name)


def run_cdc_merge_availablenow(
    changes: DataFrame,
    keys: list[str],
    seq_cols: list[str],
    query_name: str,
    root: str | None = None,
) -> DataFrame:
    """Streaming MERGE (the foreachBatch upsert-sink pattern, the
    Delta/Hudi streaming-materialized-view shape): each micro-batch is
    folded onto a parquet-backed state table with
    ``operators/cdc.merge_latest`` -- last-writer-wins by ``seq_cols``,
    delete markers kept as tombstones -- and the final drained state
    (tombstones dropped) is returned.

    Correctness does NOT depend on batch boundaries: merge_latest is
    associative-by-key (the winner is whoever holds the max seq tuple),
    so any chunking of the change stream -- one batch or fifty -- folds to
    the same state as the one-shot batch merge; pytest pins that under
    chunked replay. Tombstones are the load-bearing detail: dropping
    deletes per batch would let an older row in a later batch resurrect a
    deleted key.

    Scale shape: per batch, one hash shuffle on the merge key of
    |state| + |batch| rows -- exactly what a Delta MERGE pays; the state
    table would be bucketed by key in a real layout, reducing it to the
    batch side only.

    The state table, replay skipping and the empty drain follow
    :func:`fold_availablenow`; pass a persistent ``root`` to resume an
    interrupted run
    (tests/test_streaming.py::test_streaming_cdc_merge_checkpoint_resume).
    """
    from ..operators.cdc import merge_latest

    def fold(state: DataFrame | None, batch: DataFrame) -> DataFrame:
        # first batch: no standing state yet -- reduce the batch alone
        return merge_latest(
            batch.limit(0) if state is None else state, batch, keys, seq_cols
        )

    final = fold_availablenow(changes, fold, query_name, root)
    return final.where(~F.col("is_delete")).drop("is_delete")


def run_snapshot_diff_availablenow(documents: DataFrame, sf_dir: str) -> DataFrame:
    """Streaming snapshot diff (the incremental twin of the batch
    snapshot_diff_documents query): snapshot A is the standing corpus
    (batch-built, static); snapshot B ARRIVES as the ``documents`` stream.
    The stream-static left join classifies each B row against A as it
    lands -- no A row => 'added', hash differs => 'changed', else
    'unchanged' -- and is drained in append mode; after the drain,
    'removed' = A anti-joined against the drained keys, and the unchanged
    rows are dropped from the result. This is the actual 100 TB ingest
    shape: the delta emits as the crawl lands, the full-outer join never
    materializes over both whole snapshots at once.

    Chunking invariance: doc_ids are unique within snapshot B and A is
    static, so each B row's classification is independent of batch
    boundaries, and 'removed' depends only on the drained key SET -- any
    chunking drains to the one-shot batch diff row-for-row (pinned by
    tests/test_streaming.py::test_streaming_query_replays_to_oracle).
    Keeping the unchanged rows in the drain is what lets the key set come
    from the drain itself.

    Scale shape: per batch, one hash join of the (small) arriving chunk
    against A on doc_id -- with A bucketed by doc_id at write time the
    probe is Exchange-free on A's side (the proven bucketed batch-diff
    layout, commit 9033a4d); comparison is on 16-byte md5 hashes, never
    raw text movement; the final anti-join runs once over A and the
    drained keys."""
    from ..sources.loaders import load_table

    docs = load_table(documents.sparkSession, "documents", sf_dir)
    snap_a = (
        docs.where(F.col("doc_id") % 10 != 0)
        .select(F.col("doc_id").alias("a_id"), F.md5("text").alias("old_hash"))
        .localCheckpoint()
    )
    b = documents.where(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("b_id"),
        F.md5(
            F.when(
                F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text"))
        ).alias("new_hash"),
    )
    classified = b.join(snap_a, b["b_id"] == snap_a["a_id"], "left").select(
        F.col("b_id").alias("doc_id"),
        F.when(F.col("a_id").isNull(), "added")
        .when(F.col("old_hash") != F.col("new_hash"), "changed")
        .otherwise("unchanged")
        .alias("status"),
        "old_hash",
        "new_hash",
    )
    drained = drain_availablenow(classified, "streaming_snapshot_diff_gate")
    removed = snap_a.join(
        drained, snap_a["a_id"] == drained["doc_id"], "left_anti"
    ).select(
        F.col("a_id").alias("doc_id"),
        F.lit("removed").alias("status"),
        "old_hash",
        F.lit(None).cast("string").alias("new_hash"),
    )
    return drained.where(F.col("status") != "unchanged").unionByName(removed)


def run_rollup_merge_availablenow(events: DataFrame) -> DataFrame:
    """Streaming incremental ROLLUP -- materialized-view maintenance, the
    most common production streaming job: each micro-batch is reduced to
    per-user partial aggregates (count, integer-cents sum, max event ms --
    all mergeable) and FOLDED onto a parquet-backed rollup table; the
    drained state must equal the one-shot batch aggregate because the
    folds are associative and commutative per key (count/sum add, max
    maxes), so ANY chunking lands on the same rollup -- pinned by
    tests/test_streaming.py::test_streaming_query_replays_to_oracle.

    Unlike the LWW cdc merge, an additive fold is NOT naturally
    idempotent: foreachBatch is at-least-once, and re-folding a replayed
    batch would double-count. :func:`fold_availablenow` skips any batch
    whose state version is already committed, so a replay cannot.

    Scale shape (100 TB/day of events): the per-batch fold shuffles ONE
    partial-aggregate row per active user in the batch (map-side combined
    before the shuffle), merged against |users| standing rows hash-keyed
    the same -- the rollup table would be bucketed by user_id in a real
    layout, making the fold's state side Exchange-free."""
    from ..functions.time import epoch_ms

    rows = events.select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents_v"),
        epoch_ms("ts").alias("ms"),
    )

    def fold(state: DataFrame | None, batch: DataFrame) -> DataFrame:
        partial = batch.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents_v").alias("cents"),
            F.max("ms").alias("last_ms"),
        )
        if state is None:
            return partial
        return (
            state.unionByName(partial)
            .groupBy("user_id")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("cents").alias("cents"),
                F.max("last_ms").alias("last_ms"),
            )
        )

    return fold_availablenow(rows, fold, "streaming_incremental_rollup_gate")


def _sketch_windows(
    events: DataFrame, cols: list, keys: list[str], aggs: list, cells=None
) -> DataFrame:
    """The one window frame of the windowed sketches -- the reference's
    fire-once-at-watermark window: the instant ``ts`` next to ``cols``,
    watermarked by WATERMARK, mapped to the sketch's rows by
    ``cells`` (a frame function that keeps ``ts``), grouped by the
    SKETCH_WINDOW tumbling window plus ``keys`` and folded by ``aggs``.
    Output (window_end_ms, keys..., aggs...); a (window, keys) row is
    emitted once, when the watermark passes the window end (the
    popular_places contract), and its state is evicted then.
    :func:`_window_ctes` is the oracles' twin of this frame."""
    ev = events.select(ntz_as_utc_instant().alias("ts"), *cols).withWatermark(
        "ts", WATERMARK
    )
    if cells is not None:
        ev = cells(ev)
    folded = ev.groupBy(F.window("ts", SKETCH_WINDOW).alias("w"), *keys).agg(*aggs)
    return folded.select(
        F.unix_millis(F.col("w.end")).alias("window_end_ms"), *folded.columns[1:]
    )


def _window_ctes(**cols: str) -> str:
    """DuckDB twin of :func:`_sketch_windows`' frame, as the leading CTEs
    of a windowed-sketch oracle: ``ev`` (ms, cols...) over events, its
    final instant ``mx``, ``evw`` (each event's epoch-aligned
    SKETCH_WINDOW end next to cols...) and ``wins``, the windows the final
    watermark has fired (end <= max - the WATERMARK delay). An
    oracle folds ``evw JOIN wins USING (window_end_ms)``."""
    w = SKETCH_WINDOW_MS
    exprs = ", ".join(f"{e} AS {name}" for name, e in cols.items())
    names = ", ".join(cols)
    return f"""WITH ev AS (SELECT epoch_ms(ts) AS ms, {exprs} FROM events),
mx AS (SELECT max(ms) AS m FROM ev),
evw AS (SELECT ms - ms % {w} + {w} AS window_end_ms, {names} FROM ev),
wins AS (
  SELECT DISTINCT window_end_ms FROM evw, mx
  WHERE window_end_ms <= m - {WATERMARK_MS}
)"""


def streaming_windowed_topk(events: DataFrame) -> DataFrame:
    """Windowed heavy hitters through the real engine: per event-time
    window, the k most frequent event types (count desc, type asc).

    Append-mode streaming forbids window functions over an aggregated
    stream, so the ranking CANNOT ride the stream -- and it doesn't need
    to: the stateful windowed count fires once per (window, type) when
    the watermark passes the window end, and the drained aggregate is
    |windows| x |types| rows, so the top-k rank is a bounded BATCH window
    over the drain result. The caller composes
    ``rank_topk_per_window(drain_availablenow(...))``; oracle = batch
    windowed counts cut at the final watermark, ranked the same.

    Scale shape: the stream pays one stateful shuffle keyed on
    (window, type) with watermark-bounded state; the ranking input is
    aggregate-sized (never raw events), partitioned by window."""
    return _sketch_windows(
        events, ["event_type"], ["event_type"], [F.count(F.lit(1)).alias("cnt")]
    )


def rank_topk_per_window(counts: DataFrame) -> DataFrame:
    """Batch ranking stage for :func:`streaming_windowed_topk`'s drained
    aggregate: top-k event types per window (count desc, type asc)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("window_end_ms").orderBy(F.desc("cnt"), F.asc("event_type"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= WINDOWED_TOPK_K)
        .select("window_end_ms", "rank", "event_type", "cnt")
    )


def streaming_windowed_hll(events: DataFrame) -> DataFrame:
    """Mergeable sketch ON the stream: per event-time window, HyperLogLog
    register maxes for the distinct-user estimate -- the streaming twin of
    the batch ``hll_distinct`` family, composed from the SAME register
    kernel (``operators/sketches.hll_cells``; the batch stage folds with
    ``hll_fold``).

    Why this shape: a register max is an associative+commutative fold, so
    it rides the watermarked windowed aggregation natively (fire-once per
    (window, bucket) at watermark passage), and the per-window state is
    CAPPED at m = 2**HLL_P registers no matter how many events the window
    sees: the defining sketch property, which is exactly what makes
    unbounded-cardinality distinct counting safe inside streaming state.
    The float estimate fold CANNOT ride along (append mode forbids
    re-aggregating the aggregate), and doesn't need to: the drain is
    <= |windows| x m rows, so :func:`hll_estimate_per_window` folds it as
    a bounded batch stage -- same composition as
    ``streaming_windowed_topk`` + its ranking stage.

    Scale shape: one stateful shuffle keyed on (window, bucket);
    watermark-bounded state, m-bounded per window."""
    from ..operators.sketches import hll_cells

    return _sketch_windows(
        events,
        ["user_id"],
        ["bucket"],
        [F.max("rho").alias("m_j")],
        cells=lambda ev: hll_cells(ev, "user_id", "ts"),
    )


def hll_estimate_per_window(regs: DataFrame) -> DataFrame:
    """Batch fold stage for :func:`streaming_windowed_hll`'s drained
    registers: the raw-estimator fold per window (``hll_fold`` and the
    same single-literal float arithmetic as the batch HLL -- raw
    estimator by design, no linear-counting correction)."""
    from ..operators.sketches import hll_fold, hll_numerator_lit

    est = F.lit(float(hll_numerator_lit())) / F.col("s")
    return hll_fold(regs, "window_end_ms").select(
        "window_end_ms",
        F.col("n_buckets").alias("n_nonempty_buckets"),
        F.round(est, 4).alias("hll_estimate"),
    )


def windowed_topk_oracle() -> str:
    """DuckDB oracle for the streaming_windowed_topk catalog entry: the
    fired windows' event-type counts, top-k per window (count desc, type
    asc)."""
    return f"""
{_window_ctes(event_type="event_type")},
counts AS (
  SELECT window_end_ms, event_type, CAST(count(*) AS BIGINT) AS cnt
  FROM evw JOIN wins USING (window_end_ms)
  GROUP BY 1, 2
)
SELECT window_end_ms, rank, event_type, cnt FROM (
  SELECT window_end_ms, event_type, cnt,
         CAST(row_number() OVER (PARTITION BY window_end_ms
                                 ORDER BY cnt DESC, event_type) AS INT) AS rank
  FROM counts
) WHERE rank <= {WINDOWED_TOPK_K}
"""


def windowed_hll_oracle() -> str:
    """DuckDB oracle for the streaming_windowed_hll catalog entry: the
    register kernel's SQL twin over each fired window, folded with the
    same single-literal float arithmetic as the batch hll_distinct
    oracle."""
    from ..operators.sketches import hll_cells_sql, hll_fold_sql, hll_numerator_lit

    cells = hll_cells_sql("evw JOIN wins USING (window_end_ms)", "user_id", "window_end_ms")
    return f"""
{_window_ctes(user_id="user_id")},
regs AS (
  SELECT window_end_ms, bucket, max(rho) AS m_j FROM ({cells}) GROUP BY 1, 2
)
SELECT window_end_ms,
       CAST(count(*) AS BIGINT) AS n_nonempty_buckets,
       round({hll_numerator_lit()} / ({hll_fold_sql()}), 4) AS hll_estimate
FROM regs GROUP BY 1
"""

def concurrency_profile_oracle() -> str:
    """DuckDB oracle for the streaming_concurrency_profile catalog entry:
    the streaming_sessionize oracle's session set (batch sessions, end
    shifted by the gap, cut at the final watermark) through the shared
    sweep SQL."""
    from ..operators.sessions import (
        DEFAULT_GAP_MS,
        concurrency_sweep_sql,
        sessionize_sql,
    )

    sessions_sql = f"""WITH s AS ({sessionize_sql()}),
mx AS (SELECT max(epoch_ms(ts)) AS m FROM events)
SELECT session_start_ms AS s, session_end_ms + {DEFAULT_GAP_MS} AS e
FROM s, mx
WHERE session_end_ms + {DEFAULT_GAP_MS} <= m - {WATERMARK_MS}"""
    return concurrency_sweep_sql(sessions_sql)

def streaming_windowed_histogram(events: DataFrame) -> DataFrame:
    """Fixed-width value histogram ON the stream: per event-time window,
    counts per bin_cents-wide value bucket -- the streaming twin of the
    batch histogram family (value_histogram / histogram_merge_shards)
    and the third mergeable sketch riding the watermarked windowed
    aggregation after top-k counts and HLL registers.

    Why FIXED-width bins: the batch histogram derives equi-width edges
    from the global min/max, which a stream cannot know ahead of time; a
    fixed bin width makes the per-bin count an associative+commutative
    fold with no data-dependent parameters, so it rides the stream
    natively (fire-once per (window, bin) at watermark passage) and
    per-window state is bounded by the value range over the bin width.
    bin = cents DIV bin_cents over NONNEGATIVE cents (events.value >= 0;
    Spark DIV truncates toward zero while DuckDB // floors, so the
    nonnegativity is what keeps the two spellings equal -- the CLAUDE.md
    per-engine-division rule).

    Scale shape: one stateful shuffle keyed on (window, bin),
    watermark-bounded state; the drain is |windows| x |occupied bins|
    rows, never raw events."""
    cents = F.floor(F.col("value") * F.lit(1e2) + F.lit(5e-1)).cast("bigint")
    return _sketch_windows(
        events,
        ["value"],
        ["bin"],
        [F.count(F.lit(1)).alias("cnt")],
        cells=lambda ev: ev.select("ts", cents.alias("c")).select(
            "ts", F.expr(f"c div {HISTOGRAM_BIN_CENTS}").alias("bin")
        ),
    )


def windowed_histogram_oracle() -> str:
    """DuckDB oracle for the streaming_windowed_histogram catalog entry:
    per fired window, the fixed-width bin counts."""
    return f"""
{_window_ctes(bin=f"CAST(floor(value * 1e2 + 5e-1) AS BIGINT) // {HISTOGRAM_BIN_CENTS}")}
SELECT window_end_ms, bin, CAST(count(*) AS BIGINT) AS cnt
FROM evw JOIN wins USING (window_end_ms)
GROUP BY window_end_ms, bin
"""


def run_scd2_maintenance_availablenow(events: DataFrame, query_name: str) -> DataFrame:
    """Streaming SCD2 HISTORY MAINTENANCE -- the third leg of the SCD2
    family: the batch scd2_user_history derives validity intervals in one
    shot, streaming_pit_enrichment CONSUMES a standing SCD2 dimension,
    and this runner PRODUCES the dimension incrementally from the change
    stream, the way a warehouse maintains a type-2 dimension off a CDC
    feed. Each micro-batch (foreachBatch): intra-batch intervals come
    from a lead window ordered by (epoch_us(ts), event_id) -- the full
    microsecond resolution of the oracle's ORDER BY ts, NOT the
    truncated output ms, which would tie same-millisecond events; every
    standing OPEN row (valid_to_ms IS NULL) whose user has new rows is
    CLOSED at the user's first new valid_from_ms; rows of untouched
    users pass through (one coalesce over a single left join -- closed
    rows keep their bound, open rows of absent users stay open). The
    drained table equals the one-shot batch lead window under ANY
    chunking (pinned by
    tests/test_streaming.py::test_streaming_query_replays_to_oracle)
    because the close bound a row receives is exactly the global
    next-event timestamp: intra-batch rows get it from the batch lead,
    and the batch-boundary row gets it from the next batch the user
    appears in.

    Ordering contract (the CDC-log contract): per-user rows must ARRIVE
    in (ts, event_id) order across batches -- true of any changelog
    consumed in commit order, and of this replay source (the parquet is
    globally ts-ordered and replay chunks carry strictly increasing
    mtimes). A disordered feed would need watermarked buffering ahead of
    the fold; that is the interval-join family's job, not the
    dimension-maintenance fold's.

    Idempotence under at-least-once foreachBatch: interval assignment is
    NOT naturally idempotent (re-closing with a replayed batch would
    re-append duplicate rows); :func:`fold_availablenow` skips any batch
    whose state version is already committed.

    Scale shape (100 TB/day of changes): the per-batch work is one
    window over the BATCH (small), one hash join of the standing
    dimension against the batch's per-user min (keyed the same -- a
    bucketed dimension layout makes the state side Exchange-free), and
    the full-table rewrite that a transactional table format (or
    partition-scoped MERGE on user buckets) replaces with a commit in
    production -- same adjudicated trade as the cdc merge and the
    incremental rollup."""
    from pyspark.sql import Window
    from ..functions.time import epoch_ms, epoch_us

    # ms is the OUTPUT value (the oracle emits epoch_ms); us is the ORDERING
    # key at the timestamp's full microsecond resolution -- ordering by the
    # truncated ms would tie same-millisecond events that the oracle's
    # ORDER BY ts distinguishes (review catch; latent on this perfectly
    # ordered testdata, real on any same-ms feed)
    rows = events.select(
        "user_id",
        "event_id",
        epoch_ms("ts").alias("ms"),
        epoch_us().alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")

    def fold(state: DataFrame | None, batch: DataFrame) -> DataFrame:
        new_rows = batch.select(
            "user_id",
            "event_id",
            F.col("ms").alias("valid_from_ms"),
            F.lead("ms").over(w).alias("valid_to_ms"),
        )
        if state is None:
            return new_rows
        # min(ms) needs no tie-break: ms is monotone nondecreasing in
        # us, so min over the batch equals the ms of the
        # (us, event_id)-first row -- the exact close bound
        firsts = batch.groupBy("user_id").agg(F.min("ms").alias("first_ms"))
        closed = state.join(firsts, "user_id", "left").select(
            "user_id",
            "event_id",
            "valid_from_ms",
            # closed rows keep their bound; open rows close at the
            # user's first new event; users absent from the batch
            # stay open (first_ms NULL)
            F.coalesce("valid_to_ms", "first_ms").alias("valid_to_ms"),
        )
        return closed.unionByName(new_rows)

    return fold_availablenow(rows, fold, query_name)


def quantile_from_binned(
    bins: DataFrame,
    pcts: tuple = WINDOWED_QUANTILE_PCTS,
    bin_cents: int = HISTOGRAM_BIN_CENTS,
) -> DataFrame:
    """Bounded batch stage for the gated streaming windowed quantile:
    exact discrete quantiles OVER THE BINNED VALUES from a per-window
    fixed-width histogram (window_end_ms, bin, cnt). For each requested
    percentile p, the selected bin is the one containing rank
    r = ceil(p*n/100) in the cumulative walk; both bounds are evaluated
    by integer cross-multiplication (a < ceil(x) <=> a < x for integer a,
    so the pair is 100*(cum-cnt) < p*n AND 100*cum >= p*n -- no ceil, no
    floats). Output (window_end_ms, pct, est_floor_cents, n_values), all
    BIGINT; est_floor_cents = bin * bin_cents is the bin's lower edge,
    the resolution the fixed-width sketch carries.

    Scale shape: the cumulative window partitions by window_end_ms
    (parallel across windows) over the DRAINED histogram -- |windows| x
    |occupied bins| rows, never raw events; the pct explode multiplies
    that bounded frame by len(pcts)."""
    from pyspark.sql import Window

    wcum = (
        Window.partitionBy("window_end_ms")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("window_end_ms")
    c = bins.select(
        "window_end_ms",
        "bin",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    p = c.select(
        "*", F.explode(F.array(*[F.lit(x) for x in pcts])).alias("pct")
    )
    return (
        p.where(
            (100 * (F.col("cum") - F.col("cnt")) < F.col("pct") * F.col("n"))
            & (100 * F.col("cum") >= F.col("pct") * F.col("n"))
        )
        .select(
            F.col("window_end_ms").cast("bigint").alias("window_end_ms"),
            F.col("pct").cast("bigint").alias("pct"),
            (F.col("bin") * F.lit(bin_cents)).cast("bigint").alias("est_floor_cents"),
            F.col("n").cast("bigint").alias("n_values"),
        )
    )


def windowed_quantile_oracle() -> str:
    """DuckDB oracle for the streaming_windowed_quantile catalog entry: the
    windowed-histogram oracle as a CTE (nested WITH -- the
    ann_recall_at_k precedent), the same integer cross-multiplied
    cumulative walk, BIGINT casts on the DuckDB sum() outputs (HUGEINT
    -> float64 dtype skew otherwise)."""
    vals = ", ".join(f"({x})" for x in WINDOWED_QUANTILE_PCTS)
    return f"""
WITH h AS ({windowed_histogram_oracle()}),
c AS (
  SELECT window_end_ms, bin, cnt,
         sum(cnt) OVER (PARTITION BY window_end_ms ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(cnt) OVER (PARTITION BY window_end_ms) AS n
  FROM h
),
pcts(pct) AS (VALUES {vals})
SELECT CAST(window_end_ms AS BIGINT) AS window_end_ms,
       CAST(pct AS BIGINT) AS pct,
       CAST(bin * {HISTOGRAM_BIN_CENTS} AS BIGINT) AS est_floor_cents,
       CAST(n AS BIGINT) AS n_values
FROM c, pcts
WHERE 100 * (cum - cnt) < pct * n AND 100 * cum >= pct * n
"""


# ---------------------------------------------------------------------------
# Streaming windowed Count-Min sketch.
# ---------------------------------------------------------------------------

# md5(key) % MOD == 0 picks the deterministic audit panel; 7 keeps the
# panel non-empty even at the sf0.001 smoke scale (15 distinct users)
CMS_PANEL_MOD = 7
# Width sized the hll_intersection way: small enough that the one-sided
# error is actually VISIBLE on this corpus (width 64 -> ~20% of sf0.01
# panel rows carry overcount > 0; 256+ collides nowhere and the
# min-over-rows estimator degenerates to a pass-through), large enough
# that estimates stay within a few counts of exact. Production raises
# width with the key cardinality -- state is d x width cells per open
# window either way.
CMS_STREAM_WIDTH = 64


def _md5_panel(events: DataFrame) -> DataFrame:
    """The deterministic md5 audit-key panel (md5(user_id) % CMS_PANEL_MOD
    == 0) shared by the CMS and Bloom est-vs-truth batch stages -- ONE
    definition so the two audits cannot drift."""
    from ..functions.hashing import md5_long

    return (
        events.select(F.col("user_id").cast("string").alias("k"))
        .distinct()
        .where(md5_long(F.col("k")) % CMS_PANEL_MOD == 0)
    )


def _panel_sql() -> str:
    """DuckDB fragment of :func:`_md5_panel` over the oracles' ``ev``
    CTE -- byte-identical to the text the CMS oracle always embedded."""
    from ..functions.hashing import md5_long_sql

    return (
        f"SELECT DISTINCT k FROM ev WHERE "
        f"({md5_long_sql('CAST(k AS VARCHAR)')}) % {CMS_PANEL_MOD} = 0"
    )


def _window_end_expr(window_ms: int = SKETCH_WINDOW_MS):
    """The epoch-aligned tumbling-window END expression every exact-side
    batch stage must share with the streaming fold. window_ms MUST match
    the streaming side's window, or the exact-side buckets miss the
    drained window keys and every exact count/presence/overlap silently
    coalesces to 0; only minhash_window_similarity takes it as a
    parameter (its tests drive hand-built second-wide windows)."""
    from ..functions.time import epoch_ms

    em = epoch_ms("ts")
    return em - em % window_ms + window_ms


def _panel_window_events(events: DataFrame, panel: DataFrame) -> DataFrame:
    """Exact-side (window_end_ms, k = user_id) rows of panel keys for the
    CMS and Bloom est-vs-truth stages."""
    return events.select(
        _window_end_expr().alias("window_end_ms"),
        F.col("user_id").cast("string").alias("k"),
    ).join(panel, "k")


def streaming_windowed_cms(events: DataFrame) -> DataFrame:
    """Count-Min sketch ON the stream: per event-time window, the d x w
    cell counts of a CMS over ``key_col`` -- the FOURTH mergeable sketch
    riding the watermarked windowed aggregation, after top-k counts
    (exact heavy hitters), HLL registers (distinct), and fixed-width
    histogram bins (distribution). Where streaming_windowed_topk keeps
    exact per-key state (state grows with distinct keys per window), the
    CMS caps per-window state at d x w integer cells REGARDLESS of key
    cardinality -- the trade a 100 TB/day key space forces.

    The per-cell count is an associative+commutative fold with no
    data-dependent parameters (the fixed-width-histogram argument), so
    it streams natively: each event explodes to d (row, bucket) cells
    through the SAME cell kernel as the gated batch countmin_token_freq
    (``operators/sketches.cms_cells``), and the windowed count fires once
    per (window, r, bucket) at watermark passage.

    Scale shape: one stateful shuffle keyed on (window, r, bucket);
    state bounded at d x w cells per open window, watermark-evicted;
    the drain is |windows| x occupied-cells rows, never raw events."""
    from ..operators.sketches import cms_cells

    return _sketch_windows(
        events,
        [F.col("user_id").cast("string").alias("k")],
        ["r", "bucket"],
        [F.count(F.lit(1)).alias("cell_sum")],
        cells=lambda ev: cms_cells(ev, "ts", width=CMS_STREAM_WIDTH),
    )


def cms_window_estimates(
    cells: DataFrame, events: DataFrame, width: int = CMS_STREAM_WIDTH
) -> DataFrame:
    """Bounded batch stage over the DRAINED cells (the windowed_topk /
    quantile composition pattern): estimate each fired window's activity
    count for a deterministic md5-chosen panel of keys, next to the
    exact count -- the est-vs-truth audit shape (countmin_token_freq's
    ``overcount``, per window). The estimate is min over the d rows of
    the panel key's cells, with an ABSENT cell read as 0 (no row was
    ever folded there), so panel keys with no activity in a window get
    an honest >= 0 estimate instead of dropping out.

    Output (window_end_ms, user_id, exact_cnt, est_cnt, overcount), all
    BIGINT; est_cnt >= exact_cnt row-wise (one-sided CMS error).

    Scale shape: the panel is md5-bounded, the fired-window list is
    drain-sized, and the probe is a (windows x panel x d)-row frame
    joined against the drained cells -- bounded scalar/boundary frames,
    never a corpus pass; the exact twin is one hash aggregate over the
    panel-filtered batch scan (the audit's deliberate exact pass, the
    index_staleness policy)."""
    from ..operators.sketches import cms_cells

    # drain-sized and consumed TWICE (the fired-window list and the
    # estimate join) -- localCheckpoint once (the multi-consumer rule;
    # also breaks the self-join attribute ambiguity of rejoining the
    # memory-sink relation against its own projection)
    cells = cells.localCheckpoint()
    panel = _md5_panel(events)
    probe_cells = cms_cells(panel, "k", width=width)
    wins = cells.select("window_end_ms").distinct()
    est = (
        wins.crossJoin(probe_cells)
        .join(cells, ["window_end_ms", "r", "bucket"], "left")
        .groupBy("window_end_ms", "k")
        .agg(F.min(F.coalesce(F.col("cell_sum"), F.lit(0))).alias("est_cnt"))
    )
    exact = (
        _panel_window_events(events, panel)
        .groupBy("window_end_ms", "k")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    return (
        est.join(exact, ["window_end_ms", "k"], "left")
        .select(
            F.col("window_end_ms").cast("bigint").alias("window_end_ms"),
            F.col("k").cast("bigint").alias("user_id"),
            F.coalesce(F.col("exact_cnt"), F.lit(0)).cast("bigint").alias("exact_cnt"),
            F.col("est_cnt").cast("bigint").alias("est_cnt"),
            (F.col("est_cnt") - F.coalesce(F.col("exact_cnt"), F.lit(0)))
            .cast("bigint")
            .alias("overcount"),
        )
    )


def windowed_cms_oracle() -> str:
    """DuckDB oracle for the streaming_windowed_cms catalog entry: the
    cell kernel's SQL twin folded per (window, r, bucket) over the fired
    windows, the same md5-panel probe, min-over-rows estimate with absent
    cells read as 0, and the exact panel counts -- all integer
    arithmetic, BIGINT casts on the DuckDB count() outputs (HUGEINT
    dtype-skew rule)."""
    from ..operators.sketches import cms_cells_sql

    cells = cms_cells_sql(
        "evw JOIN wins USING (window_end_ms)", "window_end_ms", width=CMS_STREAM_WIDTH
    )
    return f"""
{_window_ctes(k="CAST(user_id AS VARCHAR)")},
cells AS (
  SELECT window_end_ms, r, bucket, CAST(count(*) AS BIGINT) AS cell_sum
  FROM ({cells}) GROUP BY 1, 2, 3
),
panel AS (
  {_panel_sql()}
),
probe_cells AS ({cms_cells_sql("panel", "k", width=CMS_STREAM_WIDTH)}),
est AS (
  SELECT w.window_end_ms, p.k,
         CAST(min(coalesce(c.cell_sum, 0)) AS BIGINT) AS est_cnt
  FROM wins w CROSS JOIN probe_cells p
  LEFT JOIN cells c
    ON c.window_end_ms = w.window_end_ms AND c.r = p.r AND c.bucket = p.bucket
  GROUP BY 1, 2
),
exact AS (
  SELECT window_end_ms, k, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM evw JOIN wins USING (window_end_ms) JOIN panel USING (k)
  GROUP BY 1, 2
)
SELECT CAST(e.window_end_ms AS BIGINT) AS window_end_ms,
       CAST(e.k AS BIGINT) AS user_id,
       CAST(coalesce(x.exact_cnt, 0) AS BIGINT) AS exact_cnt,
       e.est_cnt,
       CAST(e.est_cnt - coalesce(x.exact_cnt, 0) AS BIGINT) AS overcount
FROM est e LEFT JOIN exact x ON x.window_end_ms = e.window_end_ms AND x.k = e.k
"""


# ---------------------------------------------------------------------------
# Streaming windowed MinHash signatures (FIFTH mergeable sketch on-stream)
# ---------------------------------------------------------------------------

MH_STREAM_K = 16  # permutations: estimator granularity 1/16 = 62500 ppm,
#                   coarse enough that est-vs-exact divergence is VISIBLE
#                   at sf0.01 (the CMS width-64 / hll_intersection sizing
#                   rule) while the per-window state stays 16 BIGINTs


def streaming_windowed_minhash(events: DataFrame, k: int = MH_STREAM_K) -> DataFrame:
    """MinHash signatures ON the stream: per event-time window, the
    k-permutation signature (min of each permuted md5 over the window's
    keys) -- the FIFTH mergeable sketch riding the watermarked windowed
    aggregation, after top-k / HLL / histogram / CMS, and the one that
    answers SET-SIMILARITY questions (audience overlap between windows)
    where HLL answers cardinality and CMS answers point frequency.

    min is the canonical associative+commutative idempotent fold
    (Broder 1997's resemblance sketch), so it streams natively with no
    data-dependent parameters; duplicates of a key cannot move the min,
    so the signature is a pure function of the window's DISTINCT key
    set under any arrival order or chunking. Permutations reuse the
    gated batch dedup's ``_MINHASH_PARAMS`` universal-hash family over
    the shared md5 base -- identical literals in the DuckDB oracle.

    Scale shape: one stateful shuffle keyed on the window; state capped
    at k BIGINT cells per open window REGARDLESS of key cardinality (the
    CMS argument, 16 cells vs its d x 64); the drain is |windows| x k
    rows, never raw events."""
    from ..functions.hashing import md5_long, permuted_hash
    from ..operators.dedup import _MINHASH_PARAMS

    # a k beyond the family would surface as an unresolved h{r} column;
    # guard explicitly (the value_acf_lags parameter-guard convention),
    # mirrored in the oracle twin
    if not 1 <= k <= len(_MINHASH_PARAMS):
        raise ValueError(
            f"k must be in 1..{len(_MINHASH_PARAMS)} "
            f"(the universal-hash family size), got {k}"
        )
    base = md5_long(F.col("k"))
    # the k mins are k aggregate COLUMNS of one window-keyed aggregation
    # (aggregate before you shuffle: no k-fold explode of every event),
    # and the (r, sig) rows are exploded AFTER aggregation from the
    # |windows|-bounded frame; min per column is the same idempotent
    # fold, so rows are identical under any arrival order or chunking
    mins = [
        F.min(permuted_hash(base, a, b).cast("bigint")).alias(f"h{r}")
        for r, (a, b) in enumerate(_MINHASH_PARAMS[:k])
    ]
    agg = _sketch_windows(events, [F.col("user_id").cast("string").alias("k")], [], mins)
    cells = F.array(
        *[
            F.struct(
                F.lit(r).cast("bigint").alias("r"),
                F.col(f"h{r}").alias("sig"),
            )
            for r in range(k)
        ]
    )
    return agg.select("window_end_ms", F.explode(cells).alias("c")).select(
        "window_end_ms",
        F.col("c.r").alias("r"),
        F.col("c.sig").cast("bigint").alias("sig"),
    )


def minhash_window_similarity(
    sigs: DataFrame, events: DataFrame, k: int = MH_STREAM_K, window_ms: int = SKETCH_WINDOW_MS
) -> DataFrame:
    """Bounded batch stage over the DRAINED signatures (the windowed
    topk/quantile/CMS composition pattern): estimate the Jaccard
    similarity of CONSECUTIVE windows' key sets from signature
    agreement (matching permutations / k), next to the exact Jaccard
    from the batch table -- the est-vs-truth audit shape, measuring
    audience churn window-over-window.

    Output (window_a_end_ms, window_b_end_ms, n_perms, sig_matches,
    est_jaccard_ppm, exact_jaccard_ppm), all BIGINT; E[matches/k] = J
    (per-permutation match probability IS the Jaccard). The union is
    >= 1 structurally (both windows fired, so each saw >= 1 key) --
    no division guard needed even under ANSI. Integer ppm via DIV.

    Scale shape: every frame after the drain is |windows|- or
    (|windows| x |keys-per-window|)-bounded, never a raw-event pass
    except the exact side's ONE distinct aggregate (the audit's
    deliberate exact pass, the index_staleness policy). The drained
    signature frame feeds the fired-window list and both pair sides
    (localCheckpoint once -- also breaks the memory-sink self-join
    ambiguity, the CMS lesson); the distinct (window, key) frame feeds
    the per-window counts and both intersection sides (checkpointed
    once, bounded by windows x distinct keys)."""

    sigs = sigs.localCheckpoint()
    wins = sigs.select("window_end_ms").distinct()
    pairs = wins.select(F.col("window_end_ms").alias("wa")).join(
        wins.select(F.col("window_end_ms").alias("wb")),
        F.col("wb") == F.col("wa") + F.lit(window_ms),
    )
    sa = sigs.select(F.col("window_end_ms").alias("wa"), "r", F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("window_end_ms").alias("wb"), "r", F.col("sig").alias("sig_b"))
    matches = (
        pairs.join(sa, "wa")
        .join(sb, ["wb", "r"])
        .groupBy("wa", "wb")
        .agg(
            F.sum(F.when(F.col("sig_a") == F.col("sig_b"), 1).otherwise(0))
            .cast("bigint")
            .alias("sig_matches")
        )
    )
    du = (
        events.select(
            _window_end_expr(window_ms).alias("window_end_ms"),
            F.col("user_id").cast("string").alias("u"),
        )
        .join(wins, "window_end_ms")
        .distinct()
        .localCheckpoint()
    )
    cnt = du.groupBy("window_end_ms").agg(
        F.count(F.lit(1)).cast("bigint").alias("nu")
    )
    inter = (
        pairs.join(du.select(F.col("window_end_ms").alias("wa"), "u"), "wa")
        .join(du.select(F.col("window_end_ms").alias("wb"), "u"), ["wb", "u"])
        .groupBy("wa", "wb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    return (
        pairs.join(cnt.select(F.col("window_end_ms").alias("wa"), F.col("nu").alias("na")), "wa")
        .join(cnt.select(F.col("window_end_ms").alias("wb"), F.col("nu").alias("nb")), "wb")
        .join(matches, ["wa", "wb"])
        .join(inter, ["wa", "wb"], "left")
        .select(
            F.col("wa").cast("bigint").alias("window_a_end_ms"),
            F.col("wb").cast("bigint").alias("window_b_end_ms"),
            F.lit(k).cast("bigint").alias("n_perms"),
            F.col("sig_matches"),
            F.expr(f"(1000000 * sig_matches) DIV {k}")
            .cast("bigint")
            .alias("est_jaccard_ppm"),
            F.expr(
                "(1000000 * coalesce(inter, 0))"
                " DIV (na + nb - coalesce(inter, 0))"
            )
            .cast("bigint")
            .alias("exact_jaccard_ppm"),
        )
    )


def windowed_minhash_oracle(k: int = MH_STREAM_K) -> str:
    """DuckDB oracle for the streaming_windowed_minhash catalog entry: the
    same per-(window, r) min fold over the fired windows, the same
    consecutive-window pairing, signature-match count and exact
    distinct-key Jaccard -- all integer arithmetic, BIGINT casts on the
    DuckDB count()/sum() outputs (HUGEINT dtype-skew rule)."""
    from ..functions.hashing import md5_long_sql, permuted_hash_sql
    from ..operators.dedup import _MINHASH_PARAMS

    if not 1 <= k <= len(_MINHASH_PARAMS):
        raise ValueError(
            f"k must be in 1..{len(_MINHASH_PARAMS)} "
            f"(the universal-hash family size), got {k}"
        )
    base = md5_long_sql("k")
    sig_rows = " UNION ALL ".join(
        f"SELECT window_end_ms, CAST({r} AS BIGINT) AS r, "
        f"CAST(min({permuted_hash_sql(base, a, b)}) AS BIGINT) AS sig "
        f"FROM evw JOIN wins USING (window_end_ms) GROUP BY 1"
        for r, (a, b) in enumerate(_MINHASH_PARAMS[:k])
    )
    w = SKETCH_WINDOW_MS
    return f"""
{_window_ctes(k="CAST(user_id AS VARCHAR)")},
sig AS ({sig_rows}),
du AS (SELECT DISTINCT window_end_ms, k FROM evw JOIN wins USING (window_end_ms)),
cnt AS (
  SELECT window_end_ms, CAST(count(*) AS BIGINT) AS nu FROM du GROUP BY 1
),
pairs AS (
  SELECT a.window_end_ms AS wa, b.window_end_ms AS wb
  FROM wins a JOIN wins b ON b.window_end_ms = a.window_end_ms + {w}
),
m2 AS (
  SELECT p.wa, p.wb,
         CAST(sum(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS BIGINT)
           AS sig_matches
  FROM pairs p
  JOIN sig sa ON sa.window_end_ms = p.wa
  JOIN sig sb ON sb.window_end_ms = p.wb AND sb.r = sa.r
  GROUP BY 1, 2
),
ix AS (
  SELECT p.wa, p.wb, CAST(count(*) AS BIGINT) AS inter
  FROM pairs p
  JOIN du a ON a.window_end_ms = p.wa
  JOIN du b ON b.window_end_ms = p.wb AND b.k = a.k
  GROUP BY 1, 2
)
SELECT CAST(p.wa AS BIGINT) AS window_a_end_ms,
       CAST(p.wb AS BIGINT) AS window_b_end_ms,
       CAST({k} AS BIGINT) AS n_perms,
       m2.sig_matches,
       CAST((1000000 * m2.sig_matches) // {k} AS BIGINT) AS est_jaccard_ppm,
       CAST((1000000 * coalesce(ix.inter, 0))
            // (ca.nu + cb.nu - coalesce(ix.inter, 0)) AS BIGINT)
         AS exact_jaccard_ppm
FROM pairs p
JOIN m2 ON m2.wa = p.wa AND m2.wb = p.wb
JOIN cnt ca ON ca.window_end_ms = p.wa
JOIN cnt cb ON cb.window_end_ms = p.wb
LEFT JOIN ix ON ix.wa = p.wa AND ix.wb = p.wb
"""


# ---------------------------------------------------------------------------
# Streaming windowed Bloom filter (SIXTH mergeable sketch on-stream)
# ---------------------------------------------------------------------------

BLOOM_STREAM_WORDS = 8  # 63 bits/word = 504 bits; sized so the one-sided
#                         false-positive error is VISIBLE at sf0.01 (~64
#                         distinct keys/window -> 66 measured FPs over the
#                         ~2000 absent panel probes -- the CMS width-64 /
#                         MinHash k=16 sizing rule; at 260 words nothing
#                         collides and the audit degenerates to
#                         pass-through; at sf0.001 windows are too thin to
#                         collide, so visibility is asserted by the sf0.01
#                         gate, not the sf0.001 pytest fixture)


def streaming_windowed_bloom(events: DataFrame) -> DataFrame:
    """Bloom filter ON the stream: per event-time window, the bit_or-folded
    word vector of a Bloom filter over ``key_col`` -- the SIXTH mergeable
    sketch riding the watermarked windowed aggregation, after top-k / HLL
    / histogram / CMS / MinHash, and the one answering MEMBERSHIP
    questions ("was key k active in window w?") where HLL answers
    cardinality, CMS point frequency, and MinHash set similarity.

    bit_or is associative + commutative + IDEMPOTENT (the MinHash min
    argument), so the drained words are a pure function of each window's
    DISTINCT key set under any arrival order, chunking, or duplicate
    delivery. Cells come from the gated batch Bloom's cell kernel
    (``operators/bloom._cells``, the ``_BLOOM_PARAMS`` universal-hash
    family over the shared md5 base; identical literals in the DuckDB
    oracle); the one-sided contract is NO FALSE NEGATIVES -- a present
    key always hits, an absent key hits with the documented collision
    probability.

    Scale shape (100 TB): one stateful shuffle keyed on (window, word);
    state capped at n_words BIGINT cells per open window REGARDLESS of
    key cardinality; the membership walk in the batch stage touches
    |windows| x panel x K rows, never raw events."""
    from ..operators.bloom import _cells

    def cells(ev: DataFrame) -> DataFrame:
        return ev.select(
            "ts", F.explode(F.array(*_cells(F.col("k"), BLOOM_STREAM_WORDS))).alias("c")
        ).select("ts", F.col("c.word").alias("word"), F.col("c.bit").alias("bit"))

    return _sketch_windows(
        events,
        [F.col("user_id").cast("string").alias("k")],
        ["word"],
        [F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))")).alias("bits")],
        cells=cells,
    )


def bloom_window_membership(words: DataFrame, events: DataFrame) -> DataFrame:
    """Bounded batch stage over the DRAINED per-window Bloom words (the
    cms_window_estimates composition): probe every fired window's filter
    with the deterministic md5-chosen key panel and grade membership
    against the exact per-window presence -- the est-vs-truth audit shape
    with the Bloom one-sided contract (bloom_hit >= present row-wise;
    false_positive = bloom_hit AND NOT present; a false NEGATIVE is
    structurally impossible and the readiness differential would catch
    one as a value mismatch).

    Output (window_end_ms, user_id, present, bloom_hit, false_positive),
    all BIGINT 0/1 flags apart from the keys.

    Scale shape: the panel is md5-bounded, the fired-window list is
    drain-sized, and the probe joins (windows x panel x K) rows against
    the n_words-bounded drained state -- never a corpus pass; the exact
    side is one hash aggregate over the panel-filtered batch scan (the
    audit's deliberate ground truth, the index_staleness policy)."""
    from ..operators.bloom import _cells

    # drain-sized and consumed twice (fired-window list + the probe join)
    # -- localCheckpoint once (multi-consumer rule; also breaks the
    # memory-sink self-join attribute ambiguity)
    words = words.localCheckpoint()
    panel = _md5_panel(events)
    probe_cells = panel.select(
        "k", F.explode(F.array(*_cells(F.col("k"), BLOOM_STREAM_WORDS))).alias("c")
    ).select(
        "k",
        F.col("c.word").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(c.bit AS INT))").alias("mask"),
    )
    wins = words.select("window_end_ms").distinct()
    probed = (
        wins.crossJoin(probe_cells)
        .join(words, ["window_end_ms", "word"], "left")
        .groupBy("window_end_ms", "k")
        .agg(
            F.min(
                F.when(
                    F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask"))
                    != 0,
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("bloom_hit")
        )
    )
    exact = (
        _panel_window_events(events, panel)
        .groupBy("window_end_ms", "k")
        .agg(F.lit(1).alias("present"))
    )
    return (
        probed.join(exact, ["window_end_ms", "k"], "left")
        .select(
            F.col("window_end_ms").cast("bigint").alias("window_end_ms"),
            F.col("k").cast("bigint").alias("user_id"),
            F.coalesce(F.col("present"), F.lit(0)).cast("bigint").alias("present"),
            F.col("bloom_hit").cast("bigint").alias("bloom_hit"),
            (
                F.col("bloom_hit")
                * (F.lit(1) - F.coalesce(F.col("present"), F.lit(0)))
            )
            .cast("bigint")
            .alias("false_positive"),
        )
    )


def windowed_bloom_oracle() -> str:
    """DuckDB oracle for the streaming_windowed_bloom catalog entry: the same
    per-(window, word) bit_or fold over the fired windows, the same
    md5-panel probe cells, min-over-cells membership with absent words
    read as 0 -- all integer arithmetic, BIGINT casts on DuckDB
    aggregate outputs (HUGEINT dtype-skew rule)."""
    from ..functions.hashing import md5_long_sql, permuted_hash_sql
    from ..operators.bloom import _BLOOM_PARAMS

    base = md5_long_sql("CAST(k AS VARCHAR)")
    m_bits = 63 * BLOOM_STREAM_WORDS
    # pos computed ONCE per hash param, word/bit derived from it -- the
    # batch Bloom oracles' established pos-first form (bloom.py
    # bloom_semijoin_audit_sql / bloom_skipping_audit_sql)
    cell_rows = " UNION ALL ".join(
        f"SELECT window_end_ms, pos // 63 AS word, pos % 63 AS bit FROM ("
        f"SELECT window_end_ms, ({permuted_hash_sql(base, a, b)}) % {m_bits}"
        f" AS pos FROM evw JOIN wins USING (window_end_ms))"
        for a, b in _BLOOM_PARAMS
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT k, pos // 63 AS word, "
        f"(1::BIGINT << CAST(pos % 63 AS INT)) AS mask FROM ("
        f"SELECT k, ({permuted_hash_sql(base, a, b)}) % {m_bits} AS pos "
        f"FROM panel)"
        for a, b in _BLOOM_PARAMS
    )
    return f"""
{_window_ctes(k="CAST(user_id AS VARCHAR)")},
words AS (
  SELECT window_end_ms, word,
         CAST(bit_or(1::BIGINT << CAST(bit AS INT)) AS BIGINT) AS bits
  FROM ({cell_rows}) GROUP BY 1, 2
),
panel AS (
  {_panel_sql()}
),
probe_cells AS ({probe_rows}),
probed AS (
  SELECT w.window_end_ms, p.k,
         CAST(min(CASE WHEN (coalesce(c.bits, 0) & p.mask) <> 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS bloom_hit
  FROM wins w CROSS JOIN probe_cells p
  LEFT JOIN words c ON c.window_end_ms = w.window_end_ms AND c.word = p.word
  GROUP BY 1, 2
),
exact AS (
  SELECT DISTINCT window_end_ms, k, 1 AS present
  FROM evw JOIN wins USING (window_end_ms) JOIN panel USING (k)
)
SELECT CAST(p.window_end_ms AS BIGINT) AS window_end_ms,
       CAST(p.k AS BIGINT) AS user_id,
       CAST(coalesce(x.present, 0) AS BIGINT) AS present,
       p.bloom_hit,
       CAST(p.bloom_hit * (1 - coalesce(x.present, 0)) AS BIGINT) AS false_positive
FROM probed p LEFT JOIN exact x ON x.window_end_ms = p.window_end_ms AND x.k = p.k
"""
