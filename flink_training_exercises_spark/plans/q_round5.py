"""Quality flags, segment dedup, chunking, Markov transitions, z-score anomalies, layout/skipping audits (zonemap, Hilbert, Bloom point-predicate), PIT joins, CUBE, snapshot diffs (batch+streaming), salted join, skew profile, the value-series screens (OLS/CUSUM/Theil-Sen trends, LTOB downsampling), and the distribution, autocorrelation, Mann-Kendall and RFM screens.

Registration module: imported by plans.catalog for its @register side
effects; the shared QuerySpec registry, query order and determinism
rules live in plans/catalog.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..sources import load_table
from .catalog import register
from ..operators import (
    bloom,
    dedup,
    sessions,
    sketches,
    skew,
    textstats,
    timeseries,
)


# ---------------------------------------------------------------------------
# Gopher quality-filter flags (Rae et al. 2021 Table A1)
# ---------------------------------------------------------------------------


@register(
    "gopher_quality_flags",
    oracle=textstats.gopher_quality_flags_sql(),
    doc="Gopher-rule quality flags per document (word-count bounds, "
    "mean-word-length bounds, alphabetic-word fraction, canonical 8-word "
    "stopword presence) plus the combined pass flag; every threshold an "
    "integer cross-multiplication, map-only over the corpus scan.",
)
def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return textstats.gopher_quality_flags(docs)

# ---------------------------------------------------------------------------
# CCNet-style corpus-wide segment dedup (keep-first)
# ---------------------------------------------------------------------------


@register(
    "segment_dedup_keepfirst",
    oracle=dedup.segment_dedup_keepfirst_sql(),
    doc="CCNet-style segment-hash dedup (Wenzek et al. 2020): fixed-width "
    "token segments hashed corpus-wide, first occurrence (lowest doc_id, "
    "seg_idx) kept, per-doc retention counts; one window shuffle on the "
    "segment hash.",
)
def q_segment_dedup_keepfirst(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dedup.segment_dedup_keepfirst(docs)

# ---------------------------------------------------------------------------
# Sliding-window chunking (context-window / RAG sequence prep)
# ---------------------------------------------------------------------------


@register(
    "chunk_sliding_windows",
    oracle=textstats.chunk_sliding_windows_sql(),
    doc="Overlapping fixed-width token windows per document (32-token "
    "chunks, stride 24, tail chunk included) with md5-folded content "
    "hashes; map-only, shuffle-free -- the chunking stage ahead of "
    "pack_sequences_4k and embedding indexing.",
)
def q_chunk_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return textstats.chunk_sliding_windows(docs)

# ---------------------------------------------------------------------------
# Event-transition Markov counts + rolling z-score anomalies
# ---------------------------------------------------------------------------


@register(
    "event_transitions_markov",
    oracle=sessions.event_transitions_sql(),
    doc="First-order Markov transition matrix over per-user event streams "
    "(lag over the (ts, event_id) total order, corpus-wide pair counts, "
    "distinct-user support, BIGINT/BIGINT conditional probability); one "
    "user-keyed window shuffle + a tiny |types|^2 groupBy.",
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return sessions.event_transitions(events)

@register(
    "anomaly_rolling_zscore",
    oracle=timeseries.rolling_zscore_anomalies_sql(),
    doc="Per-user rolling z-score anomaly flags over a trailing 20-event "
    "baseline (current row excluded): integer-cents fixed point and a "
    "division-free BIGINT test (n*x-s)^2*(n-1) > 9*n*(n*ss-s^2), so both "
    "engines agree bit for bit; one keyed window shuffle, O(1) row state.",
)
def q_anomaly_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return timeseries.rolling_zscore_anomalies(events)

@register(
    "streaming_anomaly_zscore",
    oracle=timeseries.rolling_zscore_anomalies_sql(),
    doc="Rolling z-score anomalies through the REAL streaming engine: "
    "applyInPandasWithState keyed per user, ValueState = the trailing "
    "<= 20 integer-cents values, append mode, availableNow drain. Cents "
    "are fixed-pointed JVM-side before the handler and the state walk is "
    "pure integer arithmetic, so the emission set equals the batch twin "
    "and the SAME oracle applies (the streaming_travel_time_stateful "
    "gating pattern).",
    source="events",
)
def q_streaming_anomaly_zscore(events: DataFrame, sf_dir: str) -> DataFrame:
    from ..streaming.queries import drain_availablenow
    from ..streaming.stateful import streaming_zscore

    return drain_availablenow(streaming_zscore(events), "streaming_zscore_gate")

@register(
    "zonemap_pruning_audit",
    oracle=sketches.zonemap_pruning_audit_sql(),
    doc="Zone-map file-skipping audit: per-shard min/max stats on the raw "
    "(length, category-hash) dimensions under naive hash placement, the "
    "gated z-order layout, and a range-scaled z-order (the OPTIMIZE "
    "ZORDER practice), probed by a length-range and a category-point "
    "predicate. Exposes that unscaled z-ordering of sub-2^10-char docs "
    "on a 16-bit axis yields category-only pruning; the scaled layout "
    "prunes both. Matched-row counts are layout-invariant by "
    "construction. Map-only layouts + one ~n_shards groupBy.",
)
def q_zonemap_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return sketches.zonemap_pruning_audit(docs)

@register(
    "value_hour_correlation",
    oracle=timeseries.value_hour_correlation_sql(),
    doc="Per-type Pearson correlation of value (integer cents) vs UTC "
    "hour-of-day from EXACT BIGINT sufficient statistics (built-in corr() "
    "is order-dependent float accumulation); the closed form runs in "
    "double over identical operands with an identical expression tree, so "
    "every IEEE op including sqrt is bit-deterministic cross-engine. One "
    "groupBy over |event_types| keys, integer map-side partials.",
)
def q_value_hour_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return timeseries.value_hour_correlation(events)

@register(
    "session_path_topk",
    oracle=sessions.session_path_topk_sql(),
    doc="Top-k session journeys per path length: ordered event-type "
    "sequences per session (sessionize gap rule, first-10 truncation), "
    "counted corpus-wide, ranked (count desc, path asc). Ordered "
    "aggregation cross-engine: sort_array(collect_list(struct(rn, t))) "
    "== string_agg(t ORDER BY rn). Ranking window runs over the "
    "path-bounded aggregate, <= k rows per length.",
)
def q_session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return sessions.session_path_topk(events)

# Shared by scd2_point_in_time_join (batch) and streaming_pit_enrichment
# (its stream-static twin): the drain is stateless, so both equal this SQL.
_SCD2_PIT_SQL = """
WITH dim AS (
  SELECT user_id, event_id AS version_id,
         epoch_ms(ts) AS valid_from_ms,
         epoch_ms(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           AS valid_to_ms
  FROM events WHERE event_type = 'view'
),
facts AS (
  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
)
SELECT f.event_id, f.user_id, f.ts_ms, f.cents, d.version_id, d.valid_from_ms
FROM facts f JOIN dim d
  ON f.user_id = d.user_id
 AND d.valid_from_ms <= f.ts_ms
 AND (d.valid_to_ms IS NULL OR f.ts_ms < d.valid_to_ms)
"""

@register(
    "scd2_point_in_time_join",
    oracle=_SCD2_PIT_SQL,
    doc="Point-in-time (temporal) join: each purchase enriched with the "
    "SCD2 attribute version valid AT its event time (half-open "
    "[valid_from, valid_to) intervals from scd2_user_history's lead "
    "construction; a purchase exactly on a version boundary matches the "
    "NEW version -- strict < on valid_to). Spark shape: hash equi-join "
    "on user_id with the interval predicate as a residual filter -- one "
    "shuffle per side, never a range-cartesian; per-user version chains "
    "are bounded, so the residual scan per probe row is O(versions per "
    "user) at any corpus scale.",
)
def q_scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.time import epoch_ms

    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    dim = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("d_user_id"),
        F.col("event_id").alias("version_id"),
        epoch_ms("ts").alias("valid_from_ms"),
        epoch_ms(F.lead("ts").over(w)).alias("valid_to_ms"),
    )
    facts = ev.where(F.col("event_type") == "purchase").select(
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
    )
    return joined.select(
        "event_id", "user_id", "ts_ms", "cents", "version_id", "valid_from_ms"
    )

@register(
    "streaming_pit_enrichment",
    oracle=_SCD2_PIT_SQL,
    doc="Stream-static POINT-IN-TIME enrichment through the real engine: "
    "the purchase stream joined per micro-batch to the broadcast "
    "batch-built SCD2 version dimension on user_id plus the half-open "
    "interval residual -- the temporal upgrade of streaming_enrich_static "
    "(version valid AT event time, not current state). Stateless inner "
    "stream-static join => the availableNow drain equals the batch "
    "scd2_point_in_time_join row-for-row and the oracle is the same SQL, "
    "no horizon cut. Boundary semantics carried through the engine: a "
    "purchase exactly on a version boundary takes the NEW version, "
    "zero-width versions never match.",
    source="events",
)
def q_streaming_pit_enrichment(events: DataFrame, sf_dir: str) -> DataFrame:
    from ..streaming.queries import run_pit_enrichment_availablenow

    return run_pit_enrichment_availablenow(
        events, sf_dir, "streaming_pit_enrichment_gate"
    )

@register(
    "cube_user_type_day",
    oracle="""
SELECT COALESCE(event_type, 'ALL') AS event_type,
       COALESCE(CAST(CAST(date_part('day', ts) AS INT) AS STRING), 'ALL') AS day,
       CAST(GROUPING(event_type, CAST(date_part('day', ts) AS INT)) AS INT) AS gid,
       count(*) AS cnt,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events
GROUP BY CUBE(event_type, CAST(date_part('day', ts) AS INT))
""",
    doc="CUBE grouping sets (all four (event_type, day) marginals -- "
    "ROLLUP's hierarchy plus the (ALL, day) slice) with the GROUPING id "
    "disambiguating real keys from subtotal keys (first column = most "
    "significant bit in BOTH engines, verified). Spark computes a CUBE "
    "as ONE expand + one hash aggregate -- 4x the agg input rows, still "
    "a single shuffle; exact integer cents re-combine under AQE.",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.dayofmonth("ts").alias("day_raw"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents_v"),
    )
    return (
        ev.cube("event_type", "day_raw")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("cnt"),
            F.sum("cents_v").alias("cents"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("day_raw").cast("string"), F.lit("ALL")).alias("day"),
            "gid",
            "cnt",
            "cents",
        )
    )

# Shared by snapshot_diff_documents (batch full-outer diff) and
# streaming_snapshot_diff (its incremental stream-static twin): chunking
# invariance makes both equal this one-shot SQL.
_SNAPSHOT_DIFF_SQL = """
WITH snap_a AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 <> 0
),
snap_b AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END) AS h
  FROM documents WHERE doc_id % 7 <> 0
)
SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
       CASE WHEN a.doc_id IS NULL THEN 'added'
            WHEN b.doc_id IS NULL THEN 'removed'
            ELSE 'changed' END AS status,
       a.h AS old_hash, b.h AS new_hash
FROM snap_a a FULL OUTER JOIN snap_b b ON a.doc_id = b.doc_id
WHERE a.doc_id IS NULL OR b.doc_id IS NULL OR a.h <> b.h
"""

@register(
    "snapshot_diff_documents",
    oracle=_SNAPSHOT_DIFF_SQL,
    doc="Corpus snapshot diff -- the incremental-ingest primitive: two "
    "snapshots (derived deterministically from `documents` by doc_id "
    "residue filters, with a text mutation standing in for re-crawled "
    "pages) full-outer-joined on doc_id and classified added / removed / "
    "changed by content hash; unchanged rows are filtered out so the "
    "delta, not the corpus, is the output. 100 TB: one hash shuffle on "
    "doc_id per side (or zero with both snapshots bucketed by doc_id at "
    "write time -- sources/bucketing.py); content comparison is on "
    "16-byte hashes, never raw text movement.",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    snap_a = docs.where(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("a_id"), F.md5("text").alias("old_hash")
    )
    snap_b = docs.where(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("b_id"),
        F.md5(
            F.when(
                F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text"))
        ).alias("new_hash"),
    )
    diff = snap_a.join(snap_b, snap_a["a_id"] == snap_b["b_id"], "full_outer")
    return diff.where(
        F.col("a_id").isNull()
        | F.col("b_id").isNull()
        | (F.col("old_hash") != F.col("new_hash"))
    ).select(
        F.coalesce("a_id", "b_id").alias("doc_id"),
        F.when(F.col("a_id").isNull(), "added")
        .when(F.col("b_id").isNull(), "removed")
        .otherwise("changed")
        .alias("status"),
        "old_hash",
        "new_hash",
    )

@register(
    "streaming_snapshot_diff",
    oracle=_SNAPSHOT_DIFF_SQL,
    doc="Snapshot diff through the real engine -- the incremental ingest "
    "shape: snapshot A is the standing batch corpus, snapshot B ARRIVES "
    "as a document stream; a stream-static left join on doc_id classifies "
    "each B row against A as it lands (added / changed / unchanged) and "
    "is drained in append mode; 'removed' = one final anti-join of A vs "
    "the drained keys, and unchanged rows are dropped from the result. "
    "doc_ids unique within B + static A => any chunking drains to the "
    "one-shot batch diff (chunked-replay invariance pytest-pinned), so "
    "the oracle is the same full-outer SQL.",
    source="documents",
)
def q_streaming_snapshot_diff(documents: DataFrame, sf_dir: str) -> DataFrame:
    from ..streaming.queries import run_snapshot_diff_availablenow

    return run_snapshot_diff_availablenow(documents, sf_dir)

_SALTED_JOIN_DIM = [(t, len(t)) for t in ("click", "error", "purchase", "signup", "view")]

@register(
    "skew_salted_join_events",
    oracle="""
WITH dim AS (SELECT * FROM (VALUES """
    + ", ".join(f"('{t}', {w})" for t, w in _SALTED_JOIN_DIM)
    + """) AS t(event_type, type_weight))
SELECT e.event_type, d.type_weight, count(*) AS n_events,
       CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY 1, 2
""",
    doc="Salted replicate-and-broadcast JOIN under the hash gate "
    "(companion to skew_salted_event_counts' salted aggregation): events "
    "carry only 5 distinct event_type keys -- the worst join-skew case, "
    "every key hot -- so the small dimension is replicated over "
    "salt_buckets and the big side salted uniformly, spreading each hot "
    "key over salt_buckets tasks. The downstream integer aggregate is "
    "salt-assignment-invariant, so the rewrite must equal the plain "
    "join + GROUP BY bit-for-bit under ANY partitioning (the "
    "SPARK_GRAFT_CPUS sweep exercises exactly that).",
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("cents_v")
    )
    dim = spark.createDataFrame(
        _SALTED_JOIN_DIM, "d_event_type string, type_weight int"
    )
    joined = skew.salted_broadcast_join(ev, dim, "event_type", "d_event_type")
    return (
        joined.groupBy("event_type", "type_weight")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents_v").alias("cents"),
        )
    )

@register(
    "hilbert_pruning_audit",
    oracle=sketches.hilbert_pruning_audit_sql(),
    doc="Hilbert-vs-Morton file-skipping audit on identical range-scaled "
    "axes: same per-shard zone maps, same probe predicates and accounting "
    "as zonemap_pruning_audit -- only the shard placement differs. "
    "Hilbert's no-diagonal-jump property tends to tighter shard "
    "rectangles, and the audit quantifies it. The per-bit state "
    "recurrence (xy2d) is a fixed bits-deep projection chain Catalyst "
    "collapses into one codegen stage; both addresses compute in a "
    "single corpus scan (explode of 2 structs, never one scan per "
    "layout). Output is 2 rows.",
)
def q_hilbert_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return sketches.hilbert_pruning_audit(docs)


@register(
    "skew_profile",
    oracle=skew.skew_profile_sql(),
    doc="Key-skew diagnosis BEFORE a shuffle -- completes the skew "
    "family: salted_aggregate / salted_broadcast_join APPLY the "
    "mitigation (both gated), this op DECIDES it. Per-key row-count "
    "distribution summarized to ONE all-BIGINT row (n_keys, total_rows, "
    "max_cnt, p50_cnt, p95_cnt, skew_vs_mean_ppm, recommended_salt = "
    "ceil(max*n_keys/total), 1 = no salting needed). Determinism: exact "
    "discrete quantiles via the integer cross-multiplied cumulative "
    "walk over the COUNT-OF-COUNTS frame (bounded by distinct count "
    "VALUES, not keys -- the histogram/quantile_merge recipe); ppm and "
    "the salt ceiling are pure BIGINT rationals. 100 TB: one hash "
    "groupBy to per-key counts (map-side partials), one tiny groupBy to "
    "count-of-counts localCheckpoint'd once (multi-consumer rule), a "
    "bounded single-partition cumulative over that summary, ONE "
    "conditional aggregate for both quantiles -- never a corpus-wide "
    "sort or window.",
)
def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return skew.skew_profile(ev)


@register(
    "value_trend_ols",
    oracle=timeseries.value_trend_ols_sql(),
    doc="Per-type OLS value trend against the day index -- the drift "
    "screen completing the timeseries family next to "
    "value_hour_correlation's seasonality screen and the z-score/CUSUM "
    "anomaly pair. Built-in regr_slope is banned (running-moment float "
    "accumulation is order-dependent); the five sufficient statistics "
    "are EXACT BIGINT sums and slope/intercept are the closed form in "
    "DOUBLE over identical operands and expression trees on both "
    "engines (div/mul/sub are correctly-rounded IEEE -- the BM25/"
    "Pearson recipe). x is the day index re-origined per group via a "
    "window min SHARING the groupBy's hash partitioning (no extra "
    "Exchange), keeping sxx bounded by span^2 not epoch^2. 100 TB: one "
    "hash shuffle on event_type; exactness holds past 6e11 rows/group "
    "at a 10-year span, ANSI raises loudly beyond.",
)
def q_value_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return timeseries.value_trend_ols(ev)


@register(
    "cusum_level_shift",
    oracle=timeseries.cusum_level_shift_sql(),
    doc="Per-type CUSUM change-point screen over the hourly-bucketed "
    "cents series: where the z-score family catches SPIKES, CUSUM "
    "accumulates small SUSTAINED shifts. The classic nonlinear fold "
    "S_i = max(0, S_{i-1}+d_i) is computed via its closed form "
    "S_i = R_i - min(R_0..R_i) over the plain cumulative sum -- two "
    "stock window functions, no sequential loop, no applyInPandas; the "
    "running extremum includes the EMPTY prefix (least(0, min)) or an "
    "opening positive run under-reports. Deviations are mean-centered "
    "WITHOUT division (d = n*x - T), so every statistic is an exact "
    "BIGINT and peak rows are hash-exact; ties break to the earliest "
    "bucket. 100 TB: one shuffle to bucket-aggregate, then windows over "
    "the BUCKETED series (bounded by time span, not volume); overflow "
    "bound documented (~6e5 buckets at $10M/bucket), ANSI raises "
    "loudly past it.",
)
def q_cusum_level_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return timeseries.cusum_level_shift(ev)


@register(
    "theil_sen_trend",
    oracle=timeseries.theil_sen_trend_sql(),
    doc="Per-type Theil-Sen trend -- the MEDIAN of all pairwise slopes "
    "of the daily cents series, the robust twin of the gated "
    "value_trend_ols (one corrupted day moves OLS arbitrarily; "
    "Theil-Sen tolerates ~29% outliers). Determinism: daily sums are "
    "exact BIGINTs; each slope is ONE correctly-rounded double "
    "division of exact integers so the slope multiset is bit-identical "
    "across engines; the median picks middle VALUES by position and "
    "the even-count average is one more correctly-rounded add/divide "
    "(the Pearson/BM25 float recipe extended to an order statistic). "
    "100 TB: the pairwise join is quadratic in DISTINCT DAYS per type "
    "-- span-bounded (a decade ~3.7k days, ~6.7M pairs/type), never "
    "data-sized, after one bucket-aggregate shuffle; the daily frame "
    "feeds both self-join sides + the n_days count so it is "
    "localCheckpoint'd once (multi-consumer rule).",
)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return timeseries.theil_sen_trend(ev)


@register(
    "downsample_lttb",
    oracle=timeseries.downsample_lttb_sql(),
    doc="Perceptual time-series downsampling, largest-triangle-one-"
    "bucket (LTOB, Steinarsson's parallel variant of LTTB): per series "
    "key keep both endpoints plus the largest-triangle point from each "
    "of 20 equal-count interior buckets -- the dashboard shape-"
    "preserving downsample (spikes survive; uniform strides erase "
    "them). LTOB over textbook LTTB because LTTB's moving anchor is a "
    "sequential per-bucket recurrence with no parallel decomposition; "
    "LTOB's raw-neighbor triangles make buckets independent. "
    "Determinism: geometry is exact BIGINT (x = epoch ms, y = cents, "
    "|cross product| as area2); argmax per bucket by (area2 DESC, ms, "
    "id). 100 TB: everything partitions by series key -- two window "
    "passes on the SAME partitioning (neighbors+rank, then per-bucket "
    "argmax), no global sort, no driver; output (n_out+2) x |keys| "
    "rows.",
)
def q_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return timeseries.downsample_lttb(ev)


@register(
    "bloom_skipping_audit",
    oracle=bloom.bloom_skipping_audit_sql(),
    doc="Per-shard Bloom-filter skipping vs zonemaps for POINT "
    "predicates -- the parquet column-bloom technique, completing the "
    "skipping-audit family's missing axis (zonemap/z-order/Hilbert "
    "grade RANGE skipping; this grades `key = X` lookups). Rows are "
    "placed under hash and clustered layouts; per (layout, shard) the "
    "audit builds BOTH a min/max zonemap and an n_words-BIGINT-word "
    "Bloom filter, then md5-selected present-key probes count scanned "
    "vs truly-containing (probe, shard) pairs. Shows the lakehouse "
    "guidance measurably: zonemaps cannot prune point probes under a "
    "hash layout, blooms prune under ANY layout (no false negatives "
    "structurally: true <= bloom <= zonemap pairs). 100 TB: shard "
    "assignment map-only; each index build is ONE order-independent "
    "hash aggregate (bit_or word masks), at most n_shards x n_words "
    "rows per layout regardless of data size -- the footprint a "
    "parquet writer pays for its column bloom; the (layout, shard, "
    "key) projection and the bounded probe set are localCheckpoint'd "
    "once for their 3-4 consumers; probe joins touch index-sized "
    "relations only.",
)
def q_bloom_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return bloom.bloom_skipping_audit(ev)


@register(
    "benford_value_audit",
    oracle=timeseries.benford_value_audit_sql(),
    doc="Benford's-law first-digit audit of the cents series per type "
    "(Benford 1938; Nigrini's forensic-accounting screen): fabricated, "
    "clipped, or unit-mangled monetary columns drift from the "
    "log10(1+1/d) first-digit law, and the per-digit delta localizes "
    "HOW. One row per (type, digit) PRESENT: n, obs_ppm, benford_ppm "
    "(exact ppm constants summing to exactly 1e6), delta_ppm -- all "
    "BIGINT; this synthetic-uniform corpus is EXPECTED to deviate (the "
    "audit measures deviation, never asserts conformance). First digit "
    "via substr(CAST(cents AS STRING), 1, 1) -- no float log10; ppm by "
    "(1e6*n) DIV total over nonnegative BIGINTs; zero/negative cents "
    "excluded (Benford is defined on positive magnitudes). Overflow "
    "past ~9.2e12 rows per (type, digit) raises LOUDLY on both engines "
    "(empirically verified -- DuckDB INT64 multiply, not a HUGEINT "
    "widen). 100 TB: ONE map-side-combined hash aggregate to the "
    "|types| x 9 relation; shares are a window sum over that bounded "
    "frame.",
)
def q_benford_value_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return timeseries.benford_value_audit(ev)


@register(
    "chi_squared_independence",
    oracle=timeseries.chi_squared_independence_sql(),
    doc="Chi-squared independence screen (Pearson 1900) between event "
    "type and UTC hour-of-day -- the does-behavior-depend-on-time "
    "feature/drift screen, chosen over the G-test / mutual information "
    "DELIBERATELY: those need ln() (libm, not correctly rounded "
    "cross-engine -- the BM25 lesson) while chi-squared is a pure "
    "rational of exact BIGINT sufficient statistics. One row per cell "
    "of the FULL bounded grid (types x hours present, zero-observed "
    "cells included): n, row/col totals, expected_milli = (1000*R*C) "
    "DIV N exact, chi2_contrib = d^2/(N*R*C) in correctly-rounded "
    "double over identical left-associated trees (d = N*n - R*C exact "
    "BIGINT). Hour bucket is pure epoch-ms arithmetic (session-TZ "
    "independent; post-epoch precondition documented). BIGINT bounds "
    "documented, ANSI raises loudly past them; stratify per shard/day "
    "at 100 TB. Scale: ONE map-side-combined hash aggregate to the "
    "|types| x 24 relation; grid, margins, and contributions are "
    "window sums/joins over that bounded frame -- no second corpus "
    "pass.",
)
def q_chi_squared_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return timeseries.chi_squared_independence(ev)


@register(
    "ks_two_sample_drift",
    oracle=timeseries.ks_two_sample_drift_sql(),
    doc="Kolmogorov-Smirnov two-sample drift screen of the cents series "
    "per type, first time-half vs second time-half: ks_num = max over "
    "sample points of |n2*F1cum(v) - n1*F2cum(v)| is an exact BIGINT "
    "(the statistic scaled by n1*n2), ks_ppm its ppm share and "
    "ks_at_cents the smallest value attaining the max -- no floats. "
    "100 TB: one 1-row min/max scan, then one hash aggregate to the "
    "(type, distinct-cents) relation; ECDFs and the max are windows "
    "over that bounded frame.",
)
def q_ks_two_sample_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return timeseries.ks_two_sample_drift(ev)


@register(
    "value_acf_lags",
    oracle=timeseries.value_acf_lags_sql(),
    doc="Autocorrelation screen per type: Pearson r of the hourly "
    "cents-volume series with itself at lags 1..6 hours (Box-Jenkins "
    "model-order diagnostic). Each lag's five sufficient statistics "
    "are exact BIGINT sums over the present bucket pairs and r is one "
    "closed form in correctly-rounded double (the value_hour_correlation "
    "recipe); NULL when either side is constant. 100 TB: one "
    "bucket-aggregate shuffle, then lag joins over the bucketed series.",
)
def q_value_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return timeseries.value_acf_lags(ev)


@register(
    "mann_kendall_trend",
    oracle=timeseries.mann_kendall_trend_sql(),
    doc="Mann-Kendall monotone-trend test per type over the daily cents "
    "series: s_stat (sum of pairwise signs) and the tie-corrected "
    "var_s_x18 are exact BIGINTs; z_mk is the continuity-corrected "
    "normal score over identical expression trees, NULL when every day "
    "ties. 100 TB: the pairwise self-join is quadratic in distinct "
    "days per type (span-bounded), after one bucket-aggregate shuffle.",
)
def q_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return timeseries.mann_kendall_trend(ev)


@register(
    "rfm_segments",
    oracle=sessions.rfm_segments_sql(),
    doc="RFM (recency / frequency / monetary) quartile segmentation: "
    "each user scored 0..3 on last-active day, event count and total "
    "cents with value-collapsed quantiles, then counted per (r_q, f_q, "
    "m_q) cell -- all exact BIGINTs. 100 TB: one hash aggregate to the "
    "per-user frame, quantile maps over histograms bounded by distinct "
    "metric values, broadcast joins back.",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return sessions.rfm_segments(ev)
