"""Sessionization (+ attribution, concurrency) and the watermarked streaming family (sessionize, exact dedup, interval joins, distinct users, windowed top-k/HLL/histogram/quantile/CMS/MinHash/Bloom, SCD2 maintenance).

Registration module: imported by plans.catalog for its @register side
effects; the shared QuerySpec registry, query order and determinism
rules live in plans/catalog.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..sources import load_table
from .catalog import register
from ..functions.time import WATERMARK_MS
from ..operators import cdc as cdc_ops
from ..streaming.queries import (
    INTERVAL_JOIN_GAP_MS,
    bloom_window_membership,
    cms_window_estimates,
    concurrency_profile_oracle,
    drain_availablenow,
    hll_estimate_per_window,
    minhash_window_similarity,
    quantile_from_binned,
    rank_topk_per_window,
    run_scd2_maintenance_availablenow,
    streaming_distinct_users,
    streaming_interval_join,
    streaming_windowed_bloom,
    streaming_windowed_cms,
    streaming_windowed_histogram,
    streaming_windowed_hll,
    streaming_windowed_minhash,
    streaming_windowed_topk,
    windowed_bloom_oracle,
    windowed_cms_oracle,
    windowed_histogram_oracle,
    windowed_hll_oracle,
    windowed_minhash_oracle,
    windowed_quantile_oracle,
    windowed_topk_oracle,
)
from ..operators import (
    sessions,
)


# ---------------------------------------------------------------------------
# Sessionization + relational breadth anchors (beyond the reference surface).
# ---------------------------------------------------------------------------


@register(
    "sessionize_events",
    oracle=sessions.sessionize_sql(),
    doc="Gap-based sessionization (30 min): lag-gap-cumsum session ids, "
    "per-session aggregates in exact cents.",
    bench=True,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessions.sessionize(load_table(spark, "events", sf_dir))

@register(
    "streaming_sessionize",
    oracle=f"""
WITH s AS ({sessions.sessionize_sql()}),
mx AS (SELECT max(epoch_ms(ts)) AS m FROM events)
SELECT user_id, session_start_ms,
       session_end_ms + {sessions.DEFAULT_GAP_MS} AS session_end_ms, n_events
FROM s, mx
WHERE session_end_ms + {sessions.DEFAULT_GAP_MS} <= m - {WATERMARK_MS}
""",
    doc="Sessionization through the real streaming engine: native "
    "session_window (merging gap sessions) in append mode, availableNow "
    "drain -- fire-once per merged session. Oracle = the batch lag-gap "
    "sessions with end shifted by the gap (session_window ends at "
    "last-event + gap) and cut at the final watermark. The two forms' "
    "merge semantics differ only for events spaced EXACTLY at the gap "
    "(batch: gap > g merges; session_window: >= g breaks) -- equal on "
    "this data (9542 = 9542 sessions at sf0.01).",
    source="events",
)
def q_streaming_sessionize(events: DataFrame, sf_dir: str) -> DataFrame:
    return drain_availablenow(
        sessions.streaming_sessionize(events), "streaming_sessionize_gate"
    )

@register(
    "streaming_exact_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    doc="First-seen-wins key dedup through the real streaming engine: "
    "dropDuplicatesWithinWatermark state, append mode, availableNow drain "
    "(CheckpointedTaxiRideSource.java:54-170's dedup-on-restore concern). "
    "The events table is ONE parquet file, so the drain is a single "
    "micro-batch: no state eviction mid-run, every duplicate key is "
    "suppressed, and the emitted set is exactly the distinct keys. Only "
    "the key columns are projected because WHICH duplicate row survives "
    "within a micro-batch is partition-order dependent; the key set is "
    "not. Multi-batch eviction semantics are pytest-covered "
    "(tests/test_streaming.py::test_streaming_exact_dedup).",
)
def q_streaming_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.queries import streaming_exact_dedup
    from ..streaming.sources import events_stream

    deduped = streaming_exact_dedup(events_stream(spark, sf_dir)).select("user_id", "event_type")
    return drain_availablenow(deduped, "streaming_exact_dedup_gate")

@register(
    "streaming_interval_join",
    oracle=f"""
SELECT p.event_id AS purchase_id, c.event_id AS click_id,
       p.user_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL {INTERVAL_JOIN_GAP_MS} MILLISECONDS
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
""",
    doc="Stream-stream interval join through the real engine: purchases "
    "attributed to same-user clicks within the preceding 6 hours -- "
    "the third stateful operator class (join state, watermark-bounded "
    "buffer eviction). Inner-join rows emit on match, so the availableNow "
    "drain equals the plain batch interval join with no horizon cut.",
    source="events",
)
def q_streaming_interval_join(events: DataFrame, sf_dir: str) -> DataFrame:
    return drain_availablenow(
        streaming_interval_join(
            events.where(F.col("event_type") == "click"),
            events.where(F.col("event_type") == "purchase"),
        ),
        "streaming_interval_join_gate",
    )

@register(
    "streaming_interval_join_outer",
    oracle=f"""
WITH c AS (SELECT event_id AS click_id, user_id, ts FROM events
           WHERE event_type = 'click'),
p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
      WHERE event_type = 'purchase'),
wm AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
              - INTERVAL {WATERMARK_MS} MILLISECONDS AS w),
matched AS (
  SELECT c.click_id, p.purchase_id, c.user_id,
         epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
  FROM c JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts
               AND c.ts >= p.ts - INTERVAL {INTERVAL_JOIN_GAP_MS} MILLISECONDS
)
SELECT purchase_id, click_id, user_id, gap_us FROM matched
UNION ALL
SELECT CAST(NULL AS BIGINT), c.click_id, c.user_id, CAST(NULL AS BIGINT)
FROM c, wm
WHERE c.click_id NOT IN (SELECT click_id FROM matched)
  AND c.ts + INTERVAL {INTERVAL_JOIN_GAP_MS} MILLISECONDS < wm.w
""",
    doc="LEFT-OUTER stream-stream interval join: matched rows emit on "
    "match; an unmatched click emits its null-purchase row only when the "
    "join watermark (MIN of both sides' watermarks) passes "
    "ts_click + max_gap -- i.e. when state eviction proves no future match "
    "can arrive. The oracle reproduces that exact eviction horizon, so the "
    "watermark-driven outer-emission contract itself is hash-checked.",
    source="events",
)
def q_streaming_interval_join_outer(events: DataFrame, sf_dir: str) -> DataFrame:
    return drain_availablenow(
        streaming_interval_join(
            events.where(F.col("event_type") == "click"),
            events.where(F.col("event_type") == "purchase"),
            how="leftOuter",
        ),
        "streaming_interval_join_outer_gate",
    )

@register(
    "streaming_distinct_users",
    oracle=f"""
WITH ev AS (
  SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type, user_id FROM events
),
mx AS (SELECT max(hour_ms) AS m FROM ev)
SELECT hour_ms + 3600000 AS window_end_ms, event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users
FROM ev, mx
GROUP BY hour_ms, event_type, m
HAVING hour_ms + 3600000 <= m - {WATERMARK_MS}
""",
    doc="Windowed distinct-user counts through the real streaming engine: "
    "streaming aggregation forbids COUNT(DISTINCT), so this chains the two "
    "supported stateful operators -- watermarked dropDuplicates on "
    "(hour, event_type, user_id) feeding a windowed count (append mode, "
    "fire-once). Counts are survivor-independent, so the batch "
    "COUNT(DISTINCT) oracle cut at the final watermark matches exactly.",
    source="events",
)
def q_streaming_distinct_users(events: DataFrame, sf_dir: str) -> DataFrame:
    return drain_availablenow(
        streaming_distinct_users(events), "streaming_distinct_users_gate"
    )

@register(
    "session_concurrency_profile",
    oracle=sessions.concurrency_profile_sql(),
    doc="Interval sweep-line concurrency profile: milliseconds spent at "
    "each level of concurrently-open sessions (sessions = the gap-based "
    "sessionize intervals [first, last+gap)), the capacity-planning "
    "query of the interval family (asof, range join, gap-fill). The "
    "classic global prefix sum over +1/-1 boundaries is a "
    "single-partition window -- this is the scalable two-phase form: "
    "per-time-bucket partial sums in parallel, one bounded cumulative "
    "pass over the per-bucket summary (time-span-sized, not data-sized), "
    "carry-ins broadcast back. Levels equal the global running sum "
    "exactly at any bucket size (bucket-invariance pytest-pinned).",
)
def q_session_concurrency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return sessions.concurrency_profile(ev)

@register(
    "streaming_windowed_topk",
    oracle=windowed_topk_oracle(),
    doc="Windowed heavy hitters through the real streaming engine: per "
    "6-hour event-time window, the 3 most frequent event types. Append "
    "mode forbids ranking over an aggregated stream, so the stateful "
    "windowed count rides the stream (fire-once at watermark passage, "
    "the popular_places contract) and the top-k rank runs as a bounded "
    "BATCH window over the drained aggregate (|windows| x |types| rows). "
    "100 TB: one stateful shuffle keyed on (window, type), "
    "watermark-bounded state; the rank input is aggregate-sized.",
    source="events",
)
def q_streaming_windowed_topk(events: DataFrame, sf_dir: str) -> DataFrame:
    return rank_topk_per_window(
        drain_availablenow(
            streaming_windowed_topk(events), "streaming_windowed_topk_gate"
        )
    )

@register(
    "streaming_windowed_hll",
    oracle=windowed_hll_oracle(),
    doc="Windowed distinct-user HLL through the real streaming engine: "
    "per 6-hour event-time window, the per-bucket register maxes ride "
    "the stream as a stateful windowed max aggregate (fire-once at "
    "watermark passage), and the harmonic-mean estimate folds in the "
    "bounded batch stage over the drained registers -- the mergeable-"
    "sketch streaming recipe (state is HLL_M registers per window, "
    "never raw users). Oracle = the batch register build cut at the "
    "final watermark, folded with identical single-literal float "
    "arithmetic. 100 TB: one stateful shuffle keyed on "
    "(window, bucket), watermark-bounded state.",
    source="events",
)
def q_streaming_windowed_hll(events: DataFrame, sf_dir: str) -> DataFrame:
    return hll_estimate_per_window(
        drain_availablenow(
            streaming_windowed_hll(events), "streaming_windowed_hll_gate"
        )
    )

@register(
    "streaming_concurrency_profile",
    oracle=concurrency_profile_oracle(),
    doc="Streaming twin of session_concurrency_profile: the stateful "
    "session_window sessionization rides the stream (fire-once per "
    "merged session at watermark passage), and the two-phase sweep-line "
    "level computation runs as a bounded batch stage over the DRAINED "
    "session intervals -- the windowed_topk composition pattern (the "
    "stream pays one stateful shuffle; the profile input is "
    "session-sized, never raw events). Oracle = batch gap sessions "
    "shifted by the gap, cut at the final watermark, through the shared "
    "sweep SQL.",
    source="events",
)
def q_streaming_concurrency_profile(events: DataFrame, sf_dir: str) -> DataFrame:
    # session_window ends already carry the gap, so the drained intervals
    # feed the sweep directly
    sess = drain_availablenow(
        sessions.streaming_sessionize(events), "streaming_concurrency_profile_gate"
    )
    return sessions.concurrency_from_intervals(
        sess.select(
            F.col("session_start_ms").alias("s"), F.col("session_end_ms").alias("e")
        )
    )


@register(
    "streaming_windowed_histogram",
    oracle=windowed_histogram_oracle(),
    doc="Fixed-width value histogram ON the stream: per 6-hour "
    "event-time window, counts per fixed bin_cents-wide value bucket "
    "-- the streaming twin of the batch histogram family "
    "(value_histogram / histogram_merge_shards) and the third "
    "mergeable sketch riding the watermarked windowed aggregation "
    "after top-k counts and HLL registers. Fixed-width bins are the "
    "load-bearing choice: the batch histogram derives equi-width edges "
    "from the global min/max, which a stream cannot know ahead of "
    "time; a fixed width makes the per-bin count an associative+"
    "commutative fold with no data-dependent parameters, so it rides "
    "natively (fire-once per (window, bin) at watermark passage, the "
    "popular_places contract). Oracle = the batch fold cut at the "
    "final watermark. 100 TB: one stateful shuffle keyed on "
    "(window, bin); state bounded by value range over bin width per "
    "window, watermark-evicted.",
    source="events",
)
def q_streaming_windowed_histogram(events: DataFrame, sf_dir: str) -> DataFrame:
    return drain_availablenow(
        streaming_windowed_histogram(events), "streaming_windowed_histogram_gate"
    )


@register(
    "streaming_scd2_maintenance",
    oracle=cdc_ops.SCD2_HISTORY_SQL,
    doc="Streaming SCD2 HISTORY MAINTENANCE -- the third leg of the SCD2 "
    "family: batch scd2_user_history derives validity intervals one-shot, "
    "streaming_pit_enrichment CONSUMES a standing SCD2 dimension, this "
    "PRODUCES the dimension incrementally from the change stream "
    "(foreachBatch: intra-batch intervals from the same (ts, event_id) "
    "lead window, standing OPEN rows closed at the user's first new "
    "valid_from via one left join + coalesce). Drain equals the one-shot "
    "batch lead window under ANY chunking because the close bound is "
    "exactly the global next-event timestamp (chunked-replay invariance "
    "pinned). Ordering contract: per-user rows arrive in (ts, event_id) "
    "order -- the CDC-log commit-order contract. At-least-once "
    "idempotence via fold_availablenow (one versioned state directory "
    "per committed batch; replayed batches skipped). Oracle "
    "shared verbatim with the batch gate. 100 TB: per-batch window is "
    "batch-sized, the dimension join is user-keyed (bucketed layout "
    "makes the state side Exchange-free), full-table rewrite is the "
    "transactional-format trade the cdc merge already adjudicated.",
    source="events",
)
def q_streaming_scd2_maintenance(events: DataFrame, sf_dir: str) -> DataFrame:
    return run_scd2_maintenance_availablenow(events, "streaming_scd2_maintenance_gate")


@register(
    "streaming_windowed_quantile",
    oracle=windowed_quantile_oracle(),
    doc="Streaming windowed QUANTILES: per 6-hour event-time window, "
    "discrete p25/p50/p75/p90 estimates at fixed-bin resolution -- the "
    "streaming twin completing the quantile family next to "
    "quantile_merge_shards' shard axis (same estimate-vs-sketch trade, "
    "windows instead of shards). The stream pays exactly what the gated "
    "windowed histogram pays: one stateful shuffle keyed on "
    "(window, bin), watermark-bounded state (fixed-width bin counts are "
    "the parameter-free associative fold a stream can run; data-"
    "dependent equi-width edges cannot stream); the quantile walk runs "
    "as a bounded batch stage over the DRAIN -- the windowed_topk/"
    "concurrency composition pattern. Integer cross-multiplied rank "
    "bounds (a < ceil(x) <=> a < x) keep the walk float-free. Oracle = "
    "the batch histogram cut at the final watermark, walked with "
    "identical integer arithmetic. 100 TB: state bounded by value "
    "range over bin width per open window, watermark-evicted; the walk "
    "input is bins-per-window-sized, never raw events.",
    source="events",
)
def q_streaming_windowed_quantile(events: DataFrame, sf_dir: str) -> DataFrame:
    return quantile_from_binned(
        drain_availablenow(
            streaming_windowed_histogram(events), "streaming_windowed_quantile_gate"
        )
    )


@register(
    "attribution_credit",
    oracle=sessions.attribution_credit_sql(),
    doc="Multi-touch attribution (U-shaped / position-based): every "
    "conversion distributes exactly 1,000,000 ppm of credit over the "
    "same user's touches in the preceding 6-hour window -- 40% first, "
    "40% last, 20% split across the middle -- the marketing-analytics "
    "conservation-law op next to the funnel/retention queries. "
    "Determinism: integer ppm with the middle split's remainder "
    "assigned to the LAST touch, so per-conversion credit sums to "
    "exactly 1e6 (conservation pytest-pinned); touch order is the "
    "(ts, event_id) total order; single/two-touch degenerates take "
    "1e6 / 50-50. 100 TB: conversions x touches is a USER-keyed hash "
    "equi-join with a residual time filter (the scd2_pit rule, never "
    "a range-cartesian); rank/count windows partition by conversion "
    "id -- parallel across conversions; the final fold is a "
    "|touch_types|-row aggregate with map-side partials.",
)
def q_attribution_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return sessions.attribution_credit(ev)


@register(
    "streaming_windowed_cms",
    oracle=windowed_cms_oracle(),
    doc="Streaming windowed COUNT-MIN SKETCH: per 6-hour event-time "
    "window, a d x 64 CMS over user ids folded as watermarked "
    "per-(window, row, bucket) cell counts -- the FOURTH mergeable "
    "sketch on the stream after top-k/HLL/histogram, completing the "
    "frequency-estimation axis (point-frequency estimates where HLL "
    "answers cardinality and the histogram answers distribution). "
    "State is capped at d x width cells per open window REGARDLESS of "
    "key cardinality -- the property that makes CMS the streaming "
    "frequency sketch. The drain is walked by a bounded md5-panel "
    "est-vs-exact batch stage (min over d rows, absent cells read 0); "
    "width 64 sized so the one-sided error is VISIBLE at sf0.01 (the "
    "hll_intersection sizing rule -- at 256+ nothing collides and the "
    "estimator degenerates to pass-through). Oracle = the same integer "
    "fold over epoch-aligned tumbling windows cut at the append-mode "
    "horizon. 100 TB: one stateful shuffle keyed (window, r, bucket), "
    "watermark-evicted bounded state; the panel walk touches "
    "cells-per-window rows, never raw events.",
    source="events",
)
def q_streaming_windowed_cms(events: DataFrame, sf_dir: str) -> DataFrame:
    cells = drain_availablenow(
        streaming_windowed_cms(events), "streaming_windowed_cms_gate"
    )
    return cms_window_estimates(
        cells, load_table(events.sparkSession, "events", sf_dir)
    )


@register(
    "user_behavior_gini",
    oracle=sessions.user_behavior_gini_sql(),
    doc="Per-user behavioral diversity as GINI IMPURITY over the user's "
    "event-type distribution (1 - sum p_t^2): 0 for a single-behavior "
    "user, approaching 1 - 1/k for a uniform k-type one -- the "
    "segmentation feature personalization/anomaly pipelines derive "
    "per entity. Gini over Shannon entropy DELIBERATELY: entropy "
    "needs ln() (libm, not correctly rounded cross-engine -- the BM25 "
    "lesson); Gini is a pure rational, shipped as exact integer ppm "
    "(1e6*(n^2 - sum c^2)) DIV n^2. BIGINT bound documented at the "
    "operator: 1e6*n^2 < 2^63 means n < ~3e6 events PER USER; ANSI "
    "raises loudly past it on both engines. 100 TB: two hash "
    "aggregates with map-side partials ((user, type) counts, then "
    "per-user sufficient statistics) -- the distinct_users_per_type "
    "fold; one row per user.",
)
def q_user_behavior_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return sessions.user_behavior_gini(ev)


@register(
    "session_cooccurrence_lift",
    oracle=sessions.session_cooccurrence_lift_sql(),
    doc="Market-basket co-occurrence over gap sessions -- the "
    "association-rule screen (baskets = 30-min-gap sessions, items = "
    "event types): per unordered type pair, sessions containing both "
    "and the LIFT against independence as exact integer ppm "
    "((1e6*n_both*n_sessions) DIV (n_a*n_b); NPMI would need ln()). "
    "Complements event_transitions_markov (adjacent ORDER) with "
    "order-free co-presence. BIGINT bound documented at the operator "
    "(n_sessions ~3e6 fully-correlated; stratified lift is the 100 TB "
    "mitigation). 100 TB: session ids via the shared lag-gap-cumsum "
    "user-partitioned windows; baskets collapse to DISTINCT (session, "
    "type) FIRST so the within-basket self-join fans out at most "
    "C(types, 2) per session -- vocabulary-bounded, never events^2; "
    "the basket frame is localCheckpoint-ed once for its four "
    "consumers; the 1-row session total broadcasts (A4 pattern).",
)
def q_session_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return sessions.session_cooccurrence_lift(ev)


@register(
    "streaming_windowed_minhash",
    oracle=windowed_minhash_oracle(),
    doc="MinHash signatures ON the stream: per 6-hour event-time window, "
    "the k=16-permutation signature (min of each permuted md5 over the "
    "window's keys) -- the FIFTH mergeable sketch riding the "
    "watermarked windowed aggregation, after top-k/HLL/histogram/CMS, "
    "and the one answering SET-SIMILARITY questions (audience overlap "
    "between windows) where HLL answers cardinality and CMS point "
    "frequency. min is the canonical associative+commutative "
    "IDEMPOTENT fold (Broder 1997), so the drain is a pure function "
    "of each window's DISTINCT key set under any arrival order, "
    "chunking, or duplicate delivery. Permutations reuse the gated "
    "batch dedup's _MINHASH_PARAMS over the shared md5 base -- "
    "identical literals in the oracle. The bounded batch stage pairs "
    "CONSECUTIVE windows: signature-match Jaccard estimate next to "
    "the exact distinct-key Jaccard (est-vs-exact audit pattern). "
    "100 TB: one stateful shuffle keyed (window, r); state capped at "
    "k BIGINT cells per open window REGARDLESS of key cardinality; "
    "the similarity walk touches |windows| x k rows, never raw "
    "events.",
    source="events",
)
def q_streaming_windowed_minhash(events: DataFrame, sf_dir: str) -> DataFrame:
    sigs = drain_availablenow(
        streaming_windowed_minhash(events), "streaming_windowed_minhash_gate"
    )
    return minhash_window_similarity(
        sigs, load_table(events.sparkSession, "events", sf_dir)
    )


@register(
    "streaming_windowed_bloom",
    oracle=windowed_bloom_oracle(),
    doc="Bloom filter ON the stream: per 6-hour event-time window, the "
    "bit_or-folded word vector of a Bloom filter over the window's "
    "keys -- the SIXTH mergeable sketch riding the watermarked "
    "windowed aggregation, after top-k/HLL/histogram/CMS/MinHash, and "
    "the one answering MEMBERSHIP questions (was key k active in "
    "window w?) where HLL answers cardinality, CMS point frequency, "
    "MinHash set similarity. bit_or is associative + commutative + "
    "IDEMPOTENT, so the drain is a pure function of each window's "
    "DISTINCT key set under any arrival order, chunking, or duplicate "
    "delivery (chunked-replay invariance pinned). Cells reuse the "
    "gated batch Bloom's _BLOOM_PARAMS universal-hash family over the "
    "shared md5 base -- identical literals in the oracle. The bounded "
    "batch stage probes every fired window's filter with the md5 key "
    "panel and grades against exact presence: bloom_hit >= present "
    "row-wise (NO false negatives structurally), 66 false positives "
    "visible at sf0.01 under the visibility sizing rule (8 words = "
    "504 bits). 100 TB: one stateful shuffle keyed (window, word); "
    "state capped at 8 BIGINT cells per open window REGARDLESS of key "
    "cardinality; the membership walk touches |windows| x panel x K "
    "rows, never raw events.",
    source="events",
)
def q_streaming_windowed_bloom(events: DataFrame, sf_dir: str) -> DataFrame:
    words = drain_availablenow(
        streaming_windowed_bloom(events), "streaming_windowed_bloom_gate"
    )
    return bloom_window_membership(
        words, load_table(events.sparkSession, "events", sf_dir)
    )
