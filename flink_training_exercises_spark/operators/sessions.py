"""Sessionization -- gap-based session assignment over an event stream.

Not in the reference's surface (it has only fixed sliding windows); added as
a first-class pipeline operator (task brief: "beyond the reference"). The
batch form is the classic lag-gap-cumsum: a session break occurs where the
gap to the previous event of the same user exceeds `gap`; the streaming form
is Spark's native ``session_window`` (same semantics: windows merge while
events arrive within the gap).

Money aggregation uses integer cents (testdata money columns are 2-decimal)
so sums are exact and cross-engine deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.time import WATERMARK, epoch_ms, ntz_as_utc_instant

DEFAULT_GAP_MS = 30 * 60 * 1000


def _with_session_ids(events: DataFrame, gap_ms: int, payload: dict) -> DataFrame:
    """Shared session-id assignment per user_id (lag-gap mark + running
    cumsum over the (ev_ms, event_id) total order). The gap rule --
    strictly-greater-than ``gap_ms`` starts a new session -- is gate-critical and must stay
    identical between :func:`sessionize` and :func:`session_path_topk`;
    it lives ONLY here, with :func:`_session_sql_prefix` as its one SQL
    twin. ``payload`` maps extra output names to Column expressions."""
    w = Window.partitionBy("user_id").orderBy("ev_ms", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    base = events.select(
        F.col("user_id"),
        F.col("event_id"),
        epoch_ms("ts").alias("ev_ms"),
        *[expr.alias(name) for name, expr in payload.items()],
    )
    gap = F.col("ev_ms") - F.lag("ev_ms").over(w)
    return base.withColumn(
        "is_new", F.when(gap.isNull() | (gap > gap_ms), 1).otherwise(0)
    ).withColumn("session_id", F.sum("is_new").over(run))


def _session_sql_prefix(payload_sql: str) -> str:
    """DuckDB twin of :func:`_with_session_ids` over ``events`` at
    DEFAULT_GAP_MS: the base/marked/sid CTE prefix (terminates with the
    ``sid`` relation) shared by every session-keyed oracle."""
    return f"""base AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ev_ms, {payload_sql}
  FROM events
),
marked AS (
  SELECT *, CASE WHEN ev_ms - lag(ev_ms) OVER w IS NULL
                   OR ev_ms - lag(ev_ms) OVER w > {DEFAULT_GAP_MS} THEN 1 ELSE 0 END AS is_new
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ev_ms, event_id)
),
sid AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ev_ms, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
)"""


def sessionize(events: DataFrame, gap_ms: int = DEFAULT_GAP_MS) -> DataFrame:
    """Per-user sessions: (user_id, session_id, session_start_ms,
    session_end_ms, n_events, total_value). One shuffle on user_id; the
    cumulative-sum session id needs no second shuffle (same partitioning)."""
    with_sid = _with_session_ids(
        events, gap_ms, {"cents": F.round(F.col("value") * 100).cast("bigint")}
    )
    return (
        with_sid.groupBy("user_id", "session_id")
        .agg(
            F.min("ev_ms").alias("session_start_ms"),
            F.max("ev_ms").alias("session_end_ms"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("cents"),
        )
        .select(
            "user_id",
            "session_id",
            "session_start_ms",
            "session_end_ms",
            "n_events",
            (F.col("cents").cast("double") / 100).alias("total_value"),
        )
    )


def sessionize_sql() -> str:
    prefix = _session_sql_prefix("CAST(round(value * 100) AS BIGINT) AS cents")
    return f"""
WITH {prefix}
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       min(ev_ms) AS session_start_ms,
       max(ev_ms) AS session_end_ms, count(*) AS n_events,
       CAST(sum(cents) AS DOUBLE) / 100 AS total_value
FROM sid GROUP BY user_id, session_id
"""
# CAST(session_id AS BIGINT): DuckDB sum(INT) yields HUGEINT, which lands in
# pandas as float64 and could hash differently from Spark's int64.


def streaming_sessionize(events: DataFrame) -> DataFrame:
    """Streaming twin via native session_window (merging gap sessions)."""
    ts = ntz_as_utc_instant().alias("ts_i")
    gap = f"{DEFAULT_GAP_MS // 60000} minutes"
    return (
        events.select(ts, F.col("user_id"))
        .withWatermark("ts_i", WATERMARK)
        .groupBy(F.session_window("ts_i", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_millis("w.start").alias("session_start_ms"),
            F.unix_millis("w.end").alias("session_end_ms"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Event-transition (first-order Markov) counts
# ---------------------------------------------------------------------------


def event_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition counts over each user's event stream:
    order every user's events by (ts, seq) -- a TOTAL order, so lag() is
    deterministic -- pair each event with its predecessor's type, and count
    corpus-wide (prev_type, next_type) transitions plus how many distinct
    users exhibit each. ``p_next`` is the row-conditional transition
    probability P(next | prev): a BIGINT/BIGINT division, bit-identical
    cross-engine (identical operands, one IEEE division).

    The sequence-modeling twin of sessionize(): behavioral cloning / user
    simulation pipelines train on exactly this matrix.

    Scale shape (100 TB): ONE hash shuffle on user_col for the lag window
    (per-user state is a sort, not a buffer), then a groupBy on the ~|types|^2
    transition space, which partial-aggregates map-side to almost nothing.
    The probability window runs over |types| rows -- trivial."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        F.col("user_id").alias("uid"),
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).where(F.col("prev_type").isNotNull())
    counts = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.countDistinct("uid").alias("n_users"),
    )
    tot = F.sum("n_transitions").over(Window.partitionBy("prev_type"))
    return counts.select(
        "prev_type",
        "next_type",
        "n_transitions",
        "n_users",
        (F.col("n_transitions").cast("double") / tot).alias("p_next"),
    )


def event_transitions_sql() -> str:
    """DuckDB twin of :func:`event_transitions` (same total order, same
    BIGINT/BIGINT probability division)."""
    return """
WITH seq AS (
  SELECT user_id AS uid, event_type AS next_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
t AS (
  SELECT prev_type, next_type,
         CAST(count(*) AS BIGINT) AS n_transitions,
         CAST(count(DISTINCT uid) AS BIGINT) AS n_users
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, n_transitions, n_users,
       CAST(n_transitions AS DOUBLE)
         / CAST(sum(n_transitions) OVER (PARTITION BY prev_type) AS BIGINT)
         AS p_next
FROM t
"""


# ---------------------------------------------------------------------------
# Top-k session paths (ordered event-type sequences per session)
# ---------------------------------------------------------------------------

SESSION_PATH_MAX_EVENTS = 10  # path truncation: first N events of a session
SESSION_PATH_TOPK = 20


def session_path_topk(
    events: DataFrame,
    gap_ms: int = DEFAULT_GAP_MS,
    max_events: int = SESSION_PATH_MAX_EVENTS,
    k: int = SESSION_PATH_TOPK,
) -> DataFrame:
    """The k most common session journeys per journey length: each session's
    ordered event-type sequence (same gap rule as :func:`sessionize`,
    truncated to its first ``max_events`` events), counted corpus-wide and
    ranked by (count desc, path asc) within each path length. The
    sequence-mining staple behind funnel discovery and UX-path analysis.

    Ordered aggregation cross-engine: Spark has no ORDER BY inside
    aggregate functions, so the path is ``sort_array(collect_list(
    struct(rn, type)))`` -- rn is a row_number over the session's total
    order, unique, so the sort is deterministic -- mirrored in DuckDB by
    ``string_agg(type, '>' ORDER BY rn)``. The '>' delimiter is safe for
    this schema's event types; a general deployment would reject types
    containing it.

    Scale shape (100 TB): the session assignment and per-session
    aggregation are keyed on user (two windows over one user-hash
    shuffle's co-location, then a groupBy); the ranking window runs over
    the aggregated (path, count) relation -- bounded by distinct truncated
    paths, orders of magnitude smaller than the event log -- partitioned
    by path length, emitting <= k rows per length (the
    frequent_tokens_topk shape)."""
    sid = _with_session_ids(events, gap_ms, {"etype": F.col("event_type")})
    wn = Window.partitionBy("user_id", "session_id").orderBy("ev_ms", "event_id")
    truncated = sid.withColumn("rn", F.row_number().over(wn)).where(
        F.col("rn") <= max_events
    )
    paths = truncated.groupBy("user_id", "session_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("rn", F.col("etype").alias("t")))
                ),
                lambda s: s["t"],
            ),
        ).alias("path"),
        F.count(F.lit(1)).cast("int").alias("path_len"),
    )
    counts = paths.groupBy("path", "path_len").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )
    wr = Window.partitionBy("path_len").orderBy(F.desc("n_sessions"), F.asc("path"))
    return (
        counts.withColumn("rank", F.row_number().over(wr).cast("int"))
        .where(F.col("rank") <= k)
        .select("path_len", "rank", "path", "n_sessions")
    )


def session_path_topk_sql() -> str:
    """DuckDB twin of :func:`session_path_topk` (string_agg ORDER BY rn ==
    the sort_array(collect_list(struct)) form)."""
    prefix = _session_sql_prefix("event_type AS etype")
    return f"""
WITH {prefix},
tr AS (
  SELECT user_id, session_id, etype,
         row_number() OVER (PARTITION BY user_id, session_id
                            ORDER BY ev_ms, event_id) AS rn
  FROM sid
),
paths AS (
  SELECT user_id, session_id,
         string_agg(etype, '>' ORDER BY rn) AS path,
         CAST(count(*) AS INT) AS path_len
  FROM tr WHERE rn <= {SESSION_PATH_MAX_EVENTS} GROUP BY user_id, session_id
),
counts AS (
  SELECT path, path_len, CAST(count(*) AS BIGINT) AS n_sessions
  FROM paths GROUP BY path, path_len
)
SELECT path_len, rank, path, n_sessions FROM (
  SELECT path_len, path, n_sessions,
         CAST(row_number() OVER (PARTITION BY path_len
                                 ORDER BY n_sessions DESC, path) AS INT) AS rank
  FROM counts
) WHERE rank <= {SESSION_PATH_TOPK}
"""


def concurrency_profile(
    events: DataFrame, gap_ms: int = DEFAULT_GAP_MS, bucket_ms: int = 3600000
) -> DataFrame:
    """Interval sweep-line concurrency profile: how many milliseconds the
    system spent at each level of concurrently-open sessions. Sessions are
    the gap-based ones :func:`sessionize` emits, occupying the half-open
    interval [first_event, last_event + gap) -- the session_window end
    convention. Output (concurrency, total_ms, n_segments), all BIGINT;
    sum(total_ms) spans exactly [min start, max end) (conservation law,
    pytest-pinned). The capacity-planning / peak-load query every event
    platform runs, and a member of the range/interval-analytics family
    (asof join, range join, gap-fill).

    Gated since round 7 (catalog name session_concurrency_profile).

    The classic formulation is a GLOBAL prefix sum over +1/-1 boundary
    events -- a single-partition window, the scale anti-pattern. This
    implementation is the scalable two-phase prefix sum: (1) boundary
    deltas collapse per millisecond (zero-width segments vanish, making
    tie order irrelevant and the collapsed frame deterministic); (2) a
    per-TIME-BUCKET partial sum runs in parallel
    (Window.partitionBy(bucket)); (3) only the per-bucket summary (net
    delta + first boundary per nonempty bucket -- bounded by the time
    span, ~744 rows/month at hourly buckets, NOT data-sized) goes through
    a single-partition cumulative window, then broadcasts back as each
    bucket's carry-in offset. Segments crossing bucket boundaries are
    attributed to their starting boundary; the per-bucket lead() falls
    back to the next nonempty bucket's first boundary from the same
    summary. Levels equal the global running sum exactly, at any
    bucket_ms."""
    sess = sessionize(events, gap_ms=gap_ms)
    iv = sess.select(
        F.col("session_start_ms").alias("s"),
        (F.col("session_end_ms") + gap_ms).alias("e"),
    )
    return concurrency_from_intervals(iv, bucket_ms)


def concurrency_from_intervals(
    intervals: DataFrame, bucket_ms: int = 3600000
) -> DataFrame:
    """The sweep-line stage of :func:`concurrency_profile` over an
    arbitrary half-open interval relation (columns ``s``, ``e`` in ms) --
    shared by the batch profile (gap sessions) and the streaming twin
    (drained session_window sessions, whose ends already carry the gap).
    Same scalable two-phase prefix sum; see concurrency_profile's
    docstring for the decomposition argument."""
    # ONE pass over the interval subtree: the union-of-two-selects form
    # re-evaluates the (possibly expensive) interval lineage once per
    # boundary branch (CLAUDE.md twice-consumed rule); exploding both
    # boundary structs from each row keeps a single evaluation.
    bounds = intervals.select(
        F.explode(
            F.array(
                F.struct(F.col("s").alias("ms"), F.lit(1).alias("d")),
                F.struct(F.col("e").alias("ms"), F.lit(-1).alias("d")),
            )
        ).alias("b")
    ).select("b.ms", "b.d")
    # net is consumed TWICE -- the bucket summary (which feeds a
    # BROADCAST build, where exchange reuse never applies) and the
    # level join -- so without the cut the whole upstream chain
    # (sessionize's user-keyed windows, the boundary explode, this
    # groupBy) evaluates once per consumer. The materialization is
    # boundary-sized (<= 2 rows per interval after the per-ms
    # collapse), the same order as the shuffle it already pays.
    net = (
        bounds
        .groupBy("ms")
        .agg(F.sum("d").cast("bigint").alias("net"))
        .withColumn("h", F.col("ms") - F.col("ms") % bucket_ms)
        .localCheckpoint()
    )
    hsum = net.groupBy("h").agg(
        F.sum("net").alias("h_net"), F.min("ms").alias("h_first")
    )
    # bounded single-partition window: one row per NONEMPTY time bucket
    hw = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    hw_lead = Window.orderBy("h")
    hcum = hsum.select(
        "h",
        (F.sum("h_net").over(hw) - F.col("h_net")).alias("carry"),
        F.lead("h_first").over(hw_lead).alias("next_first"),
    )
    w_in = Window.partitionBy("h").orderBy("ms")
    w_run = w_in.rowsBetween(Window.unboundedPreceding, 0)
    lv = net.join(F.broadcast(hcum), "h").select(
        "ms",
        (F.col("carry") + F.sum("net").over(w_run)).alias("concurrency"),
        F.coalesce(F.lead("ms").over(w_in), F.col("next_first")).alias("next_ms"),
    )
    return (
        lv.where(F.col("next_ms").isNotNull())
        .groupBy("concurrency")
        .agg(
            F.sum(F.col("next_ms") - F.col("ms")).alias("total_ms"),
            F.count(F.lit(1)).alias("n_segments"),
        )
    )


def concurrency_profile_sql() -> str:
    """DuckDB twin of :func:`concurrency_profile`: the plain GLOBAL
    running sum over the same collapsed boundary deltas (the bucketed
    two-phase form is plan-level only -- levels and segments are equal by
    construction, which is exactly what the differential pins)."""
    prefix = _session_sql_prefix("1 AS one")
    sessions_sql = f"""WITH {prefix}
  SELECT user_id, session_id, min(ev_ms) AS s, max(ev_ms) + {DEFAULT_GAP_MS} AS e
  FROM sid GROUP BY 1, 2"""
    return concurrency_sweep_sql(sessions_sql)


def concurrency_sweep_sql(sessions_sql: str) -> str:
    """DuckDB sweep stage over any interval relation yielding (s, e) --
    the SQL twin of :func:`concurrency_from_intervals`."""
    return f"""
WITH sess AS ({sessions_sql}),
deltas AS (
  SELECT s AS ms, 1 AS d FROM sess
  UNION ALL
  SELECT e AS ms, -1 AS d FROM sess
),
net AS (SELECT ms, CAST(sum(d) AS BIGINT) AS net FROM deltas GROUP BY 1),
lv AS (
  SELECT ms,
         CAST(sum(net) OVER (ORDER BY ms
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS concurrency,
         lead(ms) OVER (ORDER BY ms) AS next_ms
  FROM net
)
SELECT concurrency, CAST(sum(next_ms - ms) AS BIGINT) AS total_ms,
       CAST(count(*) AS BIGINT) AS n_segments
FROM lv WHERE next_ms IS NOT NULL GROUP BY 1
"""

ATTR_PPM = 1_000_000
ATTR_END_PPM = 400_000  # U-shape: 40% first touch, 40% last, 20% middle


ATTRIBUTION_CREDIT_CONVERSION_TYPE = "purchase"
ATTRIBUTION_CREDIT_TOUCH_TYPES = ("view", "click")
ATTRIBUTION_CREDIT_WINDOW_MS = 6 * 3600 * 1000


def attribution_credit(
    events: DataFrame, window_ms: int = ATTRIBUTION_CREDIT_WINDOW_MS
) -> DataFrame:
    """Multi-touch attribution (U-shaped / position-based): every
    conversion distributes exactly 1,000,000 ppm of credit over the same
    user's touch events inside the preceding attribution window -- 40%
    to the first touch, 40% to the last, 20% split across the middle --
    the marketing-analytics companion to the funnel and retention
    queries. Output (event_type, n_touches, credit_ppm), BIGINTs,
    aggregated per touch type.

    Determinism: credit is integer ppm with the middle split's division
    remainder assigned to the LAST touch, so every conversion's credits
    sum to exactly ATTR_PPM (conservation pytest-pinned: total credit =
    1e6 x attributed conversions); touch order is the (ts, event_id)
    total order. Single-touch conversions take the full 1e6; two-touch
    split 50/50 (the standard position-based degenerate cases).

    Scale shape (100 TB): conversions x touches is a hash equi-join on
    the USER key with a residual time-window filter (the scd2_pit rule:
    never a range-cartesian); the rank/count windows partition by
    conversion id -- parallel across conversions; the final fold is a
    |touch_types|-row aggregate with map-side partials."""
    from ..functions.time import epoch_ms as _epoch_ms

    ms = _epoch_ms("ts")
    conv = events.where(F.col("event_type") == ATTRIBUTION_CREDIT_CONVERSION_TYPE).select(
        F.col("user_id").alias("u"), ms.alias("c_ms"), F.col("event_id").alias("c_id")
    )
    touch = events.where(F.col("event_type").isin(*ATTRIBUTION_CREDIT_TOUCH_TYPES)).select(
        F.col("user_id").alias("u"),
        ms.alias("t_ms"),
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("t_type"),
    )
    j = conv.join(touch, "u").where(
        (F.col("t_ms") <= F.col("c_ms"))
        & (F.col("t_ms") > F.col("c_ms") - window_ms)
    )
    w = Window.partitionBy("c_id").orderBy("t_ms", "t_id")
    wk = Window.partitionBy("c_id")
    ranked = j.select(
        "t_type",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wk).alias("n"),
    )
    end, total, mid_pool = ATTR_END_PPM, ATTR_PPM, ATTR_PPM - 2 * ATTR_END_PPM
    mid = F.expr(f"{mid_pool} DIV greatest(n - 2, 1)")
    credit = (
        F.when(F.col("n") == 1, F.lit(total))
        .when(F.col("n") == 2, F.lit(total // 2))
        .when(F.col("rn") == 1, F.lit(end))
        .when(
            F.col("rn") == F.col("n"),
            F.lit(end) + F.lit(mid_pool) - (F.col("n") - 2) * mid,
        )
        .otherwise(mid)
    )
    return ranked.groupBy(F.col("t_type").alias("event_type")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.sum(credit).cast("bigint").alias("credit_ppm"),
    )


def attribution_credit_sql() -> str:
    """DuckDB twin of :func:`attribution_credit` (`//` = integer
    division; same total order, same remainder-to-last rule)."""
    end, total, mid_pool = ATTR_END_PPM, ATTR_PPM, ATTR_PPM - 2 * ATTR_END_PPM
    tt = ", ".join(f"'{t}'" for t in ATTRIBUTION_CREDIT_TOUCH_TYPES)
    return f"""
WITH conv AS (
  SELECT user_id AS u, epoch_ms(ts) AS c_ms, event_id AS c_id
  FROM events WHERE event_type = '{ATTRIBUTION_CREDIT_CONVERSION_TYPE}'
),
touch AS (
  SELECT user_id AS u, epoch_ms(ts) AS t_ms, event_id AS t_id,
         event_type AS t_type
  FROM events WHERE event_type IN ({tt})
),
ranked AS (
  SELECT t_type,
         row_number() OVER (PARTITION BY c_id ORDER BY t_ms, t_id) AS rn,
         count(*) OVER (PARTITION BY c_id) AS n
  FROM conv JOIN touch USING (u)
  WHERE t_ms <= c_ms AND t_ms > c_ms - {ATTRIBUTION_CREDIT_WINDOW_MS}
),
credited AS (
  SELECT t_type,
         CASE WHEN n = 1 THEN {total}
              WHEN n = 2 THEN {total // 2}
              WHEN rn = 1 THEN {end}
              WHEN rn = n THEN {end} + {mid_pool} - (n - 2) * ({mid_pool} // greatest(n - 2, 1))
              ELSE {mid_pool} // greatest(n - 2, 1) END AS credit
  FROM ranked
)
SELECT t_type AS event_type, CAST(count(*) AS BIGINT) AS n_touches,
       CAST(sum(credit) AS BIGINT) AS credit_ppm
FROM credited GROUP BY 1
"""

def user_behavior_gini(events: DataFrame) -> DataFrame:
    """Per-user behavioral diversity as GINI IMPURITY over the user's
    event-type distribution: gini = 1 - sum_t p_t^2 -- 0 for a
    single-behavior user, approaching 1 - 1/k for a uniform k-type user.
    The segmentation feature a personalization / anomaly pipeline
    derives per entity; Gini is chosen over Shannon entropy DELIBERATELY:
    entropy needs ln() (libm, not correctly rounded cross-engine -- the
    BM25 lesson), while Gini is a pure rational, so the score ships as
    the exact integer ppm (1e6 * (n^2 - sum c_t^2)) DIV n^2. Output
    (user_id, n_events, n_types, gini_ppm), all BIGINT.

    Scale shape (100 TB): two hash aggregates with map-side partials
    ((user, type) counts, then per-user sufficient statistics n and
    sum c^2) -- the same two-level fold as distinct_users_per_type;
    output is one row per user. n >= 1 for every emitted user, so the
    ANSI division needs no guard. Exactness bound (the cusum
    precedent): 1e6 * n^2 must stay under 2^63, i.e. n < ~3.0e6 events
    PER USER -- ANSI raises loudly past it on both engines (never a
    silent wrap); the mitigation for bot-scale keys is capping or
    sampling the offending user's events upstream, which changes the
    answer only for the key that overflowed."""
    ct = events.groupBy(
        "user_id", F.col("event_type").alias("t")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    per = ct.groupBy("user_id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.col("c") * F.col("c")).alias("sumsq"),
    )
    return per.select(
        "user_id",
        F.col("n").cast("bigint").alias("n_events"),
        "n_types",
        F.expr("(1000000 * (n * n - sumsq)) DIV (n * n)")
        .cast("bigint")
        .alias("gini_ppm"),
    )


def user_behavior_gini_sql() -> str:
    """DuckDB twin of :func:`user_behavior_gini`: same two-level fold and
    integer ppm."""
    return """
WITH ct AS (
  SELECT user_id, event_type AS t,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
per AS (
  SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(c * c) AS BIGINT) AS sumsq
  FROM ct GROUP BY 1
)
SELECT user_id, n AS n_events, n_types,
       CAST((1000000 * (n * n - sumsq)) // (n * n) AS BIGINT) AS gini_ppm
FROM per
"""

def session_cooccurrence_lift(events: DataFrame, gap_ms: int = DEFAULT_GAP_MS) -> DataFrame:
    """Market-basket co-occurrence over sessions -- the association-rule
    screen (baskets = gap sessions, items = event types): for every
    unordered type pair, in how many sessions both occur, and the LIFT
    against independence, lift = P(a,b) / (P(a) * P(b)) =
    (n_both * n_sessions) / (n_a * n_b). Complements
    event_transitions_markov (adjacent ORDER) with order-free
    co-presence -- the statistic item-similarity / embedding-prep
    pipelines start from. Lift ships as exact integer ppm
    ((1e6 * n_both * n_sessions) DIV (n_a * n_b) -- NPMI would need
    ln(), the BM25 lesson); > 1e6 means attraction, < 1e6 repulsion.
    Output (type_a, type_b, n_both, n_a, n_b, lift_ppm) for co-occurring
    pairs, type_a < type_b.

    Exactness bound (ADVICE r8, mirrors user_behavior_gini): the
    numerator 1e6 * n_both * n_sessions stays inside BIGINT only while
    n_both * n_sessions < ~9.2e12 -- since n_both <= n_sessions, that
    is n_sessions up to ~3e6 with fully-correlated pairs, or
    correspondingly more when pairs are rarer. Past it, ANSI raises
    loudly on BOTH engines (never a silent wrap). Upstream mitigation
    at 100 TB: compute lift per shard/stratum (n_sessions per stratum
    bounded) or pre-divide the constant (floor(1e6 DIV n_a) loses
    exactness; the stratified route keeps it).

    Scale shape (100 TB): session ids via the shared lag-gap-cumsum
    windows (user-partitioned, parallel); baskets collapse to DISTINCT
    (session, type) first, so the within-basket self-join fans out at
    most C(types_in_session, 2) pairs per session (vocabulary-bounded
    per basket, never events^2); per-type and pair counts fold with
    map-side partials to vocabulary-bounded relations; the 1-row session
    total broadcasts (the A4 pattern). The basket projection is
    localCheckpoint'd once for its four consumers (session total,
    per-type counts, both self-join sides), so the sessionization
    windows run exactly once per query."""
    sid = _with_session_ids(events, gap_ms, {"t": F.col("event_type")})
    basket = (
        sid.select("user_id", "session_id", "t").distinct()
        .select(
            F.concat_ws(
                ":", F.col("user_id").cast("string"), F.col("session_id").cast("string")
            ).alias("b"),
            "t",
        )
        # consumed by the session total, the per-type counts, and BOTH
        # sides of the within-basket self-join: localCheckpoint once so
        # the sessionization windows run exactly once (the r2 self-join
        # rule; a bare self-join re-evaluates the subtree per side)
        .localCheckpoint()
    )
    n_sessions = basket.select("b").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions")
    )
    per_type = (
        basket.groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_t"))
        # vocabulary-bounded, consumed by two broadcast builds (na/nb)
        .localCheckpoint()
    )
    a = basket.select(F.col("b"), F.col("t").alias("type_a"))
    b = basket.select(F.col("b"), F.col("t").alias("type_b"))
    pairs = (
        a.join(b, "b")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    na = per_type.select(F.col("t").alias("type_a"), F.col("n_t").alias("n_a"))
    nb = per_type.select(F.col("t").alias("type_b"), F.col("n_t").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .crossJoin(F.broadcast(n_sessions))
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.expr("(1000000 * n_both * n_sessions) DIV (n_a * n_b)")
            .cast("bigint")
            .alias("lift_ppm"),
        )
    )


def session_cooccurrence_lift_sql() -> str:
    """DuckDB twin of :func:`session_cooccurrence_lift`: the shared
    session-id CTE prefix, the same basket distinct, self-join, and
    integer lift."""
    prefix = _session_sql_prefix("event_type AS t")
    return f"""
WITH {prefix},
basket AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) || ':' ||
         CAST(session_id AS VARCHAR) AS b, t
  FROM sid
),
ns AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n_sessions FROM basket),
per_type AS (SELECT t, CAST(count(*) AS BIGINT) AS n_t FROM basket GROUP BY 1),
pairs AS (
  SELECT a.t AS type_a, bb.t AS type_b, CAST(count(*) AS BIGINT) AS n_both
  FROM basket a JOIN basket bb ON a.b = bb.b AND a.t < bb.t
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_both, na.n_t AS n_a, nb.n_t AS n_b,
       CAST((1000000 * n_both * n_sessions) // (na.n_t * nb.n_t) AS BIGINT)
         AS lift_ppm
FROM pairs
JOIN per_type na ON na.t = type_a
JOIN per_type nb ON nb.t = type_b, ns
"""


# ONE source of truth for the day-bucket width (the SKETCH_WINDOW_MS
# lesson: duplicated bucket literals desync silently on a one-sided edit)
from .timeseries import DAY_MS as RFM_DAY_MS  # noqa: E402

RFM_N_Q = 4  # quartiles -- the classic 4x4x4 RFM grid


def rfm_segments(events: DataFrame) -> DataFrame:
    """RFM (recency / frequency / monetary) quantile segmentation -- the
    classic CRM / user-analytics grid (Hughes 1994): each user scored
    0..n_q-1 on days-since-last-event, event count, and total cents,
    then counted per (r_q, f_q, m_q) cell. The cell grid is what a
    targeting/retention pipeline reads ("champions" = high on all
    three); n_q=4 is the standard quartile form.

    Output (r_q, f_q, m_q, n_users, sum_events, sum_cents) -- at most
    n_q^3 rows, ALL exact BIGINTs (no floats anywhere). Quantile
    assignment is VALUE-COLLAPSED: q(v) = least(n_q-1,
    n_q * count_strictly_below(v) DIV n_users), so every user sharing a
    metric value lands in the same bucket (no arbitrary tie split) and
    boundary ties collapse downward -- deterministic at any partition
    count on both engines (nonnegative operands, so Spark's truncating
    DIV equals DuckDB's flooring //). The recency quantile counts users
    STRICTLY MORE RECENT (last-active-day DESCENDING) -- identical to
    strictly-below on days-since-last, without ever materializing a
    corpus-wide max-day column -- so r_q = 0 is the MOST RECENT cohort
    while f_q = 0 / m_q = 0 are the least-active/least-valuable
    ("0 = best recency, 0 = worst activity" per RFM convention).

    Determinism: recency is epoch-ms floor-division to days (session-TZ
    independent; epoch_ms >= 0 precondition per the per-engine
    integer-division rule); monetary is exact integer cents with NULL
    values coalesced to 0 on BOTH engines BEFORE aggregation (a NULL
    metric would hit the Spark-NULLS-FIRST vs DuckDB-NULLS-LAST window
    ordering divergence -- the KS lesson -- and sum-skipping would
    desync m from f).

    Scale shape (100 TB): ONE map-side-combined hash aggregate reduces
    the corpus to the per-user (last_d, f, m) frame, localCheckpoint'd
    once for its FIVE consumers (three metric histograms, the 1-row
    user count, the final join chain -- the multi-consumer rule). Each
    quantile map is a groupBy histogram BOUNDED BY DISTINCT METRIC
    VALUES (days by the span, counts by per-user activity, cents by
    value quantization -- the KS cell-relation class, never
    corpus-sized), a cumulative window over that bounded frame (the
    length_batches offset precedent) with the 1-row count broadcast
    into it, and a broadcast join back. No corpus-sized window, no
    per-user global rank, no corpus-wide scalar projection."""
    d_col = F.floor(epoch_ms("ts") / F.lit(RFM_DAY_MS)).cast("bigint")
    cents = F.coalesce(
        F.floor(F.col("value") * F.lit(1e2) + F.lit(5e-1)).cast("bigint"),
        F.lit(0),
    )
    per_user = (
        events.select(
            "user_id", d_col.alias("d"), cents.alias("c")
        )
        .groupBy("user_id")
        .agg(
            F.max("d").alias("last_d"),
            F.count(F.lit(1)).alias("f"),
            F.sum("c").cast("bigint").alias("m"),
        )
        # FIVE consumers (3 histograms + user count + join chain): cut
        # the corpus scan once (multi-consumer rule); |users|-bounded
        .localCheckpoint()
    )
    # 1-row frame consumed by all three quantile maps: checkpoint or the
    # per_user count re-aggregates once per map (multi-consumer rule)
    n1 = per_user.agg(F.count(F.lit(1)).alias("n_users")).localCheckpoint()

    def _qmap(col: str, q_name: str, descending: bool = False) -> DataFrame:
        """(value -> quantile) map: distinct-value histogram, cumulative
        strictly-better count over the bounded frame, integer bucket."""
        hist = per_user.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        hist = hist.crossJoin(F.broadcast(n1))
        order = F.col(col).desc() if descending else F.col(col).asc()
        w = Window.orderBy(order).rowsBetween(Window.unboundedPreceding, -1)
        staged = hist.select(
            col,
            "n_users",
            F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("bigint").alias("below"),
        )
        # true integer division (nonnegative operands: Spark's
        # truncating DIV == DuckDB's flooring //), never a double
        # divide + cast
        return staged.select(
            col,
            F.least(
                F.lit(RFM_N_Q - 1).cast("bigint"),
                F.expr(f"({RFM_N_Q} * below) DIV n_users").cast("bigint"),
            ).alias(q_name),
        )

    rq = _qmap("last_d", "r_q", descending=True)
    fq = _qmap("f", "f_q")
    mq = _qmap("m", "m_q")
    joined = (
        per_user.join(F.broadcast(rq), "last_d")
        .join(F.broadcast(fq), "f")
        .join(F.broadcast(mq), "m")
    )
    return (
        joined.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("f").cast("bigint").alias("sum_events"),
            F.sum("m").cast("bigint").alias("sum_cents"),
        )
        .select("r_q", "f_q", "m_q", "n_users", "sum_events", "sum_cents")
    )


def rfm_segments_sql() -> str:
    """DuckDB twin of :func:`rfm_segments` (same per-user BIGINT frame,
    same value-collapsed strictly-below quantile maps over the
    distinct-value histograms, same flooring integer division; BIGINT
    casts on sum()/count() outputs -- the HUGEINT dtype-skew rule)."""
    qcap = RFM_N_Q - 1
    return f"""
WITH per_user AS (
  SELECT user_id,
         max(epoch_ms(ts) // {RFM_DAY_MS}) AS last_d,
         CAST(count(*) AS BIGINT) AS f,
         CAST(sum(COALESCE(CAST(floor(value * 1e2 + 5e-1) AS BIGINT), 0))
              AS BIGINT) AS m
  FROM events GROUP BY 1
),
n1 AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM per_user),
rh AS (SELECT last_d, CAST(count(*) AS BIGINT) AS cnt FROM per_user GROUP BY 1),
rq AS (
  SELECT last_d, least(CAST({qcap} AS BIGINT),
                  CAST(({RFM_N_Q} * COALESCE(CAST(sum(cnt) OVER
                    (ORDER BY last_d DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS BIGINT), 0)) // n_users AS BIGINT)) AS r_q
  FROM rh, n1
),
fh AS (SELECT f, CAST(count(*) AS BIGINT) AS cnt FROM per_user GROUP BY 1),
fq AS (
  SELECT f, least(CAST({qcap} AS BIGINT),
                  CAST(({RFM_N_Q} * COALESCE(CAST(sum(cnt) OVER
                    (ORDER BY f ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS BIGINT), 0)) // n_users AS BIGINT)) AS f_q
  FROM fh, n1
),
mh AS (SELECT m, CAST(count(*) AS BIGINT) AS cnt FROM per_user GROUP BY 1),
mq AS (
  SELECT m, least(CAST({qcap} AS BIGINT),
                  CAST(({RFM_N_Q} * COALESCE(CAST(sum(cnt) OVER
                    (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS BIGINT), 0)) // n_users AS BIGINT)) AS m_q
  FROM mh, n1
)
SELECT r_q, f_q, m_q, CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(f) AS BIGINT) AS sum_events, CAST(sum(m) AS BIGINT) AS sum_cents
FROM per_user
JOIN rq USING (last_d) JOIN fq USING (f) JOIN mq USING (m)
GROUP BY 1, 2, 3
"""
