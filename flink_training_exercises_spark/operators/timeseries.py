"""Time-series regularization operators: gap-fill to a fixed grid +
forward fill.

The reference's windowed operators (PopularPlaces' sliding counts,
TravelTimePrediction's keyed state) consume irregular event streams; the
warehouse-side twin every metrics pipeline needs is the opposite
direction -- regularize an irregular series onto a fixed bucket grid and
carry the last observation forward through the gaps (the
resample+ffill shape).

Determinism: buckets are pure epoch-ms arithmetic
(``epoch_ms - epoch_ms % step``), never ``date_trunc`` -- session-TZ
independent on both engines (CLAUDE.md round-3 note: ``date_trunc`` on an
instant truncates in session TZ). The per-bucket observation is chosen by
a total order (ts desc, event_id desc), and the filled value is a raw
column value, never an aggregate -- so doubles hash identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

HOUR_MS = 3_600_000


def gapfill_ffill(events: DataFrame, step_ms: int = HOUR_MS) -> DataFrame:
    """Regularize each key's event series onto a fixed ``step_ms`` grid
    spanning that key's own [min, max] bucket range, carrying the last
    observed value forward through empty buckets.

    Output: (key, bucket_ms, value, is_observed) -- one row per key per
    grid step; ``value`` is the latest observation in the bucket (by
    ``ts_col`` then ``seq_col``, a total order) or the carried-forward
    previous value; ``is_observed`` marks real buckets.

    Scale shape (100 TB): everything is keyed by ``key_col`` -- ONE hash
    shuffle; per-key work is bounded by that key's time span divided by
    the grid step (the explode is sequence-bounded, never corpus-bounded),
    and the forward fill is a single running window pass over the already
    co-located series (`last(ignorenulls)` with an unbounded-preceding
    rows frame -- linear, no re-sort beyond the window's own). Dense keys
    collapse to one observation per bucket BEFORE the grid join.
    """
    from ..functions.time import epoch_ms as _epoch_ms

    ms = _epoch_ms("ts")
    obs = events.select(
        F.col("user_id").alias("key"),
        (ms - ms % step_ms).alias("bucket_ms"),
        ms.alias("_ms"),
        F.col("event_id").alias("_seq"),
        "value",
    )
    w_pick = Window.partitionBy("key", "bucket_ms").orderBy(
        F.desc("_ms"), F.desc("_seq")
    )
    per_bucket = (
        obs.withColumn("_rk", F.row_number().over(w_pick))
        .where(F.col("_rk") == 1)
        .select("key", "bucket_ms", "value")
    )
    grid = obs.groupBy("key").agg(
        F.min("bucket_ms").alias("mn"), F.max("bucket_ms").alias("mx")
    )
    grid = grid.select(
        "key",
        F.explode(
            F.sequence(F.col("mn"), F.col("mx"), F.lit(step_ms).cast("bigint"))
        ).alias("bucket_ms"),
    )
    w_fill = Window.partitionBy("key").orderBy("bucket_ms").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        grid.join(per_bucket, ["key", "bucket_ms"], "left")
        .select(
            F.col("key").alias("user_id"),
            "bucket_ms",
            F.last("value", ignorenulls=True).over(w_fill).alias("value"),
            F.col("value").isNotNull().alias("is_observed"),
        )
    )


def gapfill_ffill_sql() -> str:
    """DuckDB twin of :func:`gapfill_ffill` (generate_series grid +
    ``last_value IGNORE NULLS`` running fill)."""
    return f"""
WITH obs AS (
  SELECT user_id AS key,
         epoch_ms(ts) - epoch_ms(ts) % {HOUR_MS} AS bucket_ms,
         epoch_ms(ts) AS ms, event_id AS seq, value
  FROM events
),
per_bucket AS (
  SELECT key, bucket_ms, value FROM (
    SELECT key, bucket_ms, value,
           row_number() OVER (PARTITION BY key, bucket_ms
                              ORDER BY ms DESC, seq DESC) AS rk
    FROM obs
  ) WHERE rk = 1
),
grid AS (
  SELECT key, unnest(generate_series(min(bucket_ms), max(bucket_ms), {HOUR_MS}))
           AS bucket_ms
  FROM obs GROUP BY key
)
SELECT g.key AS user_id,
       g.bucket_ms,
       last_value(p.value IGNORE NULLS) OVER (
         PARTITION BY g.key ORDER BY g.bucket_ms
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS value,
       p.value IS NOT NULL AS is_observed
FROM grid g LEFT JOIN per_bucket p
  ON g.key = p.key AND g.bucket_ms = p.bucket_ms
"""


# ---------------------------------------------------------------------------
# Rolling z-score anomaly flags (exact-integer baseline statistics)
# ---------------------------------------------------------------------------

ZSCORE_LOOKBACK = 20  # baseline window: the 20 events BEFORE the current one
ZSCORE_MIN_N = 10  # minimum baseline rows before flagging
ZSCORE_K = 3  # flag when |x - mean| > K * sample stddev


def rolling_zscore_anomalies(events: DataFrame) -> DataFrame:
    """Per-key rolling z-score anomaly detection with EXACT integer
    statistics: each event is compared against the mean/stddev of its own
    key's previous ``ZSCORE_LOOKBACK`` values (a trailing frame that
    excludes the current row, so an outlier never masks itself).

    Cross-engine determinism: values are fixed-pointed to integer cents
    (explicit floor(x*100 + 0.5), CLAUDE.md rule), and the z-score test
    |x - mean| > K*stddev is algebraically cleared of divisions:

        (n*x - s)^2 * (n - 1) > K^2 * n * (n*ss - s^2)

    over BIGINT count/sum/sum-of-squares window aggregates -- no float
    exists anywhere, so both engines agree bit for bit. Magnitude bound:
    the largest term is K^2 * n * (n*ss - s^2) <= K^2 * n^3 * cents^2 =
    72000 * cents^2, so |cents| <= 2^23 (values up to ~$83k) stays inside
    BIGINT; beyond that Spark's ANSI mode raises ARITHMETIC_OVERFLOW
    rather than silently wrapping (rescale the fixed point for wider
    domains).

    Scale shape (100 TB): ONE hash shuffle on key_col; the window is a
    bounded trailing ROWS frame over the already co-located, sorted series
    -- O(1) state per row, no second shuffle, no UDF."""
    from pyspark.sql import Window

    cents = F.floor(F.col("value") * F.lit(1e2) + F.lit(5e-1)).cast("bigint")
    base = events.select(
        "event_id",
        F.col("user_id").alias("key"),
        F.col("ts").alias("_ts"),
        cents.alias("cents"),
    )
    w = (
        Window.partitionBy("key")
        .orderBy("_ts", "event_id")
        .rowsBetween(-ZSCORE_LOOKBACK, -1)
    )
    st = base.select(
        "event_id",
        "key",
        "cents",
        F.count(F.lit(1)).over(w).alias("n_baseline"),
        F.coalesce(F.sum("cents").over(w), F.lit(0)).cast("bigint").alias("s"),
        F.coalesce(F.sum(F.col("cents") * F.col("cents")).over(w), F.lit(0))
        .cast("bigint")
        .alias("ss"),
    )
    n, x, s, ss = (F.col(c) for c in ("n_baseline", "cents", "s", "ss"))
    dev = n * x - s
    flagged = (n >= ZSCORE_MIN_N) & (
        dev * dev * (n - 1) > ZSCORE_K * ZSCORE_K * n * (n * ss - s * s)
    )
    return st.select(
        "event_id",
        F.col("key").alias("user_id"),
        "cents",
        n.cast("int").alias("n_baseline"),
        F.when(flagged, F.lit(1)).otherwise(F.lit(0)).cast("int").alias("is_anomaly"),
    )


def rolling_zscore_anomalies_sql() -> str:
    """DuckDB twin of :func:`rolling_zscore_anomalies` (same fixed-point
    cents, same division-free BIGINT test)."""
    k2 = ZSCORE_K * ZSCORE_K
    return f"""
WITH c AS (
  SELECT event_id, user_id, ts AS _ts,
         CAST(floor(value * 1e2 + 5e-1) AS BIGINT) AS cents
  FROM events
),
st AS (
  SELECT event_id, user_id, cents,
         CAST(count(*) OVER w AS BIGINT) AS n_baseline,
         CAST(COALESCE(sum(cents) OVER w, 0) AS BIGINT) AS s,
         CAST(COALESCE(sum(cents * cents) OVER w, 0) AS BIGINT) AS ss
  FROM c
  WINDOW w AS (PARTITION BY user_id ORDER BY _ts, event_id
               ROWS BETWEEN {ZSCORE_LOOKBACK} PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, cents,
       CAST(n_baseline AS INT) AS n_baseline,
       CAST(CASE WHEN n_baseline >= {ZSCORE_MIN_N}
                  AND (n_baseline * cents - s) * (n_baseline * cents - s)
                      * (n_baseline - 1)
                      > {k2} * n_baseline * (n_baseline * ss - s * s)
                 THEN 1 ELSE 0 END AS INT) AS is_anomaly
FROM st
"""


# ---------------------------------------------------------------------------
# Deterministic Pearson correlation from exact integer sums
# ---------------------------------------------------------------------------

DAY_MS = 86_400_000


def value_hour_correlation(events: DataFrame) -> DataFrame:
    """Per-type Pearson correlation between the event value (integer cents)
    and the UTC hour-of-day -- the seasonality screen a metrics pipeline
    runs before modeling. ``corr()`` itself is banned under the
    cross-engine gate (running-moment float accumulation is
    order-dependent); instead the five sufficient statistics are EXACT
    BIGINT sums, and the closed form

        r = (n*sxy - sx*sy) / sqrt((n*sxx - sx^2) * (n*syy - sy^2))

    runs in DOUBLE over identical operands with an identical expression
    tree on both engines -- every IEEE op (including sqrt, which is
    correctly rounded by the standard) is then bit-deterministic.

    Hour-of-day is pure epoch arithmetic ((epoch_ms % day) // hour), never
    ``hour()`` -- session-TZ independent (CLAUDE.md date_trunc rule).

    Scale shape (100 TB): one groupBy on the handful of event types with
    map-side partial BIGINT sums -- integer partials commute, so AQE
    retries and partition order can never perturb the statistics.
    Exactness bound: the binding term is sxx = sum(cents^2), so a group
    stays inside BIGINT while n * max(cents)^2 < 2^63 -- ~3.8e9 rows per
    group at this table's ~$500 values, far under a 100 TB group count.
    Past it, Spark ANSI raises ARITHMETIC_OVERFLOW (loud, not wrong);
    the mitigation is rescaling the fixed point (whole units instead of
    cents buys 10^4x more rows) or salting each group into k sub-sums
    that individually stay exact and combining the k closed-form-ready
    partials in double."""
    from ..functions.time import epoch_ms as _epoch_ms

    ms = _epoch_ms("ts")
    # NULL values would desync the sufficient statistics (count(*) sees
    # the row, sum(x)/sum(x*x) skip it -- r is then not the Pearson r of
    # any sample); exclude them structurally on BOTH engines. Latent on
    # this NULL-free testdata; pushed to the scan as IsNotNull.
    base = events.where(F.col("value").isNotNull()).select(
        "event_type",
        F.floor(F.col("value") * F.lit(1e2) + F.lit(5e-1)).cast("bigint").alias("x"),
        (ms % F.lit(DAY_MS)).alias("_msday"),
    ).selectExpr("event_type", "x", f"_msday div {HOUR_MS} AS y")
    agg = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy, sxx, syy, sxy = (
        F.col(c).cast("double") for c in ("n", "sx", "sy", "sxx", "syy", "sxy")
    )
    prod = (n * sxx - sx * sx) * (n * syy - sy * sy)
    r = F.when(prod > 0, (n * sxy - sx * sy) / F.sqrt(prod))
    return agg.select(
        "event_type",
        F.col("n"),
        F.col("sx").alias("sum_cents"),
        F.col("sy").alias("sum_hours"),
        r.alias("pearson_r"),
    )


def value_hour_correlation_sql() -> str:
    """DuckDB twin of :func:`value_hour_correlation` (same BIGINT sums,
    IDENTICAL double expression tree for the closed form)."""
    return f"""
WITH c AS (
  SELECT event_type,
         CAST(floor(value * 1e2 + 5e-1) AS BIGINT) AS x,
         (epoch_ms(ts) % {DAY_MS}) // {HOUR_MS} AS y
  FROM events WHERE value IS NOT NULL
),
a AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM c GROUP BY event_type
),
d AS (
  SELECT event_type, n, sx, sy,
         (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS prod,
         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num
  FROM a
)
SELECT event_type, n, sx AS sum_cents, sy AS sum_hours,
       CASE WHEN prod > 0e0 THEN num / sqrt(prod) END AS pearson_r
FROM d
"""


def value_trend_ols(events: DataFrame) -> DataFrame:
    """Per-type ordinary-least-squares trend of the event value (integer
    cents) against the day index -- the drift screen that follows
    :func:`value_hour_correlation`'s seasonality screen, under the same
    determinism recipe: built-in regr_slope/regr_intercept are banned
    (running-moment float accumulation is order-dependent), so the five
    sufficient statistics are EXACT BIGINT sums and the closed form

        slope     = (n*sxy - sx*sy) / (n*sxx - sx^2)
        intercept = (sy - slope*sx) / n

    runs in DOUBLE over identical operands with an identical expression
    tree on both engines (div/mul/sub are correctly rounded IEEE ops, so
    the doubles are bit-identical -- the BM25/Pearson recipe).

    x is the day index RE-ORIGINED to each group's first day (an exact
    integer min over the same partitioning, so the extra window costs no
    extra Exchange): slopes are shift-invariant, and the re-origin keeps
    x bounded by the corpus time SPAN in days rather than the epoch day
    number -- the magnitude-mitigation move the correlation docstring
    records, applied. Day boundaries are pure epoch-ms integer division,
    never date_trunc (session-TZ rule).

    Gated since round 10 (catalog name value_trend_ols).

    Scale shape (100 TB): one hash shuffle on event_type; the window min
    and the aggregation share it. Exactness bound: sxx = sum(x^2) <=
    n * span_days^2 -- at a 10-year span (3.7k days) a group stays exact
    past 6e11 rows; beyond that Spark ANSI raises loudly and the
    mitigation is coarser x units (weeks)."""
    from ..functions.time import epoch_ms as _epoch_ms

    # NULL values would desync n/sx/sxx (row counted, y sums skipped --
    # the slope is then not the OLS of any sample); exclude structurally
    # on BOTH engines (latent on this NULL-free testdata).
    base = events.where(F.col("value").isNotNull()).select(
        "event_type",
        F.floor(F.col("value") * F.lit(1e2) + F.lit(5e-1)).cast("bigint").alias("y"),
        F.floor(_epoch_ms("ts") / F.lit(DAY_MS)).cast("bigint").alias("day"),
    )
    w = Window.partitionBy("event_type")
    based = base.select(
        "event_type", "y", (F.col("day") - F.min("day").over(w)).alias("x")
    )
    agg = based.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy, sxx, sxy = (
        F.col(c).cast("double") for c in ("n", "sx", "sy", "sxx", "sxy")
    )
    den = n * sxx - sx * sx
    slope = F.when(den > 0, (n * sxy - sx * sy) / den)
    return agg.select(
        "event_type",
        F.col("n"),
        F.col("sy").alias("sum_cents"),
        slope.alias("slope_cents_per_day"),
        F.when(den > 0, (sy - ((n * sxy - sx * sy) / den) * sx) / n).alias(
            "intercept_cents"
        ),
    )


def value_trend_ols_sql() -> str:
    """DuckDB twin of :func:`value_trend_ols` (same BIGINT sums, IDENTICAL
    double expression trees; `//` = Spark's FLOOR(double div) on these
    nonnegative epoch values)."""
    return f"""
WITH c AS (
  SELECT event_type,
         CAST(floor(value * 1e2 + 5e-1) AS BIGINT) AS y,
         epoch_ms(ts) // {DAY_MS} AS day
  FROM events WHERE value IS NOT NULL
),
r AS (
  SELECT event_type, y,
         day - min(day) OVER (PARTITION BY event_type) AS x
  FROM c
),
a AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
  FROM r GROUP BY event_type
),
d AS (
  SELECT event_type, n, sy,
         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
  FROM a
)
SELECT event_type, n, sy AS sum_cents,
       CASE WHEN den > 0e0 THEN num / den END AS slope_cents_per_day,
       CASE WHEN den > 0e0
            THEN (syd - (num / den) * sxd) / CAST(n AS DOUBLE) END
         AS intercept_cents
FROM d
"""


def cusum_level_shift(events: DataFrame) -> DataFrame:
    """Per-type CUSUM level-shift detection over the bucketed value series
    -- the change-point screen that complements the rolling z-score
    (z-scores catch SPIKES; CUSUM accumulates small sustained SHIFTS).
    One row per type: the bucket where the upward and downward CUSUM
    statistics peak, with their peak values.

    Determinism recipe: the classic recurrence S_i = max(0, S_{i-1}+d_i)
    is a nonlinear fold, but it has the closed form S_i = R_i - min(R_0..
    R_i) over the plain cumulative sum R -- so it is two stock window
    functions, no sequential loop and no applyInPandas. Deviations are
    mean-centered WITHOUT division: d_i = n*x_i - T (x scaled by the
    bucket count n, T = the type's total), keeping every statistic an
    exact BIGINT; peaks are therefore hash-exact across engines. Peak
    ties break to the earliest bucket.

    Buckets are observed buckets only (empty buckets contribute no row --
    the zero-activity-is-a-shift variant composes this with the gap-fill
    operator's grid). Bucket boundaries are pure epoch-ms arithmetic,
    never date_trunc (session-TZ rule).

    Gated since round 10 (catalog name cusum_level_shift).

    Scale shape (100 TB): one shuffle to bucket-aggregate, then windows
    partitioned per type over the BUCKETED series (bounded by the time
    span, not data volume). Exactness bound: |d_i| <= n * max_bucket_sum
    <= n * T, so R stays exact while n^2 * max_bucket_cents < 2^63 --
    ~6e5 buckets at $10M/bucket; past it ANSI raises loudly and the
    mitigation is coarser buckets or whole-unit cents."""
    from ..functions.time import epoch_ms as _epoch_ms

    ms = _epoch_ms("ts")
    # an all-NULL-value bucket would yield x = NULL (sum skips NULLs) --
    # counted in n_buckets but invisible to every running sum; exclude
    # NULL values structurally on BOTH engines (latent on this NULL-free
    # testdata; mixed buckets are unaffected, sum skipped them anyway).
    buck = events.where(F.col("value").isNotNull()).select(
        "event_type",
        (ms - ms % F.lit(HOUR_MS)).alias("bucket_ms"),
        F.floor(F.col("value") * F.lit(1e2) + F.lit(5e-1))
        .cast("bigint")
        .alias("cents"),
    ).groupBy("event_type", "bucket_ms").agg(F.sum("cents").alias("x"))
    wt = Window.partitionBy("event_type")
    w = wt.orderBy("bucket_ms")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    scaled = buck.select(
        "event_type",
        "bucket_ms",
        (F.count(F.lit(1)).over(wt) * F.col("x") - F.sum("x").over(wt)).alias("d"),
        F.count(F.lit(1)).over(wt).alias("n_buckets"),
    )
    r = scaled.withColumn("r", F.sum("d").over(run))
    # the running extremum must include the EMPTY prefix (R_0 = 0):
    # S_i = R_i - min(0, R_1..R_i), else a series opening with positive
    # deviations under-reports (d=[2,-1,-1] would read S_1 = 0, not 2)
    s = r.select(
        "event_type",
        "bucket_ms",
        "n_buckets",
        (F.col("r") - F.least(F.lit(0), F.min("r").over(run))).alias("s_up"),
        (F.greatest(F.lit(0), F.max("r").over(run)) - F.col("r")).alias("s_down"),
    )
    w_up = wt.orderBy(F.desc("s_up"), F.asc("bucket_ms"))
    w_down = wt.orderBy(F.desc("s_down"), F.asc("bucket_ms"))
    # ranked is consumed by BOTH peak branches (up filter, down filter)
    # and the final join broadcasts one side, where exchange reuse never
    # kicks in -- without the cut the corpus scan, bucket aggregate, and
    # whole window chain evaluate once per branch (the multi-consumer
    # rule). The frame is bounded by time-span buckets x types, never by
    # data volume, so the materialization is small at any SF.
    ranked = s.select(
        "event_type",
        "bucket_ms",
        "n_buckets",
        "s_up",
        "s_down",
        F.row_number().over(w_up).alias("ru"),
        F.row_number().over(w_down).alias("rd"),
    ).localCheckpoint()
    up = ranked.where(F.col("ru") == 1).select(
        "event_type",
        "n_buckets",
        F.col("bucket_ms").alias("peak_up_bucket_ms"),
        F.col("s_up").alias("peak_up_scaled"),
    )
    down = ranked.where(F.col("rd") == 1).select(
        "event_type",
        F.col("bucket_ms").alias("peak_down_bucket_ms"),
        F.col("s_down").alias("peak_down_scaled"),
    )
    return up.join(down, "event_type")


def cusum_level_shift_sql() -> str:
    """DuckDB twin of :func:`cusum_level_shift` (same exact-integer
    windows; sum() outputs cast back to BIGINT per the HUGEINT rule)."""
    return f"""
WITH buck AS (
  SELECT event_type,
         epoch_ms(ts) - epoch_ms(ts) % {HOUR_MS} AS bucket_ms,
         CAST(sum(CAST(floor(value * 1e2 + 5e-1) AS BIGINT)) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
scaled AS (
  SELECT event_type, bucket_ms,
         CAST(count(*) OVER wt AS BIGINT) * x
           - CAST(sum(x) OVER wt AS BIGINT) AS d,
         CAST(count(*) OVER wt AS BIGINT) AS n_buckets
  FROM buck WINDOW wt AS (PARTITION BY event_type)
),
r AS (
  SELECT *, CAST(sum(d) OVER run AS BIGINT) AS r
  FROM scaled WINDOW run AS (PARTITION BY event_type ORDER BY bucket_ms
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
s AS (
  SELECT event_type, bucket_ms, n_buckets,
         r - least(0, CAST(min(r) OVER run AS BIGINT)) AS s_up,
         greatest(0, CAST(max(r) OVER run AS BIGINT)) - r AS s_down
  FROM r WINDOW run AS (PARTITION BY event_type ORDER BY bucket_ms
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY s_up DESC, bucket_ms) AS ru,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY s_down DESC, bucket_ms) AS rd
  FROM s
)
SELECT u.event_type, u.n_buckets,
       u.bucket_ms AS peak_up_bucket_ms, u.s_up AS peak_up_scaled,
       d.bucket_ms AS peak_down_bucket_ms, d.s_down AS peak_down_scaled
FROM (SELECT * FROM ranked WHERE ru = 1) u
JOIN (SELECT * FROM ranked WHERE rd = 1) d USING (event_type)
"""


def theil_sen_trend(events: DataFrame) -> DataFrame:
    """Per-type Theil-Sen trend: the MEDIAN of all pairwise slopes of the
    daily cents series -- the robust companion to :func:`value_trend_ols`
    (one corrupted day moves OLS arbitrarily; Theil-Sen tolerates ~29%
    outliers). Output (event_type, n_days, n_pairs, slope_cents_per_day);
    types need >= 2 distinct days to appear.

    Determinism: daily sums are exact BIGINTs; each pairwise slope is ONE
    correctly-rounded double division of exact integers, so the slope
    multiset is bit-identical across engines; the median picks the
    middle VALUE(s) by position (ties between equal doubles cannot
    change the selected values), and the even-count average is one more
    correctly-rounded add/divide -- the Pearson/BM25 recipe, extended to
    an order statistic.

    Scale shape (100 TB): the pairwise join is quadratic in DISTINCT
    DAYS PER TYPE, not in rows -- bounded by the time span squared
    (a decade of days is ~3.7k, ~6.7M pairs per type), after the
    bucket aggregation reduced the data-sized input in one shuffle.
    Same confinement discipline as the blocked edit-distance dedup:
    the quadratic is span-bounded by construction."""
    from ..functions.time import epoch_ms as _epoch_ms

    daily = (
        # an all-NULL-value day would yield y = NULL -> NULL pairwise
        # slopes feeding an ASC rank window, the Spark-NULLS-FIRST vs
        # DuckDB-NULLS-LAST divergence class (KS lesson) -- exclude NULL
        # values structurally on BOTH engines (latent on this NULL-free
        # testdata; mixed days are unaffected, sum skipped them anyway)
        events.where(F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor(_epoch_ms("ts") / F.lit(DAY_MS)).cast("bigint").alias("d"),
            F.floor(F.col("value") * F.lit(1e2) + F.lit(5e-1))
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("cents").alias("y"))
        # THREE consumers (both self-join sides + ndays): cut once or the
        # corpus scan + bucket shuffle re-run per consumer (the
        # multi-consumer rule); span x types-bounded rows, not data-sized
        .localCheckpoint()
    )
    a = daily.select("event_type", F.col("d").alias("di"), F.col("y").alias("yi"))
    b = daily.select("event_type", F.col("d").alias("dj"), F.col("y").alias("yj"))
    pairs = a.join(b, "event_type").where(F.col("di") < F.col("dj")).select(
        "event_type",
        (
            (F.col("yj") - F.col("yi")).cast("double")
            / (F.col("dj") - F.col("di")).cast("double")
        ).alias("slope"),
    )
    wt = Window.partitionBy("event_type")
    w = wt.orderBy("slope")
    ranked = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wt).alias("n_pairs"),
    )
    mid = ranked.where(
        (F.col("rk") == F.expr("(n_pairs + 1) DIV 2"))
        | (F.col("rk") == F.expr("(n_pairs + 2) DIV 2"))
    )
    med = mid.groupBy("event_type", "n_pairs").agg(
        # one or two middle rows; the two-row mean is (v1+v2)/2 in double
        (F.sum("slope") / F.count(F.lit(1)).cast("double")).alias(
            "slope_cents_per_day"
        )
    )
    ndays = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    return ndays.join(med, "event_type").select(
        "event_type", "n_days", "n_pairs", "slope_cents_per_day"
    )


def theil_sen_trend_sql() -> str:
    """DuckDB twin of :func:`theil_sen_trend` (same daily BIGINT sums,
    same one-division slopes, same positional median)."""
    return f"""
WITH daily AS (
  SELECT event_type,
         epoch_ms(ts) // {DAY_MS} AS d,
         CAST(sum(CAST(floor(value * 1e2 + 5e-1) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type,
         CAST(b.y - a.y AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS slope
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d
),
ranked AS (
  SELECT event_type, slope,
         row_number() OVER (PARTITION BY event_type ORDER BY slope) AS rk,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_pairs
  FROM pairs
),
med AS (
  SELECT event_type, n_pairs,
         sum(slope) / CAST(count(*) AS DOUBLE) AS slope_cents_per_day
  FROM ranked
  WHERE rk = (n_pairs + 1) // 2 OR rk = (n_pairs + 2) // 2
  GROUP BY 1, 2
),
ndays AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY 1
)
SELECT event_type, n_days, n_pairs, slope_cents_per_day
FROM ndays JOIN med USING (event_type)
"""

DOWNSAMPLE_LTTB_N_OUT = 20


def downsample_lttb(events: DataFrame, n_out: int = DOWNSAMPLE_LTTB_N_OUT) -> DataFrame:
    """Perceptual time-series downsampling, largest-triangle-one-bucket
    (LTOB -- Steinarsson's parallel variant of LTTB): per series key,
    keep both endpoints plus, from each of ``n_out`` equal-count interior
    buckets, the point forming the largest triangle with its immediate
    raw neighbors -- the standard dashboard shape-preserving downsample
    (spikes survive; uniform strides would erase them).

    Why LTOB and not textbook LTTB: LTTB's bucket choice depends on the
    PREVIOUS bucket's chosen point -- a sequential recurrence with no
    parallel decomposition (and no bounded SQL unrolling: depth = n_out
    per key). LTOB replaces the moving anchor with each point's raw
    neighbors, making every bucket independent -- embarrassingly
    parallel, and published as the within-epsilon practical variant.

    Determinism: geometry is exact BIGINT -- x = epoch ms, y = value
    cents, area2 = |(x_p-x_n)(y_c-y_p) - (x_p-x_c)(y_n-y_p)| (twice the
    triangle area; ms-spans ~2^31 times cent-spans ~2^17 stay far inside
    BIGINT). Bucket = ((rn-2)*n_out) DIV (n-2) over the (ms, id)
    row_number; argmax per bucket by (area2 DESC, ms ASC, id ASC).
    Endpoints carry bucket -1 / n_out. Series with n <= 2 emit their
    endpoints only.

    Scale shape (100 TB): everything partitions by the series key -- two
    window passes (neighbors + rank, then per-bucket argmax) on the same
    partitioning, no global sort, no driver involvement. Output is
    (n_out + 2) x |keys| rows."""
    from ..functions.time import epoch_ms as _epoch_ms

    cents = F.floor(F.col("value") * F.lit(1e2) + F.lit(5e-1)).cast("bigint")
    base = events.select(
        F.col("event_type").alias("k"),
        _epoch_ms("ts").alias("x"),
        cents.alias("y"),
        F.col("event_id").alias("id"),
    )
    w = Window.partitionBy("k").orderBy("x", "id")
    wk = Window.partitionBy("k")
    pts = base.select(
        "k",
        "x",
        "y",
        "id",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wk).alias("n"),
        F.lag("x").over(w).alias("xp"),
        F.lag("y").over(w).alias("yp"),
        F.lead("x").over(w).alias("xn"),
        F.lead("y").over(w).alias("yn"),
    )
    ends = pts.where((F.col("rn") == 1) | (F.col("rn") == F.col("n"))).select(
        "k",
        F.when(F.col("rn") == 1, F.lit(-1)).otherwise(F.lit(n_out))
        .cast("bigint")
        .alias("bucket"),
        F.col("x").alias("ts_ms"),
        F.col("y").alias("cents"),
    )
    interior = pts.where((F.col("rn") > 1) & (F.col("rn") < F.col("n"))).select(
        "k",
        "x",
        "y",
        "id",
        F.expr(f"((rn - 2) * {n_out}) DIV greatest(n - 2, 1)")
        .cast("bigint")
        .alias("bucket"),
        F.abs(
            (F.col("xp") - F.col("xn")) * (F.col("y") - F.col("yp"))
            - (F.col("xp") - F.col("x")) * (F.col("yn") - F.col("yp"))
        ).alias("area2"),
    )
    pick = Window.partitionBy("k", "bucket").orderBy(
        F.desc("area2"), F.asc("x"), F.asc("id")
    )
    winners = (
        interior.withColumn("pr", F.row_number().over(pick))
        .where(F.col("pr") == 1)
        .select("k", "bucket", F.col("x").alias("ts_ms"), F.col("y").alias("cents"))
    )
    return (
        ends.unionByName(winners)
        .select(F.col("k").alias("event_type"), "bucket", "ts_ms", "cents")
    )


def downsample_lttb_sql() -> str:
    """DuckDB twin of :func:`downsample_lttb`: same (ms, id) order, same
    integer geometry, same argmax tie-break (`//` = integer division)."""
    return f"""
WITH base AS (
  SELECT event_type AS k, epoch_ms(ts) AS x,
         CAST(floor(value * 1e2 + 5e-1) AS BIGINT) AS y,
         event_id AS id
  FROM events
),
pts AS (
  SELECT k, x, y, id,
         row_number() OVER w AS rn,
         count(*) OVER (PARTITION BY k) AS n,
         lag(x) OVER w AS xp, lag(y) OVER w AS yp,
         lead(x) OVER w AS xn, lead(y) OVER w AS yn
  FROM base WINDOW w AS (PARTITION BY k ORDER BY x, id)
),
ends AS (
  SELECT k, CAST(CASE WHEN rn = 1 THEN -1 ELSE {DOWNSAMPLE_LTTB_N_OUT} END AS BIGINT) AS bucket,
         x AS ts_ms, y AS cents
  FROM pts WHERE rn = 1 OR rn = n
),
interior AS (
  SELECT k, x, y, id,
         CAST(((rn - 2) * {DOWNSAMPLE_LTTB_N_OUT}) // greatest(n - 2, 1) AS BIGINT) AS bucket,
         abs((xp - xn) * (y - yp) - (xp - x) * (yn - yp)) AS area2
  FROM pts WHERE rn > 1 AND rn < n
),
winners AS (
  SELECT k, bucket, x AS ts_ms, y AS cents
  FROM (
    SELECT k, bucket, x, y,
           row_number() OVER (PARTITION BY k, bucket
                              ORDER BY area2 DESC, x, id) AS pr
    FROM interior
  ) WHERE pr = 1
)
SELECT k AS event_type, bucket, ts_ms, cents FROM ends
UNION ALL
SELECT k AS event_type, bucket, ts_ms, cents FROM winners
"""


# ---------------------------------------------------------------------------
# Benford first-digit audit (data-quality screen over monetary values)
# ---------------------------------------------------------------------------

# P(first digit = d) = log10(1 + 1/d), rounded to exact ppm. The nine
# constants sum to exactly 1,000,000, so delta_ppm columns are closed
# under the same budget as obs_ppm. Public math constants (Benford 1938;
# Nigrini's forensic-accounting screen).
BENFORD_PPM = {
    1: 301030,
    2: 176091,
    3: 124939,
    4: 96910,
    5: 79181,
    6: 66947,
    7: 57992,
    8: 51153,
    9: 45757,
}
assert sum(BENFORD_PPM.values()) == 1_000_000


def benford_value_audit(events: DataFrame) -> DataFrame:
    """Benford's-law first-digit audit of the cents series per type --
    the forensic data-quality screen (Nigrini): fabricated, clipped, or
    unit-mangled monetary columns drift from the log10(1+1/d) first-
    digit law, and the per-digit delta localizes HOW (a spike at 5/9 is
    price-pointing, a flat profile is a uniform synthetic). Output one
    row per (type, digit) present: (event_type, digit, n, obs_ppm,
    benford_ppm, delta_ppm), all BIGINT. This corpus is synthetic-
    uniform, so large deltas are EXPECTED -- the audit measures
    deviation, it does not assert conformance (digits absent from a
    type are absent rows on both engines -- the grouped-union rule).

    Gated since round 13 (catalog name benford_value_audit).

    Determinism: cents = floor(value*100 + 0.5) exact BIGINT; the first
    significant digit is substr(CAST(cents AS STRING), 1, 1) -- both
    engines render positive BIGINTs as plain decimal, no float log10
    anywhere; ppm shares are (1e6 * n) DIV total over nonnegative
    BIGINTs (truncating DIV == flooring //). Zero/negative cents are
    excluded (Benford is defined on positive magnitudes).

    BIGINT bound: obs_ppm's numerator (1000000 * n) overflows BIGINT
    when a single (type, digit) count exceeds ~9.2e12 rows. The twin's
    n is CAST(count(*) AS BIGINT), so the multiply is INT64-typed on
    BOTH engines and BOTH raise loudly past the bound (verified
    empirically in DuckDB -- 'Out of Range Error: Overflow in
    multiplication of INT64'; NOT a silent HUGEINT widen, contrary to
    ADVICE r11's premise) -- never a silent wrap, exactly the
    session_cooccurrence_lift precedent. ~9.2e12 rows of one first
    digit for one type is far beyond this engine's target scale; if
    ever approached, pre-aggregate to per-(type, digit) shares before
    the ppm multiply.

    Scale shape (100 TB): ONE map-side-combined hash aggregate to the
    |types| x 9 relation; the per-type total is a window sum OVER that
    bounded relation -- the window's event_type partitioning is COARSER
    than the aggregate's (event_type, digit) hash, so it costs one more
    Exchange (the finer-partitionBy rule), but over a |types| x 9 frame,
    never the corpus; no second corpus pass, no join-back."""
    cents = F.floor(F.col("value") * F.lit(1e2) + F.lit(5e-1)).cast("bigint")
    d = events.select(
        "event_type", cents.alias("cents")
    ).where(F.col("cents") > 0).select(
        "event_type",
        F.substring(F.col("cents").cast("string"), 1, 1).cast("bigint").alias("digit"),
    )
    counts = d.groupBy("event_type", "digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    benford = F.create_map(
        *[F.lit(x) for kv in BENFORD_PPM.items() for x in kv]
    )
    return counts.select(
        "event_type",
        "digit",
        "n",
        F.expr("(1000000 * n) DIV sum(n) OVER (PARTITION BY event_type)")
        .cast("bigint")
        .alias("obs_ppm"),
        benford[F.col("digit")].cast("bigint").alias("benford_ppm"),
        (
            F.expr("(1000000 * n) DIV sum(n) OVER (PARTITION BY event_type)")
            - benford[F.col("digit")]
        )
        .cast("bigint")
        .alias("delta_ppm"),
    )


def benford_value_audit_sql() -> str:
    """DuckDB twin of :func:`benford_value_audit` (same cents fixed
    point, same string first digit, same ppm DIV arithmetic; BIGINT
    casts on count/sum outputs -- the HUGEINT dtype-skew rule)."""
    benford_case = " ".join(
        f"WHEN {dd} THEN {p}" for dd, p in BENFORD_PPM.items()
    )
    return f"""
WITH c AS (
  SELECT event_type,
         CAST(floor(value * 1e2 + 5e-1) AS BIGINT) AS cents
  FROM events
),
d AS (
  SELECT event_type,
         CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM c WHERE cents > 0
),
counts AS (
  SELECT event_type, digit, CAST(count(*) AS BIGINT) AS n
  FROM d GROUP BY 1, 2
)
SELECT event_type, digit, n,
       CAST((1000000 * n) // sum(n) OVER (PARTITION BY event_type) AS BIGINT)
         AS obs_ppm,
       CAST(CASE digit {benford_case} END AS BIGINT) AS benford_ppm,
       CAST((1000000 * n) // sum(n) OVER (PARTITION BY event_type)
            - CASE digit {benford_case} END AS BIGINT) AS delta_ppm
FROM counts
"""


def chi_squared_independence(events: DataFrame) -> DataFrame:
    """Chi-squared independence screen (Pearson 1900) between event
    type and UTC hour-of-day -- the feature/drift screen ("does
    behavior depend on time-of-day?") every segmentation pipeline runs
    before trusting a feature. Chi-squared over the G-test / mutual information
    DELIBERATELY: those need ln() (libm, not correctly rounded
    cross-engine -- the BM25 lesson); the chi-squared statistic is a
    pure rational of exact BIGINT sufficient statistics, finished with
    correctly-rounded double mul/div over identical operand trees.

    Output one row per (type, hour) cell of the FULL bounded grid
    (distinct types x distinct hours present -- a zero-observed cell
    still contributes its expectation, absent-cell chi2 = E): (
    event_type, hour, n, row_total, col_total, expected_milli,
    chi2_contrib). The total statistic is the driver-side sum of the
    bounded contributions; cells ship unrounded doubles ONLY as
    deterministic functions of exact integers (the assortativity_r
    rule).

    Gated since round 13 (catalog name chi_squared_independence).

    Determinism: hour-of-day is pure epoch arithmetic ((epoch_ms % day)
    DIV hour), never hour() -- session-TZ independent; PRECONDITION
    epoch_ms >= 0 (post-1970 timestamps): for negative ms Spark's
    truncating `%`/`div` and DuckDB's flooring `%`/`//` diverge (the
    per-engine integer-division rule -- nonnegative operands are one of
    the two safe forms; testdata is post-epoch so the hazard is
    latent); d = N*n - R*C is
    exact BIGINT; chi2_contrib = (d_d * d_d) / (N_d * R_d * C_d) with
    both engines evaluating the same left-associated tree;
    expected_milli = (1000 * R * C) DIV N exact. R, C, N >= 1 for every
    grid cell (each axis value was observed), so no ANSI zero guards.

    BIGINT bounds (the benford/cooccurrence precedent): N*n and R*C stay
    inside BIGINT while N < ~3.0e9 events; 1000*R*C while R*C < ~9.2e15
    (worst case N < ~9.6e7 if one type and one hour dominate, ~1.2e9 at
    uniform margins). ANSI raises loudly past them on both engines;
    the 100 TB mitigation is stratifying the screen per shard/day (the
    stratified-lift route), which also bounds the grid.

    Scale shape (100 TB): ONE map-side-combined hash aggregate to the
    |types| x 24 cell relation; the grid, margins, and total are window
    sums/joins over that bounded frame (three window partitionings --
    the finer-partitionBy rule costs Exchanges only over <= |types|*24
    rows, never the corpus); no second corpus pass, no join-back."""
    from pyspark.sql import Window

    from ..functions.time import epoch_ms as _epoch_ms

    ms = _epoch_ms("ts")
    base = events.select(
        "event_type",
        (ms % F.lit(DAY_MS)).alias("_msday"),
    ).selectExpr("event_type", f"_msday div {HOUR_MS} AS hour")
    obs = base.groupBy("event_type", "hour").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # bounded: |types| x |hours present| <= |types| x 24; consumed by the
    # grid axes AND the cell join -- localCheckpoint once (the
    # multi-consumer rule; the axes/join would otherwise re-run the
    # corpus aggregate three times)
    obs = obs.localCheckpoint()
    types = obs.select("event_type").distinct()
    hours = obs.select("hour").distinct()
    grid = (
        types.crossJoin(hours)
        .join(obs, ["event_type", "hour"], "left")
        .select(
            "event_type",
            F.col("hour").cast("bigint").alias("hour"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
        )
    )
    w_row = Window.partitionBy("event_type")
    w_col = Window.partitionBy("hour")
    w_all = Window.partitionBy()
    cells = grid.select(
        "event_type",
        "hour",
        "n",
        F.sum("n").over(w_row).cast("bigint").alias("row_total"),
        F.sum("n").over(w_col).cast("bigint").alias("col_total"),
        F.sum("n").over(w_all).cast("bigint").alias("n_total"),
    )
    d = (
        F.col("n_total") * F.col("n")
        - F.col("row_total") * F.col("col_total")
    ).cast("bigint")
    dd = d.cast("double")
    return cells.select(
        "event_type",
        "hour",
        "n",
        "row_total",
        "col_total",
        F.expr("(1000 * row_total * col_total) DIV n_total")
        .cast("bigint")
        .alias("expected_milli"),
        (
            (dd * dd)
            / (
                F.col("n_total").cast("double")
                * F.col("row_total").cast("double")
                * F.col("col_total").cast("double")
            )
        ).alias("chi2_contrib"),
    )


def chi_squared_independence_sql() -> str:
    """DuckDB twin of :func:`chi_squared_independence` (same epoch-ms hour
    bucket, same full-grid construction, same BIGINT margins and the
    IDENTICAL left-associated double tree for the contribution; BIGINT
    casts on sum() outputs -- the HUGEINT dtype-skew rule)."""
    return f"""
WITH base AS (
  SELECT event_type,
         (epoch_ms(ts) % {DAY_MS}) // {HOUR_MS} AS hour
  FROM events
),
obs AS (
  SELECT event_type, hour, CAST(count(*) AS BIGINT) AS n
  FROM base GROUP BY 1, 2
),
grid AS (
  SELECT t.event_type, CAST(h.hour AS BIGINT) AS hour,
         CAST(coalesce(o.n, 0) AS BIGINT) AS n
  FROM (SELECT DISTINCT event_type FROM obs) t
  CROSS JOIN (SELECT DISTINCT hour FROM obs) h
  LEFT JOIN obs o ON o.event_type = t.event_type AND o.hour = h.hour
),
cells AS (
  SELECT event_type, hour, n,
         CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS row_total,
         CAST(sum(n) OVER (PARTITION BY hour) AS BIGINT) AS col_total,
         CAST(sum(n) OVER () AS BIGINT) AS n_total
  FROM grid
)
SELECT event_type, hour, n, row_total, col_total,
       CAST((1000 * row_total * col_total) // n_total AS BIGINT)
         AS expected_milli,
       (CAST(n_total * n - row_total * col_total AS DOUBLE)
        * CAST(n_total * n - row_total * col_total AS DOUBLE))
       / (CAST(n_total AS DOUBLE) * CAST(row_total AS DOUBLE)
          * CAST(col_total AS DOUBLE)) AS chi2_contrib
FROM cells
"""


# ---------------------------------------------------------------------------
# Kolmogorov-Smirnov two-sample drift screen (exact rational ECDF gap)
# ---------------------------------------------------------------------------


def ks_two_sample_drift(events: DataFrame) -> DataFrame:
    """Kolmogorov-Smirnov two-sample screen (Kolmogorov 1933, Smirnov
    1939) of the cents series, first time-half vs second time-half per
    type -- the DISTRIBUTIONAL drift screen completing the family next
    to chi_squared_independence (categorical axis) and benford
    (digit-law axis): "did the value distribution move between the
    first and second half of the window?". The KS statistic
    sup|F1 - F2| is a PURE RATIONAL of integer counts -- no floats
    exist anywhere in this operator, making it the rare test statistic
    that is exactly hash-comparable cross-engine.

    Output one row per type present in BOTH halves: (event_type,
    n_first, n_second, ks_num, ks_ppm, ks_at_cents) where
    ks_num = max over sample points v of |n2*F1cum(v) - n1*F2cum(v)|
    (the KS statistic scaled by n1*n2, an exact BIGINT),
    ks_ppm = (1e6 * ks_num) DIV (n1 * n2), and ks_at_cents is the
    SMALLEST cents value attaining the max (a deterministic tie-break).
    The sup over the reals is attained at a sample point of either
    half, so maxing over the union of observed values is exact.

    Determinism: cents = floor(value*100 + 0.5) exact BIGINT (repo
    fixed-point rule); the time midpoint is (min_ms + max_ms) DIV 2
    over one 1-row broadcast -- PRECONDITION epoch_ms >= 0 (post-1970,
    the chi_squared/centroid-drift per-engine integer-division rule);
    every statistic is an exact BIGINT; the ppm division has
    nonnegative operands so truncating DIV == flooring //.

    BIGINT bounds: D = |n2*F1 - n1*F2| <= n1*n2 and the ppm numerator
    1e6*ks_num need n1*n2 < ~9.2e12 (~3e6 rows per half per type at
    balance); ANSI raises loudly past it on both engines. The 100 TB
    mitigation is stratifying the screen per shard/day (the
    chi-squared/cooccurrence precedent), which also bounds each grid.

    Scale shape (100 TB): one pruned 1-row min/max scan (the
    vocab_drift_halves midpoint idiom), then ONE map-side-combined
    conditional hash aggregate to the (type, distinct-cents) cell
    relation -- bounded by value quantization, never corpus-sized (at
    extreme value ranges, pre-bin cents the way value_histogram does);
    half totals, cumulative ECDFs, the max, and the argmax join-back
    are all windows/joins over that bounded frame, localCheckpoint'd
    once for its three consumers (multi-consumer rule)."""
    from pyspark.sql import Window

    from ..functions.time import epoch_ms as _epoch_ms

    ms = _epoch_ms("ts")
    # NULL values are excluded on BOTH engines BEFORE anything else:
    # the cumulative-ECDF window orders by cents, and Spark ASC sorts
    # NULLS FIRST while DuckDB ASC sorts NULLS LAST -- an unfiltered
    # NULL cell would shift every prefix sum differently per engine
    # (the benford IsNotNull precedent; latent on this NULL-free
    # testdata, structural here)
    events = events.where(F.col("value").isNotNull())
    # 1-row midpoint broadcast (pruned ts-only scan)
    mid = events.select(ms.alias("_ms")).agg(
        F.expr("(min(_ms) + max(_ms)) DIV 2").alias("mid")
    )
    cents = F.floor(F.col("value") * F.lit(1e2) + F.lit(5e-1)).cast("bigint")
    base = events.select(
        "event_type",
        cents.alias("cents"),
        ms.alias("_ms"),
    )
    cells = (
        base.crossJoin(F.broadcast(mid))
        .groupBy("event_type", "cents")
        .agg(
            F.sum(F.when(F.col("_ms") <= F.col("mid"), 1).otherwise(0))
            .cast("bigint")
            .alias("c1"),
            F.sum(F.when(F.col("_ms") > F.col("mid"), 1).otherwise(0))
            .cast("bigint")
            .alias("c2"),
        )
    )
    w_type = Window.partitionBy("event_type")
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = cells.select(
        "event_type",
        "cents",
        F.sum("c1").over(w_type).cast("bigint").alias("n1"),
        F.sum("c2").over(w_type).cast("bigint").alias("n2"),
        F.sum("c1").over(w_cum).cast("bigint").alias("f1"),
        F.sum("c2").over(w_cum).cast("bigint").alias("f2"),
    ).where((F.col("n1") > 0) & (F.col("n2") > 0))
    scored = scored.select(
        "event_type",
        "cents",
        "n1",
        "n2",
        F.abs(F.col("n2") * F.col("f1") - F.col("n1") * F.col("f2"))
        .cast("bigint")
        .alias("d"),
    )
    # bounded (types x distinct cents) and consumed by the max aggregate
    # AND the argmax join-back -- localCheckpoint once (multi-consumer
    # rule; the conditional corpus aggregate + window chain would re-run
    # per consumer)
    scored = scored.localCheckpoint()
    # renamed join keys: peak derives FROM the checkpointed scored, so a
    # qualified self-join condition would hit the ambiguous-attribute
    # trap (Spark warns 'trivially true equals predicate')
    peak = scored.groupBy("event_type").agg(
        F.max("n1").cast("bigint").alias("n_first"),
        F.max("n2").cast("bigint").alias("n_second"),
        F.max("d").cast("bigint").alias("ks_num"),
    ).select(
        F.col("event_type").alias("_pet"), "n_first", "n_second", "ks_num"
    )
    return (
        peak.join(
            scored,
            (F.col("_pet") == F.col("event_type"))
            & (F.col("ks_num") == F.col("d")),
        )
        .groupBy("event_type")
        .agg(
            F.max("n_first").cast("bigint").alias("n_first"),
            F.max("n_second").cast("bigint").alias("n_second"),
            F.max("ks_num").cast("bigint").alias("ks_num"),
            F.expr(
                "CAST((1000000 * max(ks_num)) DIV (max(n_first) * max(n_second))"
                " AS BIGINT)"
            ).alias("ks_ppm"),
            F.min("cents").cast("bigint").alias("ks_at_cents"),
        )
    )


def ks_two_sample_drift_sql() -> str:
    """DuckDB twin of :func:`ks_two_sample_drift` (same midpoint, same
    conditional cell counts, same cumulative ECDFs and scaled-gap max;
    BIGINT casts on sum() outputs -- the HUGEINT dtype-skew rule)."""
    return """
WITH src AS (
  SELECT * FROM events WHERE value IS NOT NULL
),
mid AS (
  SELECT (min(epoch_ms(ts)) + max(epoch_ms(ts))) // 2 AS mid
  FROM src
),
base AS (
  SELECT event_type,
         CAST(floor(value * 1e2 + 5e-1) AS BIGINT) AS cents,
         epoch_ms(ts) AS ms
  FROM src
),
cells AS (
  SELECT event_type, cents,
         CAST(sum(CASE WHEN ms <= mid THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN ms > mid THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM base, mid GROUP BY 1, 2
),
scored AS (
  SELECT event_type, cents, n1, n2,
         CAST(abs(n2 * f1 - n1 * f2) AS BIGINT) AS d
  FROM (
    SELECT event_type, cents,
           CAST(sum(c1) OVER (PARTITION BY event_type) AS BIGINT) AS n1,
           CAST(sum(c2) OVER (PARTITION BY event_type) AS BIGINT) AS n2,
           CAST(sum(c1) OVER (PARTITION BY event_type ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f1,
           CAST(sum(c2) OVER (PARTITION BY event_type ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f2
    FROM cells
  ) WHERE n1 > 0 AND n2 > 0
),
peak AS (
  SELECT event_type, CAST(max(n1) AS BIGINT) AS n_first,
         CAST(max(n2) AS BIGINT) AS n_second,
         CAST(max(d) AS BIGINT) AS ks_num
  FROM scored GROUP BY 1
)
SELECT p.event_type,
       CAST(max(p.n_first) AS BIGINT) AS n_first,
       CAST(max(p.n_second) AS BIGINT) AS n_second,
       CAST(max(p.ks_num) AS BIGINT) AS ks_num,
       CAST((1000000 * max(p.ks_num)) // (max(p.n_first) * max(p.n_second))
            AS BIGINT) AS ks_ppm,
       CAST(min(s.cents) AS BIGINT) AS ks_at_cents
FROM peak p JOIN scored s ON s.event_type = p.event_type AND s.d = p.ks_num
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Autocorrelation function screen (exact sufficient statistics per lag)
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 6  # lags 1..6 hours: short-horizon memory screen


def value_acf_lags(events: DataFrame) -> DataFrame:
    """Autocorrelation function screen: per event type, the Pearson
    correlation between the hourly cents-volume series and itself at
    lags 1..``max_lag`` hours -- the memory/seasonality diagnostic
    (Box & Jenkins) a forecasting pipeline runs before choosing model
    order, completing the timeseries screen family next to
    value_hour_correlation (hour-of-day seasonality), value_trend_ols /
    theil_sen (trend) and cusum (level shifts). Built-in ``corr()``
    stays banned (order-dependent running-moment floats); each lag's
    five sufficient statistics are EXACT BIGINT sums over the paired
    series and r is the closed form in correctly-rounded double over
    identical expression trees (the value_hour_correlation recipe).

    Output (event_type, lag, n_pairs, sum_x, sum_y, pearson_r); r is
    NULL when either side of a lag's pair set is constant (prod <= 0 --
    same NULL contract as value_hour_correlation). Pairs exist only
    where BOTH buckets are present (missing hours pair with nothing;
    the gapfill operator is the regularization path if a filled series
    is wanted).

    Determinism: hourly buckets are pure epoch-ms arithmetic
    (session-TZ independent); the series value is the exact per-bucket
    BIGINT cents sum re-origined per type by its window minimum (the
    value_trend_ols re-origin move -- Pearson is shift-invariant, and
    shifting keeps sxx bounded by the per-type RANGE of hourly volumes,
    not their absolute magnitude); sqrt/div/mul/sub are correctly
    rounded IEEE over identical trees. BIGINT bound: n_pairs *
    range_cents^2 < 2^63 -- at a $1M hourly-volume range that is ~920k
    buckets (a century of hours); ANSI raises loudly past it, and the
    mitigation is rescaling the fixed point (whole units buy 10^4x).

    Scale shape (100 TB): ONE map-side-combined hash aggregate to the
    (type, hour-bucket) frame -- span-bounded, never corpus-sized --
    localCheckpoint'd once (it feeds the explode side AND the join
    side; the multi-consumer rule). Lag pairing is a map-side explode
    of lags 1..max_lag joined back on (type, bucket) -- an EQUI-join
    with fanout max_lag, never a per-type range cross join; the final
    per-(type, lag) aggregate is bounded by |types| * max_lag."""
    from pyspark.sql import Window

    from ..functions.time import epoch_ms as _epoch_ms

    if ACF_MAX_LAG < 1:
        # F.sequence(1, 0) would auto-step DOWN ([1, 0]: lag-0 self
        # pairs + a spurious lag) while the twin's unnest list is
        # empty -- fail loudly instead of diverging
        raise ValueError(f"max_lag must be >= 1, got {ACF_MAX_LAG}")
    ms = _epoch_ms("ts")
    cents = F.floor(F.col("value") * F.lit(1e2) + F.lit(5e-1)).cast("bigint")
    b = (
        # all-NULL-value buckets excluded structurally (the theil_sen /
        # KS NULL rule: v = NULL would pair with a count but no sums,
        # desyncing the five sufficient statistics; mixed unaffected)
        events.where(F.col("value").isNotNull())
        .select(
            "event_type",
            (ms - ms % F.lit(HOUR_MS)).alias("bucket_ms"),
            cents.alias("c"),
        )
        .groupBy("event_type", "bucket_ms")
        .agg(F.sum("c").cast("bigint").alias("v"))
    )
    b = b.select(
        "event_type",
        "bucket_ms",
        (F.col("v") - F.min("v").over(Window.partitionBy("event_type")))
        .cast("bigint")
        .alias("v"),
    )
    # span-bounded (types x hours) and consumed by BOTH self-join sides
    # -- localCheckpoint once (multi-consumer rule)
    b = b.localCheckpoint()
    a = b.select(
        F.col("event_type").alias("_aet"),
        F.col("v").alias("x"),
        F.explode(F.sequence(F.lit(1), F.lit(ACF_MAX_LAG))).alias("lag"),
        F.col("bucket_ms").alias("_ab"),
    ).select(
        "_aet",
        "x",
        F.col("lag").cast("bigint").alias("lag"),
        (F.col("_ab") + F.col("lag") * F.lit(HOUR_MS)).alias("_target"),
    )
    pairs = a.join(
        b,
        (F.col("_aet") == F.col("event_type"))
        & (F.col("_target") == F.col("bucket_ms")),
    ).select("event_type", "lag", "x", F.col("v").alias("y"))
    agg = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy, sxx, syy, sxy = (
        F.col(c).cast("double") for c in ("n", "sx", "sy", "sxx", "syy", "sxy")
    )
    prod = (n * sxx - sx * sx) * (n * syy - sy * sy)
    r = F.when(prod > 0, (n * sxy - sx * sy) / F.sqrt(prod))
    return agg.select(
        "event_type",
        "lag",
        F.col("n").cast("bigint").alias("n_pairs"),
        F.col("sx").cast("bigint").alias("sum_x"),
        F.col("sy").cast("bigint").alias("sum_y"),
        r.alias("pearson_r"),
    )


def value_acf_lags_sql() -> str:
    """DuckDB twin of :func:`value_acf_lags` (same re-origined hourly
    series, same lag explode + equi-join pairing, IDENTICAL double
    expression tree for the closed form; BIGINT casts on sum() outputs
    -- the HUGEINT dtype-skew rule)."""
    if ACF_MAX_LAG < 1:
        raise ValueError(f"max_lag must be >= 1, got {ACF_MAX_LAG}")
    lags = ", ".join(str(i) for i in range(1, ACF_MAX_LAG + 1))
    return f"""
WITH raw AS (
  SELECT event_type,
         epoch_ms(ts) - epoch_ms(ts) % {HOUR_MS} AS bucket_ms,
         CAST(floor(value * 1e2 + 5e-1) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
),
bsum AS (
  SELECT event_type, bucket_ms, CAST(sum(c) AS BIGINT) AS v
  FROM raw GROUP BY 1, 2
),
b AS (
  SELECT event_type, bucket_ms,
         CAST(v - min(v) OVER (PARTITION BY event_type) AS BIGINT) AS v
  FROM bsum
),
a AS (
  SELECT event_type, v AS x, CAST(lag AS BIGINT) AS lag,
         bucket_ms + lag * {HOUR_MS} AS target
  FROM (SELECT event_type, v, bucket_ms, unnest([{lags}]) AS lag FROM b)
),
pairs AS (
  SELECT a.event_type, a.lag, a.x, b.v AS y
  FROM a JOIN b ON b.event_type = a.event_type AND b.bucket_ms = a.target
),
agg AS (
  SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM pairs GROUP BY 1, 2
),
d AS (
  SELECT event_type, lag, n, sx, sy,
         (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS prod,
         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num
  FROM agg
)
SELECT event_type, lag, n AS n_pairs, sx AS sum_x, sy AS sum_y,
       CASE WHEN prod > 0e0 THEN num / sqrt(prod) END AS pearson_r
FROM d
"""


def mann_kendall_trend(events: DataFrame) -> DataFrame:
    """Mann-Kendall monotone-trend test per event type over the daily
    cents series -- the nonparametric significance test completing the
    trend family: value_trend_ols gives the least-squares slope,
    theil_sen_trend the robust slope, cusum_level_shift the change
    point, and Mann-Kendall answers "is there a trend AT ALL" without
    assuming linearity or a noise distribution (Mann 1945, Kendall
    1975 -- the standard hydrology/climatology screen).

    Output (event_type, n_days, s_stat, var_s_x18, z_mk):
    ``s_stat`` = sum over ordered day pairs of sign(y_j - y_i) -- an
    EXACT BIGINT (positive = rising); ``var_s_x18`` = 18 * Var(S) with
    the tie correction, also exact BIGINT:
    n(n-1)(2n+5) - sum_t t(t-1)(2t+5) over tie groups of equal daily
    values; ``z_mk`` is the continuity-corrected normal score
    (S - sign(S)) / sqrt(var_s_x18 / 18) -- NULL when var_s_x18 = 0
    (all daily values tied). Types need >= 2 distinct days to appear
    (no pairs otherwise -- the theil_sen_trend contract).

    Determinism: daily sums are exact BIGINT cents (the theil_sen
    bucket frame); S and the variance are pure integer arithmetic, and
    z is div/sqrt of exact integers over IDENTICAL expression trees on
    both engines -- correctly-rounded IEEE, bit-identical (the
    Pearson/BM25 recipe). Buckets are epoch-ms floor-division
    (session-TZ independent; epoch_ms >= 0 precondition per the
    per-engine integer-division rule -- testdata is post-epoch).
    BIGINT bound: n(n-1)(2n+5) ~ 2n^3 < 2^63 needs n < ~1.66e6 daily
    buckets per type (a century is 36.5k) -- ANSI raises loudly past
    it; the stratified per-shard screen is the 100 TB mitigation.

    Scale shape (100 TB): ONE map-side-combined hash aggregate reduces
    the corpus to the span-bounded (type, day) frame,
    localCheckpoint'd once for its FOUR consumers (both pair-join
    sides, the tie histogram, the day count -- the multi-consumer
    rule). The pairwise join is quadratic in distinct DAYS per type,
    never in rows -- the theil_sen confinement; ties and counts are
    grouped aggregates of the same bounded frame."""
    from ..functions.time import epoch_ms as _epoch_ms

    daily = (
        # all-NULL-value days excluded structurally (the theil_sen /
        # KS NULL rule: y = NULL would be counted in n_days and tie to
        # every pair with sign 0, deflating z; mixed days unaffected)
        events.where(F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor(_epoch_ms("ts") / F.lit(DAY_MS)).cast("bigint").alias("d"),
            F.floor(F.col("value") * F.lit(1e2) + F.lit(5e-1))
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("cents").alias("y"))
        # FOUR consumers (both pair-join sides + ties + n_days): cut the
        # corpus scan once (multi-consumer rule); span x types-bounded
        .localCheckpoint()
    )
    a = daily.select("event_type", F.col("d").alias("di"), F.col("y").alias("yi"))
    b = daily.select("event_type", F.col("d").alias("dj"), F.col("y").alias("yj"))
    s = (
        a.join(b, "event_type")
        .where(F.col("di") < F.col("dj"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("yj") > F.col("yi"), F.lit(1))
                .when(F.col("yj") < F.col("yi"), F.lit(-1))
                .otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    ties = (
        daily.groupBy("event_type", "y")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - F.lit(1)) * (F.lit(2) * F.col("t") + F.lit(5))
            )
            .cast("bigint")
            .alias("tie_sum")
        )
    )
    nd = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    j = (
        nd.join(s, "event_type")
        .join(ties, "event_type")
        .select(
            "event_type",
            "n_days",
            "s_stat",
            (
                F.col("n_days")
                * (F.col("n_days") - F.lit(1))
                * (F.lit(2) * F.col("n_days") + F.lit(5))
                - F.col("tie_sum")
            )
            .cast("bigint")
            .alias("var_s_x18"),
        )
    )
    num = (
        F.col("s_stat")
        - F.when(F.col("s_stat") > 0, F.lit(1))
        .when(F.col("s_stat") < 0, F.lit(-1))
        .otherwise(F.lit(0))
    ).cast("double")
    z = F.when(
        F.col("var_s_x18") > 0,
        num / F.sqrt(F.col("var_s_x18").cast("double") / F.lit(18.0)),
    )
    return j.select("event_type", "n_days", "s_stat", "var_s_x18", z.alias("z_mk"))


def mann_kendall_trend_sql() -> str:
    """DuckDB twin of :func:`mann_kendall_trend` (same daily BIGINT
    sums, same integer S / tie-corrected 18*Var(S), IDENTICAL double
    tree for z; BIGINT casts on sum() outputs -- the HUGEINT
    dtype-skew rule)."""
    return f"""
WITH daily AS (
  SELECT event_type,
         epoch_ms(ts) // {DAY_MS} AS d,
         CAST(sum(CAST(floor(value * 1e2 + 5e-1) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
s AS (
  SELECT a.event_type,
         CAST(sum(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END)
              AS BIGINT) AS s_stat
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d
  GROUP BY 1
),
ties AS (
  SELECT event_type,
         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_sum
  FROM (
    SELECT event_type, y, CAST(count(*) AS BIGINT) AS t
    FROM daily GROUP BY 1, 2
  ) GROUP BY 1
),
nd AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY 1
),
j AS (
  SELECT nd.event_type, nd.n_days, s.s_stat,
         CAST(nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5) - ties.tie_sum
              AS BIGINT) AS var_s_x18
  FROM nd
  JOIN s ON s.event_type = nd.event_type
  JOIN ties ON ties.event_type = nd.event_type
)
SELECT event_type, n_days, s_stat, var_s_x18,
       CASE WHEN var_s_x18 > 0 THEN
         CAST(s_stat - (CASE WHEN s_stat > 0 THEN 1
                             WHEN s_stat < 0 THEN -1 ELSE 0 END) AS DOUBLE)
         / sqrt(CAST(var_s_x18 AS DOUBLE) / 1.8e1)
       END AS z_mk
FROM j
"""
