"""Reference-exercise queries (rides, popular places, mails, TF-IDF, PageRank, travel-time prediction).

Registration module: imported by plans.catalog for its @register side
effects; the shared QuerySpec registry, query order and determinism
rules live in plans/catalog.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from ..functions.text import STOP_WORDS
from ..functions.time import WATERMARK_MS
from ..sources import load_table
from . import graphs as graphs_plan
from . import mails as mails_plan
from . import rides as rides_plan
from .catalog import register
from ..operators import (
    graph,
    relational,
    stateful,
    windows,
)


# ---------------------------------------------------------------------------
# RideCleansing (SURVEY §2 P1/F1 -- RideCleansing.java:68-76)
# ---------------------------------------------------------------------------

_RIDES = rides_plan.rides_cte()

_NYC_PRED = (
    "NOT (start_lon > -73.7e0 OR start_lon < -74.05e0) "
    "AND NOT (start_lat > 41.0e0 OR start_lat < 40.5e0) "
    "AND NOT (end_lon > -73.7e0 OR end_lon < -74.05e0) "
    "AND NOT (end_lat > 41.0e0 OR end_lat < 40.5e0)"
)

@register(
    "ride_cleansing",
    oracle=f"""
WITH rides AS ({_RIDES})
SELECT ride_id, is_start, epoch_ms(ts) AS ts_ms,
       start_lon, start_lat, end_lon, end_lat, passenger_cnt
FROM rides
WHERE {_NYC_PRED}
""",
    doc="P1/F1: keep rides that start AND end inside the NYC bbox "
    "(RideCleansing.java:68-76, GeoUtils.java:58-62).",
    bench=True,
)
def q_ride_cleansing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import geo

    from ..functions.time import epoch_ms

    r = rides_plan.rides_view(spark, sf_dir)
    in_nyc = geo.is_in_nyc("start_lon", "start_lat") & geo.is_in_nyc("end_lon", "end_lat")
    return r.where(in_nyc).select(
        "ride_id",
        "is_start",
        epoch_ms("ts").alias("ts_ms"),
        "start_lon",
        "start_lat",
        "end_lon",
        "end_lat",
        "passenger_cnt",
    )

# ---------------------------------------------------------------------------
# PopularPlaces (SURVEY §2 W2/A8/P2/P4/P5/F2/F3/F4 -- PopularPlaces.java)
# Constants adapted to the 30-day testdata density; the operator's defaults
# stay at the reference's 15min/5min/20.
# ---------------------------------------------------------------------------

_PP_SIZE_MS = 6 * 3600 * 1000

_PP_SLIDE_MS = 3600 * 1000


_PP_THRESHOLD = 10

def _popular_places_oracle() -> str:
    k = _PP_SIZE_MS // _PP_SLIDE_MS
    return f"""
WITH rides AS ({_RIDES}),
nyc AS (
  SELECT ts, is_start,
         CAST(FLOOR((74.05e0 - abs(CASE WHEN is_start THEN start_lon ELSE end_lon END)) / 1.4e-3) AS INT)
         + CAST(FLOOR((41.0e0 - (CASE WHEN is_start THEN start_lat ELSE end_lat END)) / 1.25e-3) AS INT) * 250
           AS cell
  FROM rides
  WHERE {_NYC_PRED}
),
counted AS (
  SELECT cell, is_start,
         ((epoch_ms(ts) // {_PP_SLIDE_MS}) - t.k) * {_PP_SLIDE_MS} + {_PP_SIZE_MS} AS window_end_ms,
         count(*) AS cnt
  FROM nyc CROSS JOIN (SELECT range AS k FROM range({k})) t
  GROUP BY 1, 2, 3
)
SELECT (74.05e0 - (cell % 250) * 1.4e-3 - 7e-4) * -1.0e0 AS center_lon,
       41.0e0 - (cell // 250) * 1.25e-3 - 6.25e-4 AS center_lat,
       window_end_ms, is_start, cnt
FROM counted WHERE cnt >= {_PP_THRESHOLD}
"""

@register(
    "popular_places",
    oracle=_popular_places_oracle(),
    doc="W2/A8/P2/P4/P5: NYC filter -> grid cell -> sliding window count -> "
    "threshold -> cell centers (PopularPlaces.java:71-97).",
    bench=True,
)
def q_popular_places(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = rides_plan.rides_view(spark, sf_dir)
    return windows.popular_places(r, window="6 hours", slide="1 hour", threshold=_PP_THRESHOLD)

@register(
    "streaming_popular_places",
    oracle=f"""
WITH res AS ({_popular_places_oracle()}),
rides AS ({_RIDES}),
mx AS (SELECT max(epoch_ms(ts)) AS m FROM rides WHERE {_NYC_PRED})
SELECT res.* FROM res, mx WHERE res.window_end_ms <= mx.m - {WATERMARK_MS}
""",
    doc="W2/W3/W7 through the real streaming engine: watermarked sliding-"
    "window count in APPEND mode (fire-once per window, availableNow "
    "drain, memory sink). Oracle = the batch popular_places result cut at "
    "the final watermark (max event ts - 60 s), mirroring Spark's "
    "window.end <= watermark emission (PopularPlaces.java:71-97 event-time "
    "fire-once contract).",
    source="rides",
)
def q_streaming_popular_places(rides: DataFrame, sf_dir: str) -> DataFrame:
    from ..streaming.queries import drain_availablenow, streaming_popular_places

    places = streaming_popular_places(
        rides, window="6 hours", slide="1 hour", threshold=_PP_THRESHOLD
    )
    return drain_availablenow(places, "streaming_popular_places_gate")

# ---------------------------------------------------------------------------
# Mail-family batch exercises (SURVEY §2 A1-A6, J2/J3, P3/P6/P7) on the
# derived mails view (plans/mails.py).
# ---------------------------------------------------------------------------

_MAILS = mails_plan.mails_cte()

_EMAIL_RE = r"<([^<>]*)>\s*$"

# Mirrors functions/text.py email_address exactly: bracketless senders fall
# back to the raw string (Spark does the same CASE) -- without this, one
# bracketless sender in regenerated testdata would break the whole mail family.
_EMAIL_SQL = (
    f"(CASE WHEN regexp_extract(sender, '{_EMAIL_RE}', 1) = '' THEN sender "
    f"ELSE regexp_extract(sender, '{_EMAIL_RE}', 1) END)"
)

_BOTS_SQL = ", ".join(f"'{b}'" for b in relational.BOT_ADDRESSES)

@register(
    "mail_count",
    oracle=f"""
WITH mails AS ({_MAILS})
SELECT substr(time, 1, 7) AS month, {_EMAIL_SQL} AS email, count(*) AS cnt
FROM mails GROUP BY 1, 2
""",
    doc="A1/P6: mails per (month, email) (MailCount.java:49-107).",
    bench=True,
)
def q_mail_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.mail_count(mails_plan.mails_view(spark, sf_dir))

@register(
    "member_of_the_month",
    oracle=f"""
WITH mails AS ({_MAILS}),
counts AS (
  SELECT substr(time, 1, 7) AS month, {_EMAIL_SQL} AS sender, count(*) AS cnt
  FROM mails
  WHERE {_EMAIL_SQL} NOT IN ({_BOTS_SQL})
  GROUP BY 1, 2
)
SELECT month, sender FROM (
  SELECT month, sender, cnt, max(cnt) OVER (PARTITION BY month) AS mx FROM counts
) WHERE cnt = mx
""",
    doc="A5/A6/J3/P3: argmax sender per month, ties kept "
    "(MemberOTMonth.java:48-81).",
)
def q_member_otm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.member_of_the_month(mails_plan.mails_view(spark, sf_dir))

@register(
    "member_of_the_month_joinback",
    oracle=f"""
WITH mails AS ({_MAILS}),
counts AS (
  SELECT substr(time, 1, 7) AS month, {_EMAIL_SQL} AS sender, count(*) AS cnt
  FROM mails
  WHERE {_EMAIL_SQL} NOT IN ({_BOTS_SQL})
  GROUP BY 1, 2
),
maxes AS (SELECT month, max(cnt) AS max_cnt FROM counts GROUP BY 1)
SELECT counts.month, counts.sender
FROM counts JOIN maxes ON counts.month = maxes.month AND counts.cnt = maxes.max_cnt
""",
    doc="J3 in the reference's literal join-back shape "
    "(MemberOTMonth.java:74-78).",
)
def q_member_otm_joinback(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.member_of_the_month(mails_plan.mails_view(spark, sf_dir), strategy="join")

@register(
    "reply_graph",
    oracle=f"""
WITH mails AS ({_MAILS}),
a AS (
  SELECT message_id, {_EMAIL_SQL} AS sender, reply_to
  FROM mails
  WHERE {_EMAIL_SQL} NOT IN ({_BOTS_SQL})
)
SELECT r.sender AS from_email, o.sender AS to_email, count(*) AS cnt
FROM a r JOIN a o ON r.reply_to = o.message_id
GROUP BY 1, 2
""",
    doc="J2/A2/P3/P7: reply-chain self-join + pair counts "
    "(ReplyGraph.java:50-71).",
    bench=True,
)
def q_reply_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.reply_graph(mails_plan.mails_view(spark, sf_dir))

# ---------------------------------------------------------------------------
# TF-IDF (SURVEY §2 P9/P10/A3/A4/J1/F13) on the documents table.
# ---------------------------------------------------------------------------

_STOPWORDS_SQL = ", ".join(f"'{w}'" for w in dict.fromkeys(STOP_WORDS))

@register(
    "mail_tfidf",
    oracle=f"""
WITH words AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS word
  FROM documents
),
kept AS (
  SELECT doc_id, word FROM words
  WHERE regexp_matches(word, '^[a-z]+$') AND word NOT IN ({_STOPWORDS_SQL})
),
tf AS (SELECT doc_id, word, count(*) AS tf FROM kept GROUP BY 1, 2),
df AS (
  SELECT word, count(*) AS df
  FROM (SELECT DISTINCT doc_id, word FROM kept) GROUP BY 1
),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.word, tf.tf * (CAST(n.n_docs AS DOUBLE) / df.df) AS tfidf
FROM tf JOIN df USING (word) CROSS JOIN n
""",
    doc="P9/P10/A3/A4/J1/F13: no-log TF-IDF tf*(N/df) "
    "(MailTFIDF.java:63-96,214-233).",
    bench=True,
)
def q_mail_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.tf_idf(load_table(spark, "documents", sf_dir))

# ---------------------------------------------------------------------------
# Weighted PageRank (SURVEY §2 G1-G4) on the derived edges view.
# ---------------------------------------------------------------------------


@register(
    "pagerank_weighted",
    oracle=graphs_plan.pagerank_oracle(),
    doc="G1-G4: fixed-iteration weighted PageRank, exact integer mode "
    "(PageRankWithEdgeWeights.java:77-104; Java semantics).",
    bench=True,
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = graphs_plan.edges_view(spark, sf_dir)
    return graph.weighted_pagerank(
        edges, exact=True, checkpoint_every=3
    )

# ---------------------------------------------------------------------------
# Travel-time prediction (SURVEY §2 W5/F5/F6/F9/F12) -- batch forms.
# Both implementations share one oracle; results are bit-identical.
# ---------------------------------------------------------------------------

_TT_ORACLE = f"""
WITH rides AS ({_RIDES}),
feat AS (
  SELECT ride_id, is_start, epoch_ms(ts) AS ev_ms,
         CAST(FLOOR((74.05e0 - abs(end_lon)) / 1.4e-3) AS INT)
           + CAST(FLOOR((41.0e0 - end_lat) / 1.25e-3) AS INT) * 250 AS cell,
         CAST(FLOOR((CAST(TRUNC(DEGREES(ATAN2(end_lat - start_lat,
              (end_lon - start_lon) * COS(start_lat)))) AS INT) + 179) / 45) AS INT) AS bucket,
         CAST(FLOOR(110.25e0 * SQRT((start_lat - end_lat) * (start_lat - end_lat)
              + ((start_lon - end_lon) * COS(end_lat)) * ((start_lon - end_lon) * COS(end_lat)))
              * 1e3) AS BIGINT) AS x_m,
         epoch_ms(end_time) - epoch_ms(start_time) AS y_ms
  FROM rides
  WHERE {_NYC_PRED}
),
scored AS (
  SELECT ride_id, is_start, x_m,
         sum(CASE WHEN NOT is_start THEN x_m * x_m END) OVER w AS sxx,
         sum(CASE WHEN NOT is_start THEN x_m * y_ms END) OVER w AS sxy
  FROM feat
  WINDOW w AS (PARTITION BY cell, bucket ORDER BY ev_ms, ride_id, is_start
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT ride_id,
       CASE WHEN sxx IS NULL OR sxx = 0 THEN -1
            ELSE CAST(FLOOR((CAST(sxy AS DOUBLE) / sxx) * x_m / 6e4) AS INT)
       END AS predicted_minutes
FROM scored WHERE is_start
"""

@register(
    "travel_time_prediction",
    oracle=_TT_ORACLE,
    doc="W5: per-destination-cell no-intercept regression, window-expression "
    "form (TravelTimePrediction.java:76-164).",
    bench=True,
)
def q_travel_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stateful.travel_time_window(rides_plan.rides_view(spark, sf_dir))

@register(
    "travel_time_prediction_stateful",
    oracle=_TT_ORACLE,
    doc="W5: same semantics via travel_time_fold under applyInPandas per "
    "key group of cells (the batch twin of the streaming stateful operator).",
)
def q_travel_time_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stateful.travel_time_stateful(rides_plan.rides_view(spark, sf_dir))

@register(
    "streaming_travel_time_stateful",
    oracle=_TT_ORACLE,
    doc="W5 through the REAL streaming engine: applyInPandasWithState over "
    "destination-cell key groups (the reference's RichFlatMapFunction+"
    "ValueState per cell, TravelTimePrediction.java:120-164), append mode, "
    "availableNow drain. The fold orders each micro-batch's rides by time "
    "exactly like the batch twin, and the rides source arrives in ride-time "
    "order, so the emission set equals the batch result and the SAME oracle "
    "applies -- the stateful streaming path is driver-gated, not just pytest'd.",
    source="rides",
)
def q_streaming_travel_time(rides: DataFrame, sf_dir: str) -> DataFrame:
    from ..streaming.queries import drain_availablenow
    from ..streaming.stateful import streaming_travel_time

    return drain_availablenow(streaming_travel_time(rides), "streaming_travel_time_gate")
