"""Relational/temporal breadth (as-of, windows, range join, set ops, SCD2, rollup/pivot/percentiles) and corpus indexing (inverted index, BM25, typicality, heavy hitters).

Registration module: imported by plans.catalog for its @register side
effects; the shared QuerySpec registry, query order and determinism
rules live in plans/catalog.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..sources import load_table
from .catalog import register
from ..functions.text import words, words_sql
from ..operators import (
    asof,
    cdc,
    indexing,
    rangejoin,
    relational,
)


@register(
    "asof_purchase_attribution",
    oracle=asof.PURCHASE_CLICK_SQL,
    doc="As-of join (union + carry-forward window -- no native Spark op): "
    "each purchase attributed to the user's latest click at-or-before it; "
    "oracle uses DuckDB's native ASOF JOIN.",
)
def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    return asof.purchase_click_attribution(load_table(spark, "events", sf_dir))

@register(
    "window_analytics",
    oracle="""
WITH base AS (
  SELECT event_id, user_id, epoch_ms(ts) AS ev_ms,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT event_id,
       lag(cents) OVER w AS prev_cents,
       CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ev_ms, event_id
                             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS moving3_cents,
       CAST(rank() OVER (PARTITION BY user_id ORDER BY cents DESC, event_id) AS BIGINT)
         AS rank_in_user
FROM base
WINDOW w AS (PARTITION BY user_id ORDER BY ev_ms, event_id)
""",
    doc="SQL analytic windows (absent in the reference -- SURVEY §2.5): "
    "lag, 3-row moving frame sum, rank; integer-exact.",
)
def q_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.time import epoch_ms

    ev = load_table(spark, "events", sf_dir).select(
        "event_id",
        "user_id",
        epoch_ms("ts").alias("ev_ms"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = W.partitionBy("user_id").orderBy("ev_ms", "event_id")
    return ev.select(
        "event_id",
        F.lag("cents").over(w).alias("prev_cents"),
        F.sum("cents").over(w.rowsBetween(-2, 0)).alias("moving3_cents"),
        F.rank()
        .over(W.partitionBy("user_id").orderBy(F.desc("cents"), F.asc("event_id")))
        .cast("bigint")
        .alias("rank_in_user"),
    )

@register(
    "range_join_downtime_events",
    oracle=rangejoin.EVENTS_IN_DOWNTIME_SQL,
    doc="Range (interval) join via hour-bucket equi-join + exact filter "
    "(no native Spark op; naive form is a filtered cartesian product): "
    "events inside derived downtime windows.",
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rangejoin.events_in_downtime(load_table(spark, "events", sf_dir))

@register(
    "set_ops_clean_purchase_days",
    oracle="""
SELECT user_id, CAST(date_part('day', ts) AS INT) AS day
FROM events WHERE event_type = 'purchase'
EXCEPT
SELECT user_id, CAST(date_part('day', ts) AS INT) AS day
FROM events WHERE event_type = 'error'
""",
    doc="Set operations (EXCEPT; INTERSECT/UNION exercised in-suite): "
    "(user, day) pairs with a purchase but no error that day.",
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", F.dayofmonth("ts").alias("day"), "event_type"
    )
    p = ev.where(F.col("event_type") == "purchase").select("user_id", "day")
    e = ev.where(F.col("event_type") == "error").select("user_id", "day")
    return p.subtract(e)  # EXCEPT (distinct set semantics), matching the SQL

@register(
    "scd2_user_history",
    oracle=cdc.SCD2_HISTORY_SQL,
    doc="SCD2-style validity intervals from a change stream: each event's "
    "state is valid until the user's next event (lead window; NULL = "
    "current). The MERGE-less CDC pattern from the guide. Oracle shared "
    "verbatim with the streaming incremental-maintenance twin "
    "(streaming_scd2_maintenance).",
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.time import epoch_ms

    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        epoch_ms("ts").alias("valid_from_ms"),
        epoch_ms(F.lead("ts").over(w)).alias("valid_to_ms"),
    )

@register(
    "user_inactive_days",
    oracle="""
WITH u AS (SELECT DISTINCT user_id FROM events),
d AS (SELECT DISTINCT CAST(date_part('day', ts) AS INT) AS day FROM events),
pairs AS (SELECT user_id, day FROM u CROSS JOIN d)
SELECT p.user_id, p.day FROM pairs p
WHERE NOT EXISTS (
  SELECT 1 FROM events e
  WHERE e.user_id = p.user_id AND CAST(date_part('day', e.ts) AS INT) = p.day
)
""",
    doc="Anti-join (NOT EXISTS / left_anti): calendar days each user was "
    "inactive (semi/anti joins absent from the reference -- SURVEY §2.3).",
)
def q_inactive_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", F.dayofmonth("ts").alias("day")
    )
    users = ev.select("user_id").distinct()
    days = ev.select("day").distinct()
    pairs = users.crossJoin(F.broadcast(days))
    return pairs.join(ev.distinct(), ["user_id", "day"], "left_anti")

@register(
    "corpus_bigram_counts",
    oracle=f"""
WITH w AS (
  SELECT doc_id, {words_sql()} AS ws
  FROM documents
),
grams AS (
  SELECT doc_id, unnest([ws[i] || ' ' || ws[i + 1]
                         for i in generate_series(1, greatest(len(ws) - 1, 0))]) AS bigram
  FROM w
)
SELECT bigram, count(*) AS cnt, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
FROM grams GROUP BY 1 HAVING count(*) >= 5
""",
    doc="Corpus word-bigram counts + doc frequency (LM-data staple); "
    "HAVING >= 5 keeps the output bounded.",
)
def q_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.loaders import widen_scan

    docs = widen_scan(load_table(spark, "documents", sf_dir))
    ws = words()
    # guard: F.sequence(1, 0) DESCENDS in Spark (DuckDB's generate_series is
    # empty) -- single-word docs must yield no bigrams, not an index error
    grams = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.concat_ws(" ", F.element_at(ws, i), F.element_at(ws, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = docs.select("doc_id", F.explode(grams).alias("bigram"))
    return (
        exploded.groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .where(F.col("cnt") >= 5)
    )

@register(
    "inverted_index_postings",
    oracle=indexing.inverted_index_sql(),
    doc="Inverted index build: token -> (document frequency, first-20 "
    "posting list, comma-joined) -- the retrieval/contamination-probe "
    "index shape. Posting lists are bounded BEFORE collection by a "
    "row_number window on the same token partitioning as the df count, "
    "so skewed tokens cost max_postings rows, never their full chain.",
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return indexing.inverted_index(load_table(spark, "documents", sf_dir))

@register(
    "bm25_topk_retrieval",
    oracle=indexing.bm25_topk_sql(),
    doc="BM25 ranked retrieval -- the consumer side of the inverted-index "
    "build and the RAG staple: top-10 documents per fixed two-term query. "
    "Deterministic variant: raw odds-ratio IDF instead of ln() (libm is "
    "not correctly rounded cross-engine), every operand an exact BIGINT, "
    "the only float ops two divisions + one multiply + one fixed-order "
    "two-term add over pivoted per-term scores -- bit-identical IEEE "
    "trees; output and ranking use floor(1e6*score). Query-term filter is "
    "a literal IN pushed into the one token scan; df and query table "
    "broadcast; rank window over the aggregated candidates only.",
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return indexing.bm25_topk(load_table(spark, "documents", sf_dir))

@register(
    "collocation_pmi_topk",
    oracle=indexing.collocation_pmi_topk_sql(),
    doc="Top-25 collocations by pointwise mutual information (pair count "
    ">= 5) -- the word-embedding / tokenizer-merit staple. Deterministic "
    "variant (the BM25 recipe): the raw PMI odds ratio instead of its "
    "log, assembled scalar-by-scalar in doubles over exact BIGINT counts "
    "(no intermediate exceeds ~N, so no int64 squaring overflow at any "
    "corpus size); ranking/output by floor(1e3*ratio) with (w1, w2) "
    "integer/string tiebreaks. One pair-explode scan + one groupBy; "
    "unigram table broadcast twice; global top-k is TakeOrdered, never a "
    "single-partition sort.",
)
def q_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return indexing.collocation_pmi_topk(load_table(spark, "documents", sf_dir))

@register(
    "doc_typicality_bigrams",
    oracle=indexing.doc_typicality_sql(),
    doc="Per-document corpus-typicality in exact integers: corpus bigram "
    "mass (counts >= 5) carried by each doc's distinct bigrams, plus "
    "floor(1000*freq_sum/n_bigrams) -- the n-gram-LM outlier/quality "
    "signal without cross-engine float log hazards.",
)
def q_doc_typicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return indexing.doc_typicality(load_table(spark, "documents", sf_dir))

@register(
    "frequent_tokens_topk",
    oracle=indexing.frequent_tokens_topk_sql(),
    doc="Grouped heavy hitters: top-25 tokens per language by total "
    "occurrences (ties by token) -- vocabulary audit; one map-side-"
    "combined shuffle, then a top-k window over the vocab-bounded counts.",
)
def q_frequent_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return indexing.frequent_tokens_topk(load_table(spark, "documents", sf_dir))

@register(
    "rollup_counts",
    oracle="""
SELECT COALESCE(event_type, 'ALL') AS event_type,
       COALESCE(CAST(user_id % 10 AS STRING), 'ALL') AS cohort,
       count(*) AS cnt,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events
GROUP BY ROLLUP(event_type, user_id % 10)
""",
    doc="ROLLUP hierarchy totals (subtotal keys coalesced to 'ALL' -- no "
    "NULL-vs-NaN hash ambiguity).",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        (F.col("user_id") % 10).alias("cohort_raw"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents_v"),
    )
    return (
        ev.rollup("event_type", "cohort_raw")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("cents_v").alias("cents"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("cohort_raw").cast("string"), F.lit("ALL")).alias("cohort"),
            "cnt",
            "cents",
        )
    )

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

@register(
    "pivot_user_activity",
    oracle="SELECT CAST(user_id % 10 AS INT) AS cohort, "
    + ", ".join(
        f"count(*) FILTER (WHERE event_type = '{t}') AS n_{t}" for t in _EVENT_TYPES
    )
    + " FROM events GROUP BY 1",
    doc="Pivot: event-type counts as columns per user cohort (oracle via "
    "FILTER conditional aggregation).",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select(
        (F.col("user_id") % 10).cast("int").alias("cohort"), "event_type"
    )
    pv = ev.groupBy("cohort").pivot("event_type", list(_EVENT_TYPES)).count()
    return pv.select(
        "cohort",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _EVENT_TYPES],
    )

@register(
    "value_percentiles",
    oracle="""
WITH q AS (
  SELECT event_type,
         quantile_cont(CAST(round(value * 100) AS BIGINT), [0.5e0, 0.9e0, 0.99e0]) AS p
  FROM events GROUP BY 1
)
SELECT event_type, p[1] / 100 AS p50, p[2] / 100 AS p90, p[3] / 100 AS p99 FROM q
""",
    doc="Exact interpolated percentiles per event_type over integer cents "
    "(Spark percentile == DuckDB quantile_cont, verified bit-exact).",
)
def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    p = F.expr("percentile(CAST(round(value * 100) AS BIGINT), array(0.5e0, 0.9e0, 0.99e0))")
    return ev.groupBy("event_type").agg(p.alias("p")).select(
        "event_type",
        (F.element_at("p", 1) / 100).alias("p50"),
        (F.element_at("p", 2) / 100).alias("p90"),
        (F.element_at("p", 3) / 100).alias("p99"),
    )


@register(
    "props_json_profile",
    oracle=relational.props_json_profile_sql(),
    doc="Semi-structured column profiling: extract an integer field "
    "from the events JSON props bag (schema-on-read -- the shape every "
    "event pipeline has next to its typed columns) via codegen'd "
    "get_json_object, profile per event type: counts, extraction hits, "
    "exact sum/min/max, distinct values, all BIGINT. Dirty-row "
    "contract: malformed JSON and wrong-typed/non-integer-formatted/"
    "whitespace-padded values count in n_events but never "
    "n_with_field -- BOTH engines gate the cast on the same "
    "^[+-]?[0-9]+$ regex over the raw extracted string (json_valid "
    "guards DuckDB's erroring json_extract; try_cast under the gate "
    "NULLs formatted-but-overflowing integers identically). Fills the "
    "semi-structured modality gap: events.props was unused before r8. "
    "100 TB: map-only extraction fused into the scan projection, one "
    "hash groupBy with map-side partials, vocabulary-bounded output.",
)
def q_props_json_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return relational.props_json_profile(ev)
