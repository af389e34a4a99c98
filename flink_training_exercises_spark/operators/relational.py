"""Batch relational operators (SURVEY.md §2.2-2.4).

Each reference exercise becomes a composable DataFrame builder. Everything is
Column expressions -- Catalyst gets the whole plan, so partial aggregation,
filter pushdown, and join-strategy selection are automatic (SURVEY.md §4):
the reference's hand-written groupReduce UDFs (MailCount.java:86-107) were
*not* combinable; ``groupBy().count()`` is -- a genuine scale win.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import email_address, month_key, tokenize_words

# P3 -- bot addresses (ReplyGraph.java:61-62; MemberOTMonth.java:68-70).
BOT_ADDRESSES = ("git@git.apache.org", "jira@apache.org", "no-reply@apache.org")


def mail_count(mails: DataFrame) -> DataFrame:
    """A1/P6 -- mails per (month, email address) (MailCount.java:49-107)."""
    return (
        mails.select(
            month_key().alias("month"),
            email_address().alias("email"),
        )
        .groupBy("month", "email")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def member_of_the_month(mails: DataFrame, strategy: str = "window") -> DataFrame:
    """A5/A6/J3/P3 -- per month, the sender(s) with the most mails, bots
    excluded; ties produce multiple rows (MemberOTMonth.java:48-81).

    strategy='window' (default): max(cnt) over a month partition + filter --
    one shuffle, the idiomatic Spark plan. strategy='join' reproduces the
    reference's shape literally: per-month max aggregated then equi-joined
    back on (month, cnt). Both keep tie semantics (rank-style, not
    row_number -- SURVEY.md §7 watch list).
    """
    counts = (
        mails.select(
            month_key().alias("month"),
            email_address().alias("sender"),
        )
        .where(~F.col("sender").isin(*BOT_ADDRESSES))
        .groupBy("month", "sender")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if strategy == "window":
        w = Window.partitionBy("month")
        return (
            counts.withColumn("max_cnt", F.max("cnt").over(w))
            .where(F.col("cnt") == F.col("max_cnt"))
            .select("month", "sender")
        )
    c = counts.alias("c")
    m = counts.groupBy("month").agg(F.max("cnt").alias("max_cnt")).alias("m")
    return c.join(
        m, (F.col("c.month") == F.col("m.month")) & (F.col("c.cnt") == F.col("m.max_cnt"))
    ).select(F.col("c.month").alias("month"), F.col("c.sender").alias("sender"))


def reply_graph(mails: DataFrame) -> DataFrame:
    """J2/A2/P3/P7 -- reply connections: self-join replies to their original
    mails on reply_to == message_id, count per (replier, original sender)
    (ReplyGraph.java:50-71).

    The 'null' replyTo sentinel (MBoxParser.java:150) never matches a real
    message_id, so no explicit filter is needed -- same as the reference.
    """
    addressed = mails.select(
        F.col("message_id"),
        email_address().alias("sender"),
        F.col("reply_to"),
    ).where(~email_address().isin(*BOT_ADDRESSES))
    replies = addressed.alias("r")
    originals = addressed.alias("o")
    return (
        replies.join(originals, F.col("r.reply_to") == F.col("o.message_id"))
        .select(F.col("r.sender").alias("from_email"), F.col("o.sender").alias("to_email"))
        .groupBy("from_email", "to_email")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def tf_idf(docs: DataFrame) -> DataFrame:
    """P9/P10/A3/A4/J1/F13 -- the reference's (nonstandard, no-log) TF-IDF:
    tfidf = tf * (N / df) (MailTFIDF.java:63-96,214-233).

    Spark-first shape: one tokenize + explode feeds BOTH aggregates (tf per
    (doc, word); df per word = distinct docs containing it), instead of the
    reference's two separate flatMap passes over the corpus. N arrives via a
    broadcast 1-row cross join, keeping the plan fully lazy -- the reference
    runs an eager count() job and embeds the scalar (MailTFIDF.java:73-74).
    The word->df join is a broadcast join at any realistic vocabulary size.
    """
    words = docs.select(
        F.col("doc_id"),
        F.explode(tokenize_words("text")).alias("word"),
    )
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_ = (
        words.select("doc_id", "word")
        .distinct()
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(F.broadcast(df_), "word")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("doc_id"),
            F.col("word"),
            (F.col("tf") * (F.col("n_docs").cast("double") / F.col("df"))).alias("tfidf"),
        )
    )

PROPS_JSON_PROFILE_PATH = "$.k"


def props_json_profile(events: DataFrame) -> DataFrame:
    """Semi-structured column profiling: extract an integer field from a
    JSON string column (the schema-on-read shape every event pipeline
    has -- a `props` bag next to the typed columns) and profile it per
    event type: row count, extraction hit count, exact sum/min/max, and
    distinct-value count. Output (event_type, n_events, n_with_field,
    sum_v, min_v, max_v, distinct_v), all BIGINT.

    GATED ROUND 9 (promoted from the staged backlog).

    Cross-engine contract for dirty rows: malformed JSON (Spark's
    get_json_object returns NULL; DuckDB's json_extract ERRORS, so the
    twin guards with json_valid) and WRONG-TYPED field values (a string
    or nested object where the integer should be) both count in
    n_events but not n_with_field. BOTH engines gate the cast on the
    SAME explicit ^[+-]?[0-9]+$ format over the RAW extracted string --
    the gate is load-bearing twice over: Spark's bare try_cast NULLs
    non-integer-formatted numbers (1.5/2.0/1e3) that DuckDB's TRY_CAST
    parses, AND Spark's try_cast trims whitespace (" 7 " parses) where
    a raw-string regexp on the twin would not -- so the gate must sit
    on the SPARK side too, over the untrimmed string, to make the
    admitted set identical (ADVICE r8). Anchors are \\A..\\z, NOT ^..$:
    Java's $ matches before a FINAL newline even without MULTILINE
    (so "7\\n" would pass a ^$ gate on Spark and try_cast-trim to 7)
    while RE2's $ is end-of-text only -- \\A/\\z mean exact
    end-of-text in BOTH engines; the body uses only [0-9]+- (no
    \\s-class divergence).
    try_cast stays UNDER the gate on both sides so a
    formatted-but-overflowing integer NULLs identically instead of
    erroring (a plain ANSI cast would kill the whole query on one
    dirty row, which is exactly what a schema-on-read profiler must
    not do). Extraction
    stays JVM-side (get_json_object is a codegen'd expression, no UDF);
    values cast through BIGINT so the aggregate is exact.

    min_v/max_v use -1 purely as a BIGINT-dtype-stability sentinel for
    the all-NULL group; the field domain admits negatives, so they are
    only meaningful when n_with_field > 0 -- readers must check that
    column first (ADVICE r8).

    Scale shape (100 TB): map-only extraction fused into the scan
    projection, one hash groupBy with map-side partials (the
    count-distinct expands to the standard two-level aggregate);
    output is vocabulary-bounded (event types)."""
    vs = F.expr(f"get_json_object(props, '{PROPS_JSON_PROFILE_PATH}')")
    v = F.when(vs.rlike(r"\A[+-]?[0-9]+\z"), vs.try_cast("bigint"))
    return (
        events.select("event_type", v.alias("v"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.count("v").cast("bigint").alias("n_with_field"),
            F.coalesce(F.sum("v"), F.lit(0)).cast("bigint").alias("sum_v"),
            F.coalesce(F.min("v"), F.lit(-1)).cast("bigint").alias("min_v"),
            F.coalesce(F.max("v"), F.lit(-1)).cast("bigint").alias("max_v"),
            F.count_distinct(F.col("v")).cast("bigint").alias("distinct_v"),
        )
    )


def props_json_profile_sql() -> str:
    """DuckDB twin of :func:`props_json_profile`: json_valid-guarded
    json_extract_string (Spark's get_json_object NULLs malformed rows;
    DuckDB would error without the guard), then the SAME explicit
    integer-format gate the Spark side applies over the RAW extracted
    string (see props_json_profile's docstring for why the gate lives
    on both engines: try_cast format laxity 1.5/2.0/1e3 AND whitespace
    trimming " 7 ", and why the anchors are \\A/\\z -- Java's $ admits
    a trailing newline, RE2's does not; ADVICE r8). TRY_CAST under the
    gate so a formatted-but-overflowing integer NULLs identically to
    Spark's try_cast instead of erroring."""
    return f"""
WITH raw AS (
  SELECT event_type,
         CASE WHEN json_valid(props)
              THEN json_extract_string(props, '{PROPS_JSON_PROFILE_PATH}')
         END AS vs
  FROM events
),
ex AS (
  SELECT event_type,
         CASE WHEN regexp_matches(vs, '\\A[+-]?[0-9]+\\z')
              THEN TRY_CAST(vs AS BIGINT) END AS v
  FROM raw
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(v) AS BIGINT) AS n_with_field,
       CAST(COALESCE(sum(v), 0) AS BIGINT) AS sum_v,
       CAST(COALESCE(min(v), -1) AS BIGINT) AS min_v,
       CAST(COALESCE(max(v), -1) AS BIGINT) AS max_v,
       CAST(count(DISTINCT v) AS BIGINT) AS distinct_v
FROM ex GROUP BY 1
"""
