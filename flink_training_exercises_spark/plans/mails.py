"""Derived mailing-list view over the driver's ``events`` table.

The reference's batch exercises (MailCount, ReplyGraph, MemberOTMonth) run
over Flink-dev mailing-list records (FIXTURES.md §2: messageId, time string
'yyyy-MM-dd-HH:mm:ss', sender 'Name <email>', subject, body, replyTo).
The testdata has no mail table, so -- like plans/rides.py -- a deterministic
mail view is derived from ``events``:

  * bot senders (git@/jira@/no-reply@apache.org) appear so the P3 bot filter
    is non-trivial (MemberOTMonth.java:68-70);
  * replyTo points at a pseudo-random EARLIER message id, or the literal
    string 'null' (MBoxParser.java:150) -- reply chains for ReplyGraph;
  * time formatting differs per engine (date_format vs strftime), so the
    shared text carries a {ts_fmt} hole; everything else is identical SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .rides import load_events

# Sender pool: user_id % 19 == 0/1/2 are the three bot addresses the
# reference filters; everyone else is 'User<u> <user<u>@host<u%7>.example>'.
_MAILS_SQL = """
SELECT
  'msg' || CAST(event_id AS STRING) AS message_id,
  '2024-' || lpad(CAST(1 + event_id % 12 AS STRING), 2, '0')
          || '-' || lpad(CAST(1 + event_id % 28 AS STRING), 2, '0')
          || '-' || {ts_fmt} AS time,
  CASE
    WHEN user_id % 19 = 0 THEN 'Git Bot <git@git.apache.org>'
    WHEN user_id % 19 = 1 THEN 'Jira Bot <jira@apache.org>'
    WHEN user_id % 19 = 2 THEN 'No Reply <no-reply@apache.org>'
    ELSE 'User' || CAST(user_id AS STRING) || ' <user' || CAST(user_id AS STRING)
         || '@host' || CAST(user_id % 7 AS STRING) || '.example>'
  END AS sender,
  'Subject ' || CAST(event_id % 50 AS STRING) AS subject,
  'the ' || event_type || ' discussion is about topic '
         || CAST(event_id % 20 AS STRING) AS body,
  CASE WHEN event_id % 3 = 0 OR event_id < 10 THEN 'null'
       ELSE 'msg' || CAST(((event_id + 7) * 2654435761 % 1000000007) % event_id AS STRING)
  END AS reply_to
FROM {events}
"""

# Final field of the 'yyyy-MM-dd-HH:mm:ss' string (MBoxParser.java:137);
# year/month/day are synthesized from event_id so the mail corpus spans 12
# months (the raw events table covers a single month, which would collapse
# every per-month aggregate to one group). On TIMESTAMP_NTZ columns both
# renderings are timezone-independent.
_SPARK_TS_FMT = "date_format(ts, 'HH:mm:ss')"
_DUCK_TS_FMT = "strftime(ts, '%H:%M:%S')"


def mails_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    # {events} stays a hole that spark.sql binds to the frame
    text = _MAILS_SQL.format(events="{events}", ts_fmt=_SPARK_TS_FMT)
    return spark.sql(text, events=load_events(spark, sf_dir))


def mails_cte() -> str:
    """DuckDB-side CTE body."""
    return _MAILS_SQL.format(events="events", ts_fmt=_DUCK_TS_FMT)
