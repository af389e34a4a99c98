"""Data-prep tooling (SURVEY.md §2.1 S5/S11, §2.2 P11) -- fixture/ingest
utilities, not engine query operators.

* parse_mbox_mails: the reference's MBoxParser flatMap
  (MBoxParser.java:120-238) -- raw mbox mail text -> the 6-field mail
  record. Irregular line-oriented parsing is the one legitimately Python
  job here; it runs as Arrow-batched mapInPandas over the multi-char-
  delimited reader (sources/loaders.read_mail_records feeds the *parsed*
  format; this produces it).
* trips_to_events: convertTrips.sh:19 -- one START + one END event per
  trip row, globally ordered by event time, as a DataFrame transform
  (explode of a 2-element struct array; the shell sort becomes orderBy).
"""

from __future__ import annotations

from datetime import datetime
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import MAIL

MAIL_FIELD_DELIMITER = "#|#"  # MBoxParser.java:56
MAIL_RECORD_DELIMITER = "##//##"  # MBoxParser.java:57


def _parse_one_mail(raw: str) -> tuple | None:
    """MBoxParser.java:120-238, faithfully: headers until the first blank
    line ('=' soft-wrapped lines unwrapped), body after; mails missing any
    required header or containing a delimiter are dropped."""
    message_id = time_s = sender = subject = reply_to = None
    lines = raw.replace("=\n", "").split("\n")
    body_lines: list[str] = []
    in_body = False
    for line in lines:
        if in_body:
            body_lines.append(line)
            continue
        if line.strip() == "":
            in_body = True
            continue
        if line.startswith("Message-ID:") or line.startswith("Message-Id:"):
            message_id = line.split(":", 1)[1].strip()
        elif line.startswith("Date:"):
            # 'EEE MMM d HH:mm:ss yyyy' -> 'yyyy-MM-dd-HH:mm:ss'
            # (MBoxParser.java:136-137,174-179)
            try:
                dt = datetime.strptime(line.split(":", 1)[1].strip(), "%a %b %d %H:%M:%S %Y")
                time_s = dt.strftime("%Y-%m-%d-%H:%M:%S")
            except ValueError:
                time_s = None
        elif line.startswith("From:"):
            sender = line.split(":", 1)[1].strip()
        elif line.startswith("Subject:"):
            subject = line.split(":", 1)[1].strip()
        elif line.startswith("In-Reply-To:"):
            reply_to = line.split(":", 1)[1].strip()
    if not all([message_id, time_s, sender, subject]):
        return None
    body = "\n".join(body_lines)
    # replyTo may be the literal string 'null' (MBoxParser.java:150)
    reply_to = reply_to if reply_to is not None else "null"
    fields = (message_id, time_s, sender, subject, body, reply_to)
    if any(MAIL_FIELD_DELIMITER in f or MAIL_RECORD_DELIMITER in f for f in fields):
        return None  # MBoxParser.java:234-236
    return fields


def parse_mbox_mails(raw_mails: DataFrame) -> DataFrame:
    """P11 -- raw mail strings -> mail records (invalid mails dropped)."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in MAIL.fields]
        for pdf in batches:
            parsed = [p for p in (_parse_one_mail(t) for t in pdf["value"]) if p]
            yield pd.DataFrame(parsed, columns=cols) if parsed else pd.DataFrame(
                {c: pd.Series(dtype="object") for c in cols}
            )

    return raw_mails.mapInPandas(parse, schema=MAIL)


def trips_to_events(trips: DataFrame) -> DataFrame:
    """S11 -- convertTrips.sh:19: each trip row (ride_id, start/end times and
    coords, passenger_cnt) becomes one START and one END event, globally
    sorted by event time. At scale, prefer writing sorted-within-partition
    output (sortWithinPartitions) over the global orderBy shown here."""
    mk = lambda is_start: F.struct(  # noqa: E731
        F.lit(is_start).alias("is_start"),
        F.when(F.lit(is_start), F.col("start_time")).otherwise(F.col("end_time")).alias("ts"),
    )
    return (
        trips.select(
            "*",
            F.explode(F.array(mk(True), mk(False))).alias("ev"),
        )
        .select(
            F.col("ride_id"),
            F.col("ev.is_start").alias("is_start"),
            F.col("ev.ts").alias("ts"),
            "start_time",
            "end_time",
            "start_lon",
            "start_lat",
            "end_lon",
            "end_lat",
            "passenger_cnt",
        )
        .orderBy("ts", "ride_id", "is_start")
    )
