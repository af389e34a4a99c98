"""Schemas for the reference's record types and the driver testdata tables.

Reference record types (SURVEY.md §1.2):
  * Mail Tuple6    -> MAIL (MBoxParser.java:41-47,223; replyTo may be the
                      literal string "null" -- preserved, not NULL)

Positional Flink tuples become named columns; there is no positional access
anywhere in this engine.
"""

from __future__ import annotations

from pyspark.sql import types as T


# MBoxParser.java:41-47 -- six string fields; time is the *string*
# 'yyyy-MM-dd-HH:mm:ss' (month key = substring), matching the reference.
MAIL = T.StructType(
    [
        T.StructField("messageId", T.StringType(), False),
        T.StructField("time", T.StringType(), True),
        T.StructField("sender", T.StringType(), True),
        T.StructField("subject", T.StringType(), True),
        T.StructField("body", T.StringType(), True),
        T.StructField("replyTo", T.StringType(), True),
    ]
)


TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
