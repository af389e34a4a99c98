"""Text scalar functions (SURVEY.md §2.8 F10; P6/P7/P9 transforms).

All Column expressions. The stop-word list is the reference's 29-word list
verbatim (MailTFIDF.java:50-54).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# MailTFIDF.java:50-54 -- STOP_WORDS, 29 entries.
STOP_WORDS = (
    "the", "i", "a", "an", "at", "are", "am", "for", "and", "or", "is",
    "there", "it", "this", "that", "on", "was", "by", "of", "to", "in",
    "to", "not", "be", "with", "you", "have", "as", "can",
)


def month_key() -> Column:
    """P6 -- month = time.substring(0, 7) (MailCount.java:75); works for both
    'yyyy-MM-dd...' strings and timestamp columns."""
    return F.substring(F.col("time").cast("string"), 1, 7)


def email_address() -> Column:
    """P6/P7 -- bare sender address between the last '<' and trailing '>'
    (MailCount.java:77, ReplyGraph.java:78-85); rows without brackets pass
    through unchanged (the reference would throw; our inputs are clean)."""
    s = F.col("sender")
    extracted = F.regexp_extract(s, r"<([^<>]*)>\s*$", 1)
    return F.when(extracted != "", extracted).otherwise(s)


def words() -> Column:
    """The engine's plain tokenizer over the ``text`` column: lowercase,
    split on whitespace runs, drop empty tokens (a leading/trailing run
    splits off one ''). The DuckDB twin is :func:`words_sql`."""
    return F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda w: w != "")


def words_sql() -> str:
    """DuckDB twin of :func:`words` over the ``text`` column."""
    return "[x for x in string_split_regex(lower(text), '\\s+') if x != '']"


def tokenize_words(body, *, distinct: bool = False) -> Column:
    """P9 -- whitespace-tokenize, lowercase, keep alphabetic-only tokens,
    drop stop words (MailTFIDF.java:103-149). Returns an array column;
    ``distinct=True`` gives the unique-words variant used for document
    frequency. Entirely JVM-side: split + filter + array_distinct.
    """
    words = F.split(F.lower(F.col(body)), r"\s+")
    stop_arr = F.array(*[F.lit(w) for w in dict.fromkeys(STOP_WORDS)])
    kept = F.filter(
        words,
        lambda w: w.rlike("^[a-z]+$") & ~F.array_contains(stop_arr, w),
    )
    return F.array_distinct(kept) if distinct else kept
