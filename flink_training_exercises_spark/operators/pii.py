"""PII detection / redaction for corpus pipelines.

Scrubs the two PII shapes the testdata actually contains (email addresses
and numeric identifiers) with patterns chosen to behave identically under
Java regex (Spark) and RE2 (DuckDB): no backreferences, no lookaround, no
\\s (Java's \\s matches \\x0B, RE2's does not -- see README determinism
rules), ASCII character classes only. A production pipeline extends
``PII_PATTERNS`` with phone/SSN/IP shapes the same way.

Redaction order matters and is part of the operator contract: emails are
replaced first (their local/domain parts contain digits), then remaining
digit runs -- so ``n_id_runs`` counts only non-email numbers. The redacted
text is fingerprinted (md5 -> 60-bit int) so the differential gate proves
byte-identical redaction, not just equal counts.

Scale: pure per-row Column expressions (regexp_extract_all / regexp_replace
are codegen'd JVM work) -- no shuffle, no Python, streams through a 100 TB
scan at full parquet read speed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long, md5_long_sql

EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
DIGITS_RE = "[0-9]+"
EMAIL_TAG = "<EMAIL>"
NUM_TAG = "<NUM>"


def pii_scrub(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per row: email / digit-run match counts, the redacted text, and its
    fingerprint. Emails first, then digit runs over the email-redacted text."""
    from ..sources.loaders import widen_scan

    df = widen_scan(df)
    raw = F.col(text_col)
    no_email = F.regexp_replace(raw, EMAIL_RE, EMAIL_TAG)
    clean = F.regexp_replace(no_email, DIGITS_RE, NUM_TAG)
    return df.select(
        F.col(id_col),
        # bigint casts: width-align with the oracle's int64 (the driver
        # tolerates width skew today; one cast removes the reliance)
        F.size(F.regexp_extract_all(raw, F.lit(EMAIL_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(no_email, F.lit(DIGITS_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_id_runs"),
        F.length(clean).cast("bigint").alias("redacted_len"),
        md5_long(clean).alias("redacted_fp"),
    )


def pii_scrub_sql() -> str:
    """DuckDB twin over the ``mails`` view's ``sender | subject | body``
    text. DuckDB regexp_replace needs the explicit 'g' flag (Spark replaces
    globally by default)."""
    no_email = f"regexp_replace(raw, '{EMAIL_RE}', '{EMAIL_TAG}', 'g')"
    clean = f"regexp_replace({no_email}, '{DIGITS_RE}', '{NUM_TAG}', 'g')"
    return f"""
SELECT message_id,
       len(regexp_extract_all(raw, '{EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all({no_email}, '{DIGITS_RE}')) AS n_id_runs,
       length({clean}) AS redacted_len,
       {md5_long_sql(clean)} AS redacted_fp
FROM (SELECT message_id, sender || ' | ' || subject || ' | ' || body AS raw FROM mails)
"""


KANONYMITY_PROFILE_QI_COLS = ("lang", "source")
KANONYMITY_PROFILE_LENGTH_BUCKET = 100
KANONYMITY_PROFILE_K_RISK = 5


def kanonymity_profile(docs: DataFrame, k_risk: int = KANONYMITY_PROFILE_K_RISK) -> DataFrame:
    """k-anonymity / l-diversity audit over quasi-identifier classes --
    the re-identification-risk profile a privacy review runs before a
    corpus ships (Sweeney's k-anonymity; Machanavajjhala's l-diversity).
    Rows = one per NONEMPTY equivalence class of the quasi-identifiers
    (``qi_cols`` + the bucketed length column -- bucketing is itself the
    standard generalization step): (qi..., len_bucket, class_size,
    l_diversity, at_risk), where class_size is the class's k, l_diversity
    counts distinct sensitive values inside it, and at_risk flags classes
    smaller than ``k_risk`` (the releasability threshold). All counts
    BIGINT; the flag is 0/1 BIGINT, not BOOLEAN (dtype parity).

    Gated since round 7 (catalog name pii_kanonymity_profile).

    Scale shape (100 TB): one hash-partitioned groupBy on the
    quasi-identifier tuple with map-side partial aggregation;
    count_distinct of the sensitive column is the only shuffle-heavy
    part and Spark plans it as the standard two-phase expand. Output
    cardinality is vocabulary-bounded (|lang| x |source| x length
    buckets), never data-sized."""
    bucket = F.floor(F.col("n_chars") / F.lit(KANONYMITY_PROFILE_LENGTH_BUCKET)).cast("bigint")
    # distinct over the md5 of the sensitive value, not the value: moves
    # 16-byte hashes through the count-distinct expand instead of full
    # document texts (deterministic + collision-negligible on both
    # engines, the repo's standard trick)
    return (
        docs.groupBy(*KANONYMITY_PROFILE_QI_COLS, bucket.alias("len_bucket"))
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.countDistinct(F.md5(F.col("text"))).alias("l_diversity"),
        )
        .select(
            *KANONYMITY_PROFILE_QI_COLS,
            "len_bucket",
            "class_size",
            "l_diversity",
            F.when(F.col("class_size") < k_risk, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("at_risk"),
        )
    )


def kanonymity_profile_sql() -> str:
    """DuckDB twin of :func:`kanonymity_profile` (`//` = integer division
    where Spark uses FLOOR of the exact double quotient -- equal on
    nonnegative lengths)."""
    qi = ", ".join(KANONYMITY_PROFILE_QI_COLS)
    return f"""
SELECT {qi},
       CAST(n_chars // {KANONYMITY_PROFILE_LENGTH_BUCKET} AS BIGINT) AS len_bucket,
       CAST(count(*) AS BIGINT) AS class_size,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS l_diversity,
       CAST(CASE WHEN count(*) < {KANONYMITY_PROFILE_K_RISK} THEN 1 ELSE 0 END AS BIGINT) AS at_risk
FROM documents
GROUP BY {qi}, CAST(n_chars // {KANONYMITY_PROFILE_LENGTH_BUCKET} AS BIGINT)
"""

T_CLOSENESS_AUDIT_QI_COLS = ("lang", "source")
T_CLOSENESS_AUDIT_LENGTH_BUCKET = 100
T_CLOSENESS_AUDIT_T_NUM = 3
T_CLOSENESS_AUDIT_T_DEN = 20


def t_closeness_audit(docs: DataFrame) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian) -- the third leg of
    the privacy-audit family after k-anonymity and l-diversity: per
    quasi-identifier class, the Earth Mover's Distance between the
    class's distribution of an ORDERED sensitive attribute (the bucketed
    length) and the global distribution. A class can be k-anonymous and
    l-diverse yet still leak (all its values clustered at one end of the
    range); EMD against the global distribution is the published fix.

    Gated since round 8 (catalog name pii_tcloseness_audit).

    Determinism: for 1-D ordered distributions with unit bin spacing
    scaled to [0,1], EMD = sum_j |CDF_class(j) - CDF_global(j)| / (m-1).
    With class cumulative counts C_j (class size k), global cumulative
    counts G_j (corpus size N), that is sum_j |N*C_j - k*G_j| / (k*N*(m-1))
    -- an exact BIGINT rational. Output (qi..., class_size, emd_num,
    emd_den, t_risk) carries the numerator/denominator as BIGINTs and the
    flag t > t_num/t_den by integer cross-multiplication: ZERO float ops,
    so cross-engine equality is structural. The last bin's term is
    |N*k - k*N| = 0, so summing over all bins equals summing over j < m.

    Scale shape (100 TB): one hash groupBy to the (class, bin) counts;
    everything after runs on VOCABULARY-bounded frames (classes x bins --
    langs x sources x length buckets), including the zero-fill cross
    join, the bounded single-partition global-CDF window, and the 1-row
    totals broadcast (the mail_tfidf scalar pattern). Per-class CDFs use
    Window.partitionBy(class), parallel across classes."""
    from pyspark.sql import Window

    b = F.floor(F.col("n_chars") / F.lit(T_CLOSENESS_AUDIT_LENGTH_BUCKET)).cast("bigint")
    base = docs.select(*T_CLOSENESS_AUDIT_QI_COLS, b.alias("bin"))
    # (class, bin) counts feed THREE branches (global CDF, class sizes,
    # the grid join) -- vocabulary-bounded, so localCheckpoint once
    # instead of re-evaluating the corpus scan per consumer (CLAUDE.md
    # multi-consumer rule; collocation/histogram/bm25 precedent)
    cls_bin = (
        base.groupBy(*T_CLOSENESS_AUDIT_QI_COLS, "bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint()
    )
    glob = cls_bin.groupBy("bin").agg(F.sum("c").alias("g"))
    # bounded single-partition window: one row per distinct length bucket
    gw = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    gcum = glob.select("bin", F.sum("g").over(gw).alias("g_cum"))
    totals = glob.agg(
        F.sum("g").alias("n_total"), F.count(F.lit(1)).alias("m_bins")
    )
    classes = cls_bin.groupBy(*T_CLOSENESS_AUDIT_QI_COLS).agg(F.sum("c").alias("k"))
    grid = classes.crossJoin(F.broadcast(gcum.select("bin"))).join(
        cls_bin, [*T_CLOSENESS_AUDIT_QI_COLS, "bin"], "left"
    )
    cw = Window.partitionBy(*T_CLOSENESS_AUDIT_QI_COLS).orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cdf = grid.select(
        *T_CLOSENESS_AUDIT_QI_COLS,
        "k",
        "bin",
        F.sum(F.coalesce(F.col("c"), F.lit(0))).over(cw).alias("c_cum"),
    ).join(F.broadcast(gcum), "bin")
    return (
        cdf.crossJoin(F.broadcast(totals))
        .groupBy(*T_CLOSENESS_AUDIT_QI_COLS)
        .agg(
            F.max("k").alias("class_size"),
            F.sum(
                F.abs(F.col("n_total") * F.col("c_cum") - F.col("k") * F.col("g_cum"))
            ).alias("emd_num"),
            (F.max("k") * F.max("n_total") * (F.max("m_bins") - 1))
            .cast("bigint")
            .alias("emd_den"),
        )
        .select(
            *T_CLOSENESS_AUDIT_QI_COLS,
            "class_size",
            "emd_num",
            "emd_den",
            F.when(
                F.col("emd_num") * T_CLOSENESS_AUDIT_T_DEN
                > T_CLOSENESS_AUDIT_T_NUM * F.col("emd_den"),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("t_risk"),
        )
    )


def t_closeness_audit_sql() -> str:
    """DuckDB twin of :func:`t_closeness_audit`: the same zero-filled
    class x bin grid, cumulative counts, and integer EMD rational
    (`//` = integer division on the nonnegative lengths)."""
    qi = ", ".join(T_CLOSENESS_AUDIT_QI_COLS)
    qi_c = ", ".join(f"c.{col}" for col in T_CLOSENESS_AUDIT_QI_COLS)
    return f"""
WITH base AS (
  SELECT {qi}, CAST(n_chars // {T_CLOSENESS_AUDIT_LENGTH_BUCKET} AS BIGINT) AS bin
  FROM documents
),
cls_bin AS (
  SELECT {qi}, bin, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY {qi}, bin
),
gl AS (SELECT bin, CAST(sum(c) AS BIGINT) AS g FROM cls_bin GROUP BY 1),
gcum AS (
  SELECT bin, CAST(sum(g) OVER (ORDER BY bin
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS g_cum
  FROM gl
),
totals AS (
  SELECT CAST(sum(g) AS BIGINT) AS n_total, CAST(count(*) AS BIGINT) AS m_bins
  FROM gl
),
classes AS (SELECT {qi}, CAST(sum(c) AS BIGINT) AS k FROM cls_bin GROUP BY {qi}),
grid AS (
  SELECT {qi_c}, c.k, b.bin, COALESCE(cb.c, 0) AS c0
  FROM classes c CROSS JOIN (SELECT bin FROM gcum) b
  LEFT JOIN cls_bin cb USING ({qi}, bin)
),
cdf AS (
  SELECT {qi}, k, bin,
         CAST(sum(c0) OVER (PARTITION BY {qi} ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS c_cum
  FROM grid
)
SELECT {qi},
       CAST(max(k) AS BIGINT) AS class_size,
       CAST(sum(abs(t.n_total * c_cum - k * g.g_cum)) AS BIGINT) AS emd_num,
       CAST(max(k) * max(t.n_total) * (max(t.m_bins) - 1) AS BIGINT) AS emd_den,
       CAST(CASE WHEN sum(abs(t.n_total * c_cum - k * g.g_cum)) * {T_CLOSENESS_AUDIT_T_DEN}
                      > {T_CLOSENESS_AUDIT_T_NUM} * (max(k) * max(t.n_total) * (max(t.m_bins) - 1))
                 THEN 1 ELSE 0 END AS BIGINT) AS t_risk
FROM cdf JOIN gcum g USING (bin) CROSS JOIN totals t
GROUP BY {qi}
"""
