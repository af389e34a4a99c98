"""Benchmark-contamination scan: which corpus documents contain word
n-grams from a held-out benchmark/eval set.

Standard decontamination practice for LLM training corpora (GPT-3 appendix C
/ PaLM §7 style): hash every word n-gram (n=8 here), build the benchmark's
n-gram set, and flag training docs whose n-grams collide with it. The
output is per-doc overlap counts, which a pipeline thresholds to drop or
quarantine contaminated documents.

Shape for 100 TB: the benchmark side is SMALL by construction (eval sets are
thousands of docs, not billions) -- its distinct hashed n-gram set broadcasts,
so the corpus side is ONE scan + ONE broadcast-hash-join + ONE groupBy(doc).
No shuffle carries raw text: grams are md5-folded to bigints before the join
(same cross-engine trick as operators/dedup.py). Both engines join on the
same hash, so collision behavior (negligible at 60 bits) is
differential-safe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long, md5_long_sql
from ..functions.text import words, words_sql

NGRAM_N = 8
BENCH_MOD = 50  # doc_id % BENCH_MOD == 0 marks the held-out benchmark docs


def _gram_strings(w: Column, n: int) -> Column:
    """Distinct word n-gram STRINGS per doc; empty when the doc is shorter
    than n (sequence() descends for start > stop, hence the guard).

    Strings, not hashes: the md5 fold runs AFTER the explode as a row-level
    codegen'd expression. Inside the higher-order transform it would be
    interpreted per element -- measured 5x slower at sf0.1 (the r2 bench's
    slowest query). The explode is pipelined (no exchange), so no raw text
    ever crosses a shuffle either way; per-doc distinct still happens here,
    array-side, so no row-level distinct shuffle is needed."""
    return F.when(
        F.size(w) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(w) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(w, i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def ngram_contamination(docs: DataFrame, n: int = NGRAM_N) -> DataFrame:
    """Per corpus doc: distinct n-gram count, how many of those n-grams occur
    anywhere in the benchmark subset (doc_id % bench_mod == 0), and the
    contamination fraction. Corpus docs with no grams (< n words) drop out on
    both engines identically."""
    from ..sources.loaders import widen_scan

    g = widen_scan(docs).select(
        F.col("doc_id"),
        (F.col("doc_id") % BENCH_MOD == 0).alias("is_bench"),
        F.explode(_gram_strings(words(), n)).alias("gs"),
    ).select("doc_id", "is_bench", md5_long("gs").alias("gh"))
    corpus = g.where(~F.col("is_bench")).select("doc_id", "gh")
    bench = (
        g.where(F.col("is_bench")).select("gh").distinct()
    ).withColumn("hit", F.lit(1))
    marked = corpus.join(F.broadcast(bench), "gh", "left")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("hit").alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_contaminated",
            (F.col("n_contaminated").cast("double") / F.col("n_grams")).alias(
                "contam_frac"
            ),
        )
    )


def _grams_sql() -> str:
    """Shared gram-pipeline SQL over ``documents`` (tokenize -> per-doc
    distinct NGRAM_N-gram strings -> md5 hashes, bench flag) under
    ngram_contamination_sql AND
    bloom_contamination_screen_sql -- one source of truth so the
    documented \\x0B tokenizer contingency (CLAUDE.md) edits exactly one
    SQL site next to the shared Spark-side words/_gram_strings."""
    w = words_sql()
    slots = ", ".join("w[i]" if j == 0 else f"w[i+{j}]" for j in range(NGRAM_N))
    gram = f"concat_ws(' ', {slots})"
    gram_list = (
        f"list_transform(list_distinct(list_transform(range(1, len(w) - {NGRAM_N - 2}), "
        f"i -> {gram})), g -> {md5_long_sql('g')})"
    )
    return (
        f"SELECT doc_id, doc_id % {BENCH_MOD} = 0 AS is_bench, {gram_list} AS g "
        f"FROM (SELECT doc_id, {w} AS w FROM documents)"
    )


def ngram_contamination_sql() -> str:
    # distinct at the STRING level, then hash -- mirrors the Spark side
    # (array_distinct of gram strings, md5 after the explode); the gram
    # pipeline itself is the shared _grams_sql fragment
    return f"""
WITH grams AS (
  {_grams_sql()}
),
corpus AS (SELECT doc_id, unnest(g) AS gh FROM grams WHERE NOT is_bench),
bench AS (SELECT DISTINCT unnest(g) AS gh FROM grams WHERE is_bench),
marked AS (
  SELECT c.doc_id, b.gh IS NOT NULL AS hit
  FROM corpus c LEFT JOIN bench b USING (gh)
)
SELECT doc_id, count(*) AS n_grams,
       count(*) FILTER (WHERE hit) AS n_contaminated,
       CAST(count(*) FILTER (WHERE hit) AS DOUBLE) / count(*) AS contam_frac
FROM marked GROUP BY 1
"""

def bloom_contamination_screen(docs: DataFrame) -> DataFrame:
    """The SCALE PATH for decontamination: a Bloom filter over the
    benchmark subset's n-gram set screens the training corpus's grams
    map-only, graded against the exact distinct semi-join -- the
    production recipe at 100 TB is exactly this two-stage shape (Bloom
    screen ahead of the scan, exact verify only on the flagged
    remainder), where the gated ngram_contamination is the exact
    single-stage form. Composes :func:`~.bloom.bloom_semijoin_audit`
    over the SAME gram pipeline as ngram_contamination (shared
    words/_gram_strings, md5 after the explode). Output is ONE row
    (n_probe_keys, n_candidates, n_true, n_false_pos): candidates >=
    true always (no false negatives -- the screen can only over-flag),
    and n_false_pos is the price of the 260-word broadcast filter vs
    the exact shuffle.

    GATED ROUND 9 (promoted from the staged backlog).

    Scale shape (100 TB): the gram subtree is evaluated twice -- once
    to build the bench-side filter (eval-set-vocabulary bounded;
    DISTINCT + localCheckpoint'd here so the audit's two internal
    consumers of the build side don't re-tokenize), once as the
    map-only corpus screen -- the two passes ARE the production shape
    (build the filter, then screen the scan). The filter itself is the
    bounded driver artifact bloom_semijoin_orders established
    (<= 260 BIGINT words, inlined as an array literal)."""
    from ..sources.loaders import widen_scan
    from .bloom import bloom_semijoin_audit

    g = widen_scan(docs).select(
        (F.col("doc_id") % BENCH_MOD == 0).alias("is_bench"),
        F.explode(_gram_strings(words(), NGRAM_N)).alias("gs"),
    ).select("is_bench", md5_long("gs").alias("gh"))
    bench = (
        g.where(F.col("is_bench")).select("gh").distinct().localCheckpoint()
    )
    corpus = g.where(~F.col("is_bench")).select("gh")
    return bloom_semijoin_audit(bench, corpus, "gh", "gh")


def bloom_contamination_screen_sql() -> str:
    """DuckDB twin of :func:`bloom_contamination_screen`: the
    ngram_contamination gram CTE feeding bloom_semijoin_audit_sql's
    build/probe slots (each must select one column named ``k``)."""
    from .bloom import bloom_semijoin_audit_sql

    grams = f"({_grams_sql()})"
    build_sql = f"SELECT unnest(g) AS k FROM {grams} WHERE is_bench"
    probe_sql = f"SELECT unnest(g) AS k FROM {grams} WHERE NOT is_bench"
    return bloom_semijoin_audit_sql(build_sql, probe_sql)
