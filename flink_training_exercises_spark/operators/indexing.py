"""Corpus indexing + distribution-analysis operators (round-4 breadth).

Beyond the reference surface -- operations a 100 TB training-data pipeline
runs over its corpus (task brief: text analysis as first-class components):

  * ``inverted_index``   -- token -> (document frequency, capped posting
    list): the search/retrieval index build, the batch shape of every
    dedupe-by-lookup and contamination-probe service.
  * ``doc_typicality``   -- per-document "how typical are this doc's
    bigrams of the corpus" in EXACT integers (the distribution-shift /
    outlier-scoring primitive; log-prob LMs are a float-hazard, integer
    frequency mass is hash-exact across engines).
  * ``frequent_tokens_topk`` -- grouped heavy hitters (top-k tokens per
    language): the vocabulary-audit staple, two-phase aggregation with a
    bounded top-k so no group's output is unbounded.

Shared tokenizer: the package-wide lower + ``\\s+`` split (functions/text.words)
so Spark and DuckDB agree byte-for-byte (CLAUDE.md regex note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import words, words_sql
from .textstats import _widened


INVERTED_INDEX_MAX_POSTINGS = 20


def inverted_index(docs: DataFrame, max_postings: int = INVERTED_INDEX_MAX_POSTINGS) -> DataFrame:
    """Inverted index over the corpus: one row per distinct token with its
    document frequency and the first ``max_postings`` doc ids (ascending,
    comma-joined -- strings hash identically across engines; raw arrays
    risk dtype skew in the differential compare).

    Scale shape (100 TB): explode distinct tokens per doc (per-row dedup
    BEFORE the shuffle bounds the explosion at |vocab per doc|), then ONE
    corpus scan and ONE shuffle on token: both the df count and the
    posting rank are window functions over the same token partitioning, so
    Catalyst plans a single Exchange (a two-branch agg+window form costs
    two scans -- measured, no ReusedExchange: the partial-agg child
    differs), and the final groupBy inherits that partitioning (no second
    shuffle). The posting list is bounded BEFORE collect_list by the rank
    filter: a skewed token like 'the' emits max_postings rows, never its
    full chain."""
    tokens = _widened(docs).select(
        "doc_id",
        F.explode(F.array_distinct(words())).alias("token"),
    )
    w_rank = Window.partitionBy("token").orderBy(F.asc("doc_id"))
    w_all = Window.partitionBy("token")
    ranked = tokens.select(
        "token",
        "doc_id",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("df"),
    )
    return (
        ranked.where(F.col("rn") <= max_postings)
        .groupBy("token")
        .agg(
            F.max("df").alias("df"),
            F.array_join(F.array_sort(F.collect_list("doc_id")), ",").alias("postings"),
        )
        .select("token", "df", "postings")
    )


def inverted_index_sql() -> str:
    w = words_sql()
    return f"""
WITH tokens AS (
  SELECT DISTINCT doc_id, unnest({w}) AS token FROM documents
),
ranked AS (
  SELECT token, doc_id,
         row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn,
         count(*) OVER (PARTITION BY token) AS df
  FROM tokens
)
SELECT token, CAST(max(df) AS BIGINT) AS df,
       array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
FROM ranked WHERE rn <= {INVERTED_INDEX_MAX_POSTINGS} GROUP BY token
"""


DOC_TYPICALITY_MIN_COUNT = 5


def doc_typicality(docs: DataFrame, min_count: int = DOC_TYPICALITY_MIN_COUNT) -> DataFrame:
    """Per-document corpus-typicality in exact integers: how much corpus
    bigram mass the doc's distinct bigrams carry. Output (doc_id,
    n_bigrams, n_known, freq_sum, typicality_x1000) where freq_sum is the
    sum of corpus-wide counts (>= min_count, the corpus_bigram_counts
    vocabulary) of the doc's distinct bigrams and typicality_x1000 =
    floor(1000 * freq_sum / n_bigrams) -- the outlier/quality signal an
    n-gram LM gives, without cross-engine float log hazards.

    Scale shape: the bigram-count table is built once (one shuffle,
    map-side combined, HAVING-bounded) and joined back on bigram hash --
    both sides shuffle on the same key; no driver-side state. Empty docs
    guard the division explicitly (ANSI)."""
    base = _widened(docs)
    ws = words()
    grams = F.when(
        F.size(ws) >= 2,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(ws) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(ws, i), F.element_at(ws, i + 1)
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    doc_grams = base.select("doc_id", F.explode(grams).alias("bigram"))
    counts = (
        doc_grams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
    )
    joined = doc_grams.join(counts, "bigram", "left")
    agg = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.count("cnt").alias("n_known"),
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("freq_sum"),
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        "n_known",
        "freq_sum",
        F.when(
            F.col("n_bigrams") > 0,
            F.floor(F.lit(1000) * F.col("freq_sum") / F.col("n_bigrams")),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("typicality_x1000"),
    )


def doc_typicality_sql() -> str:
    w = words_sql()
    return f"""
WITH ws AS (
  SELECT doc_id, {w} AS ws FROM documents
),
doc_grams AS (
  SELECT DISTINCT doc_id, bigram FROM (
    SELECT doc_id, unnest([ws[i] || ' ' || ws[i + 1]
                           for i in generate_series(1, greatest(len(ws) - 1, 0))]) AS bigram
    FROM ws
  )
),
counts AS (
  SELECT bigram, count(*) AS cnt FROM doc_grams
  GROUP BY 1 HAVING count(*) >= {DOC_TYPICALITY_MIN_COUNT}
),
agg AS (
  SELECT g.doc_id, count(*) AS n_bigrams, count(c.cnt) AS n_known,
         coalesce(sum(c.cnt), 0) AS freq_sum
  FROM doc_grams g LEFT JOIN counts c USING (bigram)
  GROUP BY 1
)
SELECT doc_id, n_bigrams, n_known, CAST(freq_sum AS BIGINT) AS freq_sum,
       CAST(CASE WHEN n_bigrams > 0
                 THEN floor(1e3 * freq_sum / n_bigrams) ELSE 0 END AS BIGINT)
         AS typicality_x1000
FROM agg
"""


FREQUENT_TOKENS_TOPK_K = 25


def frequent_tokens_topk(docs: DataFrame, k: int = FREQUENT_TOKENS_TOPK_K) -> DataFrame:
    """Grouped heavy hitters: the k most frequent tokens per group (total
    occurrences, ties broken by token ascending) -- the vocabulary-audit /
    stop-word-discovery staple. Output (group, token, cnt, rank).

    Scale shape: explode + groupBy(group, token) is ONE shuffle with
    map-side partial counts (the heavy-hitter skew lives in the combiner,
    not the wire); the top-k window repartitions only the aggregated
    (group, token) counts -- already |vocab|-bounded, orders of magnitude
    smaller than the corpus -- and every group emits exactly <= k rows."""
    toks = _widened(docs).select(
        F.col("lang").alias("grp"), F.explode(words()).alias("token")
    )
    counts = toks.groupBy("grp", "token").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("grp").orderBy(F.desc("cnt"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("grp", "token", "cnt", F.col("rank").cast("int").alias("rank"))
    )


def frequent_tokens_topk_sql() -> str:
    w = words_sql()
    return f"""
WITH toks AS (
  SELECT lang AS grp, unnest({w}) AS token FROM documents
),
counts AS (
  SELECT grp, token, count(*) AS cnt FROM toks GROUP BY 1, 2
)
SELECT grp, token, cnt, rank FROM (
  SELECT grp, token, cnt,
         CAST(row_number() OVER (PARTITION BY grp ORDER BY cnt DESC, token) AS INT)
           AS rank
  FROM counts
) WHERE rank <= {FREQUENT_TOKENS_TOPK_K}
"""


# Fixed retrieval benchmark queries (query_id, term_1, term_2) over the
# documents vocabulary -- literal on both engines so the plan is static.
BM25_QUERIES: list[tuple[str, str, str]] = [
    ("q1", "hash", "join"),
    ("q2", "stream", "window"),
    ("q3", "vector", "scan"),
]


BM25_TOPK_K = 10


def bm25_topk(
    docs: DataFrame, queries: list[tuple[str, str, str]] | None = None, k: int = BM25_TOPK_K
) -> DataFrame:
    """BM25 top-k retrieval -- the ranked-retrieval consumer of the
    ``inverted_index`` build (and the RAG-pipeline staple): score every
    document against each fixed two-term query, return the k best per
    query. Output (query_id, rank, doc_id, n_matched, score_x1e6).

    Determinism variant (the repo's exact-integer pattern, cf.
    doc_typicality / value_hour_correlation): the classic ln() IDF is a
    cross-engine float hazard (libm ln is not correctly rounded), so this
    uses the raw BM25 odds ratio IDF -- monotone in the same df, rational
    in exact integers:

        idf   = (2N - 2df + 1) / (2df + 1)            # == (N-df+.5)/(df+.5)
        tfn   = 22*T*tf / (10*T*tf + 3*T + 9*dl*N)    # k1=1.2, b=0.75 folded
        score = sum over the query's terms of idf * tfn

    Every operand is an exact BIGINT (N docs, T corpus tokens, tf term
    freq, dl doc length, df doc freq); the only float ops are two
    divisions, one multiply and one fixed-order two-term add -- all
    IEEE-correctly-rounded over identical operands with an identical
    expression tree, hence bit-deterministic cross-engine (the per-term
    values are pivoted to fixed positions before the add, so no
    order-dependent float aggregation exists). Ranking and output use
    floor(1e6 * score) so the compare never sees a raw float.
    BIGINT headroom: 22*T*tf tops out ~5.5e17 at a 2.5e13-token corpus
    with tf <= 1e3 -- inside int64.

    Scale shape (100 TB): the query-term filter is a literal IN over the
    exploded tokens -- pushed inside the one token scan, so only rows for
    query terms (a vanishing corpus fraction) ever shuffle; tf is one
    groupBy(doc, token) on those; df is a count window over tf (one extra
    shuffle of the tiny query-term rows -- a groupBy+join-back would
    re-evaluate the whole scan+explode subtree, since exchange reuse does
    not kick in under broadcast joins); corpus totals are a 1-row
    broadcast crossJoin (the A4 scalar pattern); the rank window
    partitions on query_id over the already-aggregated candidate set. Two
    corpus scans total (totals + tokens), no driver-side state."""
    qs = BM25_QUERIES if queries is None else queries
    terms = sorted({t for _, t1, t2 in qs for t in (t1, t2)})
    spark = docs.sparkSession
    base = _widened(docs).select(
        "doc_id", words().alias("ws")
    )
    totals = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("ws")).alias("t_tokens"),
    )
    toks = base.select(
        "doc_id", F.size("ws").alias("dl"), F.explode("ws").alias("token")
    ).where(F.col("token").isin(terms))
    tf = toks.groupBy("doc_id", "dl", "token").agg(F.count(F.lit(1)).alias("tf"))
    # df as a window over tf, NOT a groupBy + join back: a second aggregate
    # re-evaluates the whole scan+explode subtree (exchange reuse does not
    # kick in under broadcast joins) -- the window costs one extra shuffle
    # of the tiny query-term rows instead of a second corpus scan
    tfdf = tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("token")))
    qterms = spark.createDataFrame(
        [(qid, pos, t) for qid, t1, t2 in qs for pos, t in ((1, t1), (2, t2))],
        "query_id string, pos int, term string",
    )
    scored = (
        tfdf.join(F.broadcast(qterms), F.col("token") == F.col("term"))
        .crossJoin(F.broadcast(totals))
        .select(
            "query_id",
            "doc_id",
            "pos",
            (
                (
                    (2 * F.col("n_docs") - 2 * F.col("df") + 1).cast("double")
                    / (2 * F.col("df") + 1).cast("double")
                )
                * (
                    (22 * F.col("t_tokens") * F.col("tf")).cast("double")
                    / (
                        10 * F.col("t_tokens") * F.col("tf")
                        + 3 * F.col("t_tokens")
                        + 9 * F.col("dl") * F.col("n_docs")
                    ).cast("double")
                )
            ).alias("s"),
        )
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        (
            F.coalesce(F.max(F.when(F.col("pos") == 1, F.col("s"))), F.lit(0.0))
            + F.coalesce(F.max(F.when(F.col("pos") == 2, F.col("s"))), F.lit(0.0))
        ).alias("score"),
        F.count(F.lit(1)).cast("int").alias("n_matched"),
    )
    ranked = agg.select(
        "query_id",
        "doc_id",
        "n_matched",
        F.floor(F.col("score") * F.lit(1000000.0)).cast("bigint").alias("score_x1e6"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_x1e6"), F.asc("doc_id")
    )
    return (
        ranked.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "n_matched", "score_x1e6")
    )


def bm25_topk_sql() -> str:
    """DuckDB twin of :func:`bm25_topk` -- identical integer operands and
    identical float expression tree (two divisions, one multiply, one
    fixed-order add), so scores are bit-equal and floor(1e6*score) agrees."""
    terms = sorted({t for _, t1, t2 in BM25_QUERIES for t in (t1, t2)})
    in_list = ", ".join(f"'{t}'" for t in terms)
    q_vals = ", ".join(
        f"('{qid}', {pos}, '{t}')"
        for qid, t1, t2 in BM25_QUERIES
        for pos, t in ((1, t1), (2, t2))
    )
    w = words_sql()
    return f"""
WITH base AS (
  SELECT doc_id, {w} AS ws FROM documents
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(ws)) AS BIGINT) AS t_tokens
  FROM base
),
toks AS (
  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, unnest(ws) AS token FROM base
),
tf AS (
  SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE token IN ({in_list}) GROUP BY 1, 2, 3
),
dft AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
),
q AS (SELECT * FROM (VALUES {q_vals}) t(query_id, pos, term)),
scored AS (
  SELECT q.query_id, f.doc_id, q.pos,
         (CAST(2 * tot.n_docs - 2 * dft.df + 1 AS DOUBLE)
          / CAST(2 * dft.df + 1 AS DOUBLE))
         * (CAST(22 * tot.t_tokens * f.tf AS DOUBLE)
            / CAST(10 * tot.t_tokens * f.tf + 3 * tot.t_tokens
                   + 9 * f.dl * tot.n_docs AS DOUBLE)) AS s
  FROM tf f
  JOIN dft USING (token)
  JOIN q ON f.token = q.term
  CROSS JOIN tot
),
agg AS (
  SELECT query_id, doc_id,
         coalesce(max(CASE WHEN pos = 1 THEN s END), 0e0)
         + coalesce(max(CASE WHEN pos = 2 THEN s END), 0e0) AS score,
         CAST(count(*) AS INT) AS n_matched
  FROM scored GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, n_matched,
         CAST(floor(score * 1e6) AS BIGINT) AS score_x1e6
  FROM agg
)
SELECT query_id, rank, doc_id, n_matched, score_x1e6 FROM (
  SELECT query_id, doc_id, n_matched, score_x1e6,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY score_x1e6 DESC, doc_id) AS INT) AS rank
  FROM ranked
) WHERE rank <= {BM25_TOPK_K}
"""


COLLOCATION_PMI_TOPK_K = 25
COLLOCATION_PMI_TOPK_MIN_COUNT = 5


def collocation_pmi_topk(
    docs: DataFrame,
    k: int = COLLOCATION_PMI_TOPK_K,
    min_count: int = COLLOCATION_PMI_TOPK_MIN_COUNT,
) -> DataFrame:
    """Top-k collocations by pointwise mutual information -- the
    word-embedding / tokenizer-merit staple ("which adjacent pairs occur
    far more than their parts predict"): rank adjacent token pairs with
    corpus count >= ``min_count`` by the PMI odds ratio
    p(ab) / (p(a) p(b)) = (c_ab / B) / ((c_a / N) (c_b / N)).
    Output (rank, w1, w2, pair_count, pmi_x1e3).

    Determinism (the BM25 recipe): no log -- the raw ratio is monotone in
    PMI and needs only multiplications/divisions, all IEEE-correctly-
    rounded over exact BIGINT counts with an identical expression tree
    cross-engine; ranking and output use floor(1e3 * ratio), and the sort
    key is (pmi_x1e3 DESC, w1, w2) -- pure integer/string comparisons.
    The ratio is assembled scalar-by-scalar ((c_ab * N / B) * (N / c_a)
    / c_b) so no intermediate exceeds ~N in magnitude -- BIGINT-squaring
    N (2.5e13 tokens at 100 TB) would overflow int64, doubles don't.

    Scale shape (100 TB): one corpus scan exploding adjacent pairs
    (map-only) -> one groupBy(w1, w2) with map-side partial counts; the
    unigram table is a second scan + one |vocab|-row aggregate broadcast
    back twice (c_a, c_b); N and B ride the same 1-row broadcast
    crossJoin (A4 pattern). The global top-k is TakeOrdered (distributed
    heap per partition, k rows to the driver plan -- never a
    single-partition sort of the vocab-bounded pair table); the final
    row_number window runs over exactly k rows by construction."""
    base = _widened(docs).select(words().alias("ws"))
    pairs = base.select(
        F.explode(
            F.when(
                F.size("ws") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("ws"), i).alias("w1"),
                        F.element_at(F.col("ws"), i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("p")
    ).select("p.w1", "p.w2")
    pair_counts = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .where(F.col("pair_count") >= min_count)
    )
    toks = base.select(F.explode("ws").alias("w"))
    # materialize the |vocab|-bounded unigram table ONCE: it feeds TWO
    # broadcast joins (c1, c2) and exchange reuse doesn't kick in under
    # broadcast, so without this the token scan+groupBy subtree would be
    # evaluated once per broadcast build -- two extra corpus scans
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c")).localCheckpoint()
    totals = base.agg(
        F.sum(F.size("ws")).alias("n_tokens"),
        F.sum(F.greatest(F.size("ws") - 1, F.lit(0))).alias("n_bigrams"),
    )
    scored = (
        pair_counts.join(
            F.broadcast(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))),
            "w1",
        )
        .join(
            F.broadcast(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))),
            "w2",
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "pair_count",
            F.floor(
                F.lit(1000.0)
                * (
                    (
                        F.col("pair_count").cast("double")
                        * F.col("n_tokens").cast("double")
                        / F.col("n_bigrams").cast("double")
                    )
                    * (F.col("n_tokens").cast("double") / F.col("c1").cast("double"))
                    / F.col("c2").cast("double")
                )
            )
            .cast("bigint")
            .alias("pmi_x1e3"),
        )
    )
    topk = scored.orderBy(F.desc("pmi_x1e3"), F.asc("w1"), F.asc("w2")).limit(k)
    w = Window.orderBy(F.desc("pmi_x1e3"), F.asc("w1"), F.asc("w2"))
    return topk.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "w1",
        "w2",
        "pair_count",
        "pmi_x1e3",
    )


def collocation_pmi_topk_sql() -> str:
    """DuckDB twin of :func:`collocation_pmi_topk` -- identical BIGINT
    counts and an identical scalar-by-scalar double expression tree."""
    w = words_sql()
    return f"""
WITH base AS (
  SELECT {w} AS ws FROM documents
),
pairs AS (
  SELECT p.w1 AS w1, p.w2 AS w2 FROM (
    SELECT unnest([{{'w1': ws[i], 'w2': ws[i + 1]}}
                   for i in generate_series(1, greatest(len(ws) - 1, 0))]) AS p
    FROM base
  )
),
pair_counts AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_count
  FROM pairs GROUP BY 1, 2 HAVING count(*) >= {COLLOCATION_PMI_TOPK_MIN_COUNT}
),
uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(ws) AS w FROM base) GROUP BY 1
),
tot AS (
  SELECT CAST(sum(len(ws)) AS BIGINT) AS n_tokens,
         CAST(sum(greatest(len(ws) - 1, 0)) AS BIGINT) AS n_bigrams
  FROM base
),
scored AS (
  SELECT p.w1, p.w2, p.pair_count,
         CAST(floor(1e3 *
           ((CAST(p.pair_count AS DOUBLE) * CAST(tot.n_tokens AS DOUBLE)
             / CAST(tot.n_bigrams AS DOUBLE))
            * (CAST(tot.n_tokens AS DOUBLE) / CAST(u1.c AS DOUBLE))
            / CAST(u2.c AS DOUBLE))) AS BIGINT) AS pmi_x1e3
  FROM pair_counts p
  JOIN uni u1 ON p.w1 = u1.w
  JOIN uni u2 ON p.w2 = u2.w
  CROSS JOIN tot
)
SELECT CAST(row_number() OVER (ORDER BY pmi_x1e3 DESC, w1, w2) AS INT) AS rank,
       w1, w2, pair_count, pmi_x1e3
FROM scored
ORDER BY pmi_x1e3 DESC, w1, w2
LIMIT {COLLOCATION_PMI_TOPK_K}
"""
