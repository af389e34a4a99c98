"""Text analysis operators for corpus pipelines: language ID, quality
scoring, token counting, document fingerprinting.

All pure Column expressions with DuckDB SQL twins; every ratio is computed
from integer counts so the doubles are bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_long, md5_long_sql
from ..functions.text import STOP_WORDS, words, words_sql

# Tiny per-language marker lists for the n-gram/stopword-hit heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "es": ("el", "la", "los", "las", "es", "y", "que", "por"),
    "fr": ("le", "la", "les", "et", "est", "que", "pour", "dans"),
    "zh": ("de", "le", "shi", "bu", "wo", "ni", "zai", "you"),
}
_LANGS = sorted(LANG_MARKERS)  # deterministic tie order


def _widened(docs: DataFrame) -> DataFrame:
    # single-split local files would serialize the per-row HOF work onto one
    # core; no-op at cluster scale (see sources/loaders.widen_scan)
    from ..sources.loaders import widen_scan

    return widen_scan(docs)


# BPE-ish pre-tokenizer: letter runs | digit runs | single non-alnum symbol
# (the GPT-2 pattern's skeleton). Explicit char classes, NOT \s/\w: Java
# regex and RE2 disagree on \s (vertical tab) -- see CLAUDE.md.
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f]"


def token_count(docs: DataFrame) -> DataFrame:
    """Whitespace tokens, alphabetic tokens, a BPE-ish subword estimate
    (ceil(chars/4) per token -- the standard ~4-chars-per-token estimate,
    computed exactly in integers), and a real regex pre-tokenizer count
    (letter runs / digit runs / single symbols -- the GPT-2 pattern's
    skeleton, identical semantics in Java regex and RE2)."""
    docs = _widened(docs)
    w = words()
    return docs.select(
        F.col("doc_id"),
        # bigint casts: width-align with the oracle's int64 (driver
        # tolerates width skew today; one cast removes the reliance)
        F.size(w).cast("bigint").alias("n_tokens"),
        F.size(F.filter(w, lambda x: x.rlike("^[a-z]+$")))
        .cast("bigint")
        .alias("n_alpha_tokens"),
        F.aggregate(
            w,
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + F.floor((F.length(x) + 3) / F.lit(4)).cast("bigint"),
        ).alias("n_subwords_est"),
        F.regexp_count(F.col("text"), F.lit(BPE_TOKEN_RE)).cast("bigint").alias(
            "n_regex_tokens"
        ),
    )


def token_count_sql() -> str:
    w = words_sql()
    return f"""
SELECT doc_id,
       len(w) AS n_tokens,
       len([x for x in w if regexp_matches(x, '^[a-z]+$')]) AS n_alpha_tokens,
       CAST(list_sum([(length(x) + 3) // 4 for x in w]) AS BIGINT) AS n_subwords_est,
       CAST(len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS BIGINT)
         AS n_regex_tokens
FROM (SELECT doc_id, text, {w} AS w FROM documents)
"""


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality components: alpha-char ratio, stopword ratio, mean
    word length (x1000, floored -- integer-exact), plus a 0-100 composite."""
    docs = _widened(docs)
    text = F.col("text")
    w = words()
    n_chars = F.length(text)
    n_alpha = F.length(F.regexp_replace(text, "[^A-Za-z]", ""))
    stop_arr = F.array(*[F.lit(s) for s in dict.fromkeys(STOP_WORDS)])
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x)))
    n_words = F.size(w)
    sum_len = F.aggregate(w, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x))
    mean_wlen_x1000 = F.when(n_words > 0, (sum_len * 1000).cast("bigint") / n_words).otherwise(
        F.lit(0.0)
    )
    alpha_ratio = n_alpha.cast("double") / F.greatest(n_chars, F.lit(1))
    stop_ratio = n_stop.cast("double") / F.greatest(n_words, F.lit(1))
    composite = (
        F.floor(alpha_ratio * 50) + F.floor(stop_ratio * 25) + F.least(n_words, F.lit(25))
    ).cast("int")
    return docs.select(
        F.col("doc_id"),
        alpha_ratio.alias("alpha_ratio"),
        stop_ratio.alias("stopword_ratio"),
        mean_wlen_x1000.alias("mean_word_len_x1000"),
        composite.alias("quality_score"),
    )


def quality_score_sql() -> str:
    stop_list = ", ".join(f"'{s}'" for s in dict.fromkeys(STOP_WORDS))
    w = words_sql()
    return f"""
WITH base AS (
  SELECT doc_id,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         {w} AS w
  FROM documents
),
agg AS (
  SELECT doc_id, n_chars, n_alpha,
         len(w) AS n_words,
         len([x for x in w if x IN ({stop_list})]) AS n_stop,
         COALESCE(CAST(list_sum([length(x) for x in w]) AS BIGINT), 0) AS sum_len
  FROM base
)
SELECT doc_id,
       CAST(n_alpha AS DOUBLE) / greatest(n_chars, 1) AS alpha_ratio,
       CAST(n_stop AS DOUBLE) / greatest(n_words, 1) AS stopword_ratio,
       CASE WHEN n_words > 0 THEN CAST(sum_len * 1000 AS BIGINT) / n_words ELSE 0e0 END
         AS mean_word_len_x1000,
       CAST(floor(CAST(n_alpha AS DOUBLE) / greatest(n_chars, 1) * 50)
            + floor(CAST(n_stop AS DOUBLE) / greatest(n_words, 1) * 25)
            + least(n_words, 25) AS INT) AS quality_score
FROM agg
"""


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-word-hit language ID: predicted lang = argmax over per-language
    marker hit counts (deterministic alphabetical tie-break). A real pipeline
    swaps in fastText/CLD3 via mapInPandas; the heuristic IS the operator
    contract here so the oracle can replicate it."""
    docs = _widened(docs)
    w = words()

    def contains(markers):
        return lambda x: F.array_contains(markers, x)

    hit_cols = []
    for lang in _LANGS:
        markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        hit_cols.append(F.size(F.filter(w, contains(markers))).alias(f"hits_{lang}"))
    scored = docs.select(F.col("doc_id"), *hit_cols)
    mx = F.greatest(*[F.col(f"hits_{lang}") for lang in _LANGS])
    chain = None  # first lang (alphabetical) reaching the max wins
    for lang in _LANGS:
        cond = F.col(f"hits_{lang}") == mx
        chain = F.when(cond, F.lit(lang)) if chain is None else chain.when(cond, F.lit(lang))
    # bigint cast: width-align with the oracle's int64
    return scored.select(
        F.col("doc_id"), chain.alias("pred_lang"), mx.cast("bigint").alias("n_hits")
    )


def lang_id_sql() -> str:
    w = words_sql()
    hit_exprs = ", ".join(
        "len([x for x in w if x IN ({m})]) AS hits_{lang}".format(
            m=", ".join(f"'{m}'" for m in LANG_MARKERS[lang]), lang=lang
        )
        for lang in _LANGS
    )
    mx = "greatest(" + ", ".join(f"hits_{lang}" for lang in _LANGS) + ")"
    chain = (
        "CASE "
        + " ".join(f"WHEN hits_{lang} = {mx} THEN '{lang}'" for lang in _LANGS)
        + " END"
    )
    return f"""
WITH scored AS (
  SELECT doc_id, {hit_exprs}
  FROM (SELECT doc_id, {w} AS w FROM documents)
)
SELECT doc_id, {chain} AS pred_lang, {mx} AS n_hits FROM scored
"""


_REP_NS = (1, 2, 5)  # unigram / bigram / 5-gram levels of the repetition scan


def _gram_array(w: Column, n: int) -> Column:
    """Word n-grams as space-joined strings; empty array when the doc is
    shorter than n (F.sequence DESCENDS for start > stop, so the guard is
    mandatory)."""
    if n == 1:
        return w
    return F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(w, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_metrics(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): fraction of
    the doc taken by its most frequent unigram / bigram, and the fraction of
    duplicated 5-grams. High values mark boilerplate and degenerate text.

    Shape for scale: explode grams -> groupBy(doc, n, gram-hash) -- the
    canonical frequency-count shuffle, NOT a per-row O(words^2) array scan
    (a 100k-word doc would make the array form quadratic per row). Grams are
    md5-folded to bigints before the shuffle (both engines group by the same
    hash, so the negligible collision behavior is differential-safe); ratios
    are int/int divisions -- bit-identical cross-engine."""
    docs = _widened(docs)
    w = words()
    levels = [
        docs.select(
            F.col("doc_id"),
            F.lit(n).alias("n"),
            F.explode(_gram_array(w, n)).alias("gram"),
        )
        for n in _REP_NS
    ]
    grams = levels[0]
    for lvl in levels[1:]:
        grams = grams.unionAll(lvl)
    counts = (
        grams.select(F.col("doc_id"), "n", md5_long("gram").alias("gh"))
        .groupBy("doc_id", "n", "gh")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_n = counts.groupBy("doc_id", "n").agg(
        F.max("c").alias("top_c"),
        F.sum("c").alias("tot"),
        F.count(F.lit(1)).alias("nd"),
    )
    wide = per_n.groupBy("doc_id").agg(
        F.max(F.when(F.col("n") == 1, F.col("tot"))).alias("n_words"),
        F.max(F.when(F.col("n") == 1, F.col("top_c"))).alias("top1"),
        F.max(F.when(F.col("n") == 2, F.col("top_c"))).alias("top2"),
        F.max(F.when(F.col("n") == 2, F.col("tot"))).alias("n_bigrams"),
        F.max(F.when(F.col("n") == 5, F.col("tot"))).alias("n5"),
        F.max(F.when(F.col("n") == 5, F.col("nd"))).alias("nd5"),
    )
    return wide.select(
        F.col("doc_id"),
        F.col("n_words"),
        (F.col("top1").cast("double") / F.col("n_words")).alias("top_unigram_frac"),
        F.when(
            F.col("n_bigrams").isNotNull() & (F.col("n_bigrams") > 0),
            F.col("top2").cast("double") / F.col("n_bigrams"),
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
        F.when(
            F.col("n5").isNotNull() & (F.col("n5") > 0),
            (F.col("n5") - F.col("nd5")).cast("double") / F.col("n5"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_5gram_frac"),
    )


def repetition_metrics_sql() -> str:
    w = words_sql()
    gram2 = "list_transform(range(1, len(w)), i -> concat_ws(' ', w[i], w[i+1]))"
    gram5 = (
        "list_transform(range(1, len(w) - 3), "
        "i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]))"
    )
    gh = md5_long_sql("gram")
    return f"""
WITH words AS (SELECT doc_id, {w} AS w FROM documents),
grams AS (
  SELECT doc_id, 1 AS n, unnest(w) AS gram FROM words
  UNION ALL
  SELECT doc_id, 2 AS n, unnest({gram2}) AS gram FROM words
  UNION ALL
  SELECT doc_id, 5 AS n, unnest({gram5}) AS gram FROM words
),
counts AS (
  SELECT doc_id, n, {gh} AS gh, count(*) AS c FROM grams GROUP BY 1, 2, 3
),
per_n AS (
  SELECT doc_id, n, max(c) AS top_c, CAST(sum(c) AS BIGINT) AS tot,
         count(*) AS nd
  FROM counts GROUP BY 1, 2
),
wide AS (
  SELECT doc_id,
         max(CASE WHEN n = 1 THEN tot END) AS n_words,
         max(CASE WHEN n = 1 THEN top_c END) AS top1,
         max(CASE WHEN n = 2 THEN top_c END) AS top2,
         max(CASE WHEN n = 2 THEN tot END) AS n_bigrams,
         max(CASE WHEN n = 5 THEN tot END) AS n5,
         max(CASE WHEN n = 5 THEN nd END) AS nd5
  FROM per_n GROUP BY 1
)
SELECT doc_id, n_words,
       CAST(top1 AS DOUBLE) / n_words AS top_unigram_frac,
       CASE WHEN n_bigrams IS NOT NULL AND n_bigrams > 0
            THEN CAST(top2 AS DOUBLE) / n_bigrams ELSE 0e0 END AS top_bigram_frac,
       CASE WHEN n5 IS NOT NULL AND n5 > 0
            THEN CAST(n5 - nd5 AS DOUBLE) / n5 ELSE 0e0 END AS dup_5gram_frac
FROM wide
"""


def fingerprint(docs: DataFrame) -> DataFrame:
    """Deterministic 60-bit content fingerprint of whitespace-normalized
    lowercase text (md5-based -- same value in any engine)."""
    docs = _widened(docs)
    normalized = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    fp = F.conv(F.substring(F.md5(normalized), 1, 15), 16, 10).cast("bigint")
    return docs.select(F.col("doc_id"), fp.alias("fingerprint"))


def fingerprint_sql() -> str:
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return f"SELECT doc_id, {md5_long_sql(norm)} AS fingerprint FROM documents"


# ---------------------------------------------------------------------------
# BPE merge-pair counting (tokenizer induction, step 1)
# ---------------------------------------------------------------------------


BPE_PAIR_COUNTS_MIN_WEIGHT = 5


def bpe_pair_counts(docs: DataFrame, min_weight: int = BPE_PAIR_COUNTS_MIN_WEIGHT) -> DataFrame:
    """Adjacent-character-pair frequencies weighted by word frequency -- the
    statistic BPE training computes to pick each merge (the argmax pair IS
    the first merge). Output (pair, weight >= min_weight).

    Scale shape: the corpus collapses to its VOCABULARY first (one
    word-count shuffle -- vocab is millions of rows however big the corpus
    is), then pair explosion and the pair-count aggregate run over the
    vocab weighted by frequency, never over the corpus. This is the
    standard trick that makes BPE training corpus-size-independent after
    one counting pass."""
    toks = _widened(docs).select(F.explode(words()).alias("word"))
    freq = toks.groupBy("word").agg(F.count(F.lit(1)).alias("f"))
    pairs = freq.where(F.length("word") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "f",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("f").alias("weight"))
        .where(F.col("weight") >= min_weight)
    )


def bpe_pair_counts_sql() -> str:
    w = words_sql()
    return f"""
WITH words AS (
  SELECT unnest({w}) AS word FROM documents
),
freq AS (SELECT word, count(*) AS f FROM words GROUP BY word),
pairs AS (
  SELECT unnest([substr(word, i, 2) for i in generate_series(1, length(word) - 1)]) AS pair, f
  FROM freq WHERE length(word) >= 2
)
SELECT pair, CAST(sum(f) AS BIGINT) AS weight
FROM pairs GROUP BY pair HAVING sum(f) >= {BPE_PAIR_COUNTS_MIN_WEIGHT}
"""


VOCAB_OOV_RATE_VOCAB_SIZE = 1000


def vocab_oov_rate(
    docs: DataFrame, vocab_size: int = VOCAB_OOV_RATE_VOCAB_SIZE, max_oov_rate: float = 0.2
) -> DataFrame:
    """Tokenizer-coverage audit: per-document out-of-vocabulary rate
    against the corpus' own top-``vocab_size`` token vocabulary (count
    desc, token asc tiebreak), plus the keep flag a coverage filter would
    apply (``oov_rate <= max_oov_rate``). The pre-training sanity check
    that a tokenizer's vocabulary actually covers the corpus it will
    tokenize.

    Scale shape (100 TB): the vocabulary build is one map-side-combined
    token count + a bounded top-k (TakeOrdered -- per-partition partial
    top-k, driver merge of ``vocab_size`` rows); the probe side is a
    broadcast hash join on the exploded tokens with NO shuffle before the
    per-doc re-aggregation -- and because explode preserves partition
    locality, the partial aggregate collapses each doc to one row
    map-side, so the final exchange carries O(#docs) rows, not O(#tokens).
    Empty docs survive via the left join back to the corpus (n_tokens=0,
    oov_rate NULL, keep=false). Ratio = single division of exact BIGINTs
    (bit-identical across engines); no float aggregation anywhere."""
    base = _widened(docs)
    toks = base.select(F.col("doc_id"), F.explode(words()).alias("token"))
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("token"))
        .limit(vocab_size)
        .select("token", F.lit(True).alias("in_vocab"))
    )
    per = (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_oov"),
        )
    )
    rate = F.when(
        F.col("n_tokens") > 0,
        F.col("n_oov").cast("double") / F.col("n_tokens"),
    )
    return (
        base.select(F.col("doc_id"))
        .join(per, "doc_id", "left")
        .select(
            F.col("doc_id"),
            F.coalesce(F.col("n_tokens"), F.lit(0).cast("bigint")).alias("n_tokens"),
            F.coalesce(F.col("n_oov"), F.lit(0).cast("bigint")).alias("n_oov"),
            rate.alias("oov_rate"),
            F.when(rate <= F.lit(max_oov_rate), F.lit(True))
            .otherwise(F.lit(False))
            .alias("keep"),
        )
    )


def vocab_oov_rate_sql() -> str:
    w = words_sql()
    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, unnest({w}) AS token FROM documents
),
vocab AS (
  SELECT token FROM (
    SELECT token, count(*) AS c FROM toks
    GROUP BY token ORDER BY c DESC, token LIMIT {VOCAB_OOV_RATE_VOCAB_SIZE}
  )
),
per AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
  FROM toks t LEFT JOIN vocab v ON t.token = v.token
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_tokens, 0) AS n_tokens,
       COALESCE(p.n_oov, 0) AS n_oov,
       CASE WHEN p.n_tokens > 0 THEN CAST(p.n_oov AS DOUBLE) / p.n_tokens END
         AS oov_rate,
       COALESCE(
         CASE WHEN p.n_tokens > 0
              THEN CAST(p.n_oov AS DOUBLE) / p.n_tokens <= 2e-1 END,
         FALSE
       ) AS keep
FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
"""


def bpe_train_merges(docs: DataFrame, n_merges: int = 3) -> DataFrame:
    """ACTUAL BPE merge training (Sennrich et al. 2016), ``n_merges``
    rounds: start from character symbols over the alpha-word vocabulary,
    each round pick the max-weight adjacent symbol pair (weight desc,
    pair asc tiebreak) and merge it corpus-wide, greedily left-to-right.
    Output: one row per learned merge (merge_rank, left_sym, right_sym,
    merged, weight). ``bpe_pair_counts`` is round 1's statistic; this is
    the induction loop tokenizer training actually runs.

    Representation: symbol sequences live in a DOUBLE-delimited string
    (``||a||b||c||``) so each round's merge is ONE literal
    ``replace(sym, '|a||b|', '|ab|')`` -- boundary-safe (symbols are
    alpha-only, delimiters can't occur inside them; the single-pipe
    pattern edges anchor on the inner pipe of each double delimiter, so a
    symbol can never match as a prefix/suffix of a longer one) and
    greedy-left-to-right non-overlapping by the semantics of ``replace``
    on BOTH engines -- exactly BPE's merge order within a word.

    Scale shape (100 TB): the corpus collapses to its vocabulary once
    (the bpe_pair_counts trick -- training cost is vocab-bounded,
    corpus-size-independent after one counting pass); each round is one
    map-only merge over the vocab + one pair-count shuffle + a driver
    collect of exactly ONE argmax row (the trained artifact, same policy
    as the IVF quantizer's bounded training collect). State lineage is
    cut per round with localCheckpoint."""
    merges, _ = _bpe_train(docs, n_merges)
    return docs.sparkSession.createDataFrame(
        merges,
        "merge_rank BIGINT, left_sym STRING, right_sym STRING, "
        "merged STRING, weight BIGINT",
    )


def _bpe_train(docs: DataFrame, n_merges: int) -> tuple[list[tuple], DataFrame]:
    """The BPE induction loop over ``text`` shared by trainer and encoder:
    returns the learned merges AND the final vocabulary state -- (sym, f)
    rows, one per distinct alpha word, sym the fully-merged double-delimited
    symbol sequence, localCheckpoint'd (vocabulary-bounded).

    The final state is exactly the encode replay's result over the same
    vocabulary: state_0 is the char split of every distinct word and each
    round applies the SAME boundary-safe literal replace the encoder
    replays in rank order, so handing it to :func:`bpe_encode` deletes the
    encoder's second corpus explode + distinct (the vocab rebuild) and its
    n_merges replay projections (r14 optimization, guide §2.4: the vocab
    frame was computed twice -- once by the trainer, once by the encoder)."""
    toks = _widened(docs).select(F.explode(words()).alias("word"))
    toks = toks.where(F.col("word").rlike("^[a-z]+$"))
    freq = toks.groupBy("word").agg(F.count(F.lit(1)).alias("f"))
    state = freq.select(
        F.concat(
            F.lit("|"), F.regexp_replace("word", "(.)", "|$1|"), F.lit("|")
        ).alias("sym"),
        "f",
    ).localCheckpoint()

    merges = []
    for rank in range(1, n_merges + 1):
        syms = F.filter(F.split("sym", "[|]"), lambda x: x != "")
        pairs = state.select(syms.alias("s"), "f").where(F.size("s") >= 2).select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("s") - 1),
                    lambda i: F.struct(
                        F.element_at("s", i).alias("a"),
                        F.element_at("s", i + 1).alias("b"),
                    ),
                )
            ).alias("p"),
            "f",
        )
        best_rows = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("f").alias("weight"))
            .orderBy(F.desc("weight"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not best_rows:
            break
        a, b, weight = best_rows[0]["a"], best_rows[0]["b"], best_rows[0]["weight"]
        merges.append((rank, a, b, a + b, int(weight)))
        state = state.select(
            F.expr(
                f"replace(sym, '|{a}||{b}|', '|{a}{b}|')"
            ).alias("sym"),
            "f",
        ).localCheckpoint()
    return merges, state


def bpe_encode(docs: DataFrame, n_merges: int = 3) -> DataFrame:
    """Tokenizer APPLICATION -- encode the corpus with the merges learned
    by :func:`bpe_train_merges`: per document, every alpha word is split
    to character symbols and the learned merges are replayed in rank
    order (the same boundary-safe double-delimited literal replace the
    trainer uses), then token counts are aggregated per doc. Output
    (id, n_words, n_chars, n_tokens) -- all exact BIGINTs, so the gate
    is hash-exact; n_chars = pre-merge symbol count, n_tokens = post-
    merge, the corpus-level compression the tokenizer actually buys.

    Scale shape (100 TB): encoding work is VOCAB-bounded, not
    corpus-bounded -- the distinct alpha words arrive ALREADY encoded as
    the trainer's final state (r14 optimization, guide §2.4: the encoder
    used to re-explode the corpus, re-distinct the vocabulary and replay
    the merges the trainer had just applied to the identical vocabulary
    -- one full corpus pass + a vocab shuffle + n_merges projections,
    all duplicated work; stripping the delimiters off the trainer's
    final sym reconstructs each word exactly, since merges only remove
    inner delimiters). The per-word token counts broadcast back onto
    the (doc, word) stream, which then collapses map-side to one row
    per doc."""
    per = _bpe_encode_counts(docs, n_merges)
    return (
        _widened(docs)
        .select(F.col("doc_id"))
        .join(per, "doc_id", "left")
        .select(
            F.col("doc_id"),
            F.coalesce(F.col("n_words"), F.lit(0).cast("bigint")).alias("n_words"),
            F.coalesce(F.col("n_chars").cast("bigint"), F.lit(0).cast("bigint")).alias(
                "n_chars"
            ),
            F.coalesce(F.col("n_tokens"), F.lit(0).cast("bigint")).alias("n_tokens"),
        )
    )


def _bpe_encode_counts(docs: DataFrame, n_merges: int) -> DataFrame:
    """Per-doc encode counts (doc_id, n_words, n_chars, n_tokens) for docs
    with at least one alpha word (docs without one have NO row here --
    consumers re-attach them: bpe_encode left-joins its id frame,
    tokenizer_fertility left-joins its segment frame and coalesces, saving a
    corpus scan)."""
    _, state = _bpe_train(docs, n_merges)
    base = _widened(docs)
    toks = base.select(F.col("doc_id"), F.explode(words()).alias("word"))
    alpha = toks.where(F.col("word").rlike("^[a-z]+$"))
    word_tokens = state.select(
        F.replace(F.col("sym"), F.lit("|"), F.lit("")).alias("word"),
        F.size(F.filter(F.split("sym", "[|]"), lambda x: x != "")).cast(
            "bigint"
        ).alias("n_sym"),
    )
    return (
        alpha.join(F.broadcast(word_tokens), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("word")).alias("n_chars"),
            F.sum("n_sym").alias("n_tokens"),
        )
    )


def bpe_encode_sql(n_merges: int = 3) -> str:
    """DuckDB twin of :func:`bpe_encode`: the trainer's unrolled CTE chain
    (shared with bpe_train_merges_sql) replayed over the distinct word
    vocabulary via scalar-subquery literal replaces."""
    w = words_sql()
    train = bpe_train_merges_sql(n_merges=n_merges)
    parts = [
        f"WITH merges AS MATERIALIZED ({train})",
        f"""toksd AS MATERIALIZED (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest({w}) AS word FROM documents
  ) WHERE regexp_matches(word, '^[a-z]+$')
)""",
        "enc0 AS (SELECT word, '|' || regexp_replace(word, '(.)', '|\\1|', 'g')"
        " || '|' AS sym FROM (SELECT DISTINCT word FROM toksd))",
    ]
    for r in range(1, n_merges + 1):
        # COALESCE('0') guards ranks the trainer never learned (corpus with
        # < n_merges mergeable pairs): the pattern/replacement collapse to
        # '0', and replace(sym, '0', '0') is identity -- matching the Spark
        # side's early loop exit. Unguarded, the NULL scalar subquery would
        # NULL the whole sym column and zero every n_tokens.
        parts.append(
            f"enc{r} AS (SELECT word, replace(sym, "
            f"COALESCE('|' || (SELECT left_sym FROM merges WHERE merge_rank = {r}) || '||' || "
            f"(SELECT right_sym FROM merges WHERE merge_rank = {r}) || '|', '0'), "
            f"COALESCE('|' || (SELECT merged FROM merges WHERE merge_rank = {r}) || '|', '0')) AS sym "
            f"FROM enc{r - 1})"
        )
    parts.append(
        "wt AS (SELECT word, CAST(len([x for x in string_split(sym, '|') "
        f"if x != '']) AS BIGINT) AS n_sym FROM enc{n_merges})"
    )
    parts.append(
        """per AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(length(t.word)) AS BIGINT) AS n_chars,
         CAST(sum(wt.n_sym) AS BIGINT) AS n_tokens
  FROM toksd t JOIN wt ON t.word = wt.word
  GROUP BY t.doc_id
)"""
    )
    return (
        ",\n".join(parts)
        + """
SELECT d.doc_id,
       COALESCE(p.n_words, 0) AS n_words,
       COALESCE(p.n_chars, 0) AS n_chars,
       COALESCE(p.n_tokens, 0) AS n_tokens
FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
"""
    )


def bpe_train_merges_sql(n_merges: int = 3) -> str:
    """DuckDB twin of :func:`bpe_train_merges`: the full induction loop
    unrolled as CTE rounds, the argmax pair threaded through scalar
    subqueries into each round's literal replace."""
    w = words_sql()
    parts = [
        f"""WITH words AS (
  SELECT unnest({w}) AS word FROM documents
)""",
        "alphaw AS (SELECT word FROM words WHERE regexp_matches(word, '^[a-z]+$'))",
        "freq AS (SELECT word, count(*) AS f FROM alphaw GROUP BY word)",
        "s0 AS MATERIALIZED (SELECT '|' || regexp_replace(word, '(.)', '|\\1|', 'g')"
        " || '|' AS sym, f FROM freq)",
    ]
    for r in range(1, n_merges + 1):
        prev = f"s{r - 1}"
        parts.append(
            f"""p{r} AS (
  SELECT split_part(pr, ' ', 1) AS a, split_part(pr, ' ', 2) AS b, f FROM (
    SELECT unnest([syms[i] || ' ' || syms[i + 1]
                   for i in generate_series(1, len(syms) - 1)]) AS pr, f
    FROM (SELECT [x for x in string_split(sym, '|') if x != ''] AS syms, f
          FROM {prev})
    WHERE len(syms) >= 2
  )
)"""
        )
        parts.append(
            f"b{r} AS MATERIALIZED (SELECT a, b, CAST(sum(f) AS BIGINT) AS weight "
            f"FROM p{r} GROUP BY a, b ORDER BY weight DESC, a, b LIMIT 1)"
        )
        if r < n_merges:
            parts.append(
                f"s{r} AS MATERIALIZED (SELECT replace(sym, "
                f"'|' || (SELECT a FROM b{r}) || '||' || (SELECT b FROM b{r}) || '|', "
                f"'|' || (SELECT a FROM b{r}) || (SELECT b FROM b{r}) || '|') AS sym, f "
                f"FROM s{r - 1})"
            )
    selects = [
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, a AS left_sym, b AS right_sym, "
        f"a || b AS merged, weight FROM b{r}"
        for r in range(1, n_merges + 1)
    ]
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


# ---------------------------------------------------------------------------
# Gopher quality-filter flags (Rae et al. 2021, Table A1 heuristics)
# ---------------------------------------------------------------------------

# The canonical Gopher "must contain >= 2 of these" stopword list.
GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(docs: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Gopher-rule document quality flags (Rae et al. 2021 §A1.1): word-count
    bounds, mean-word-length bounds, alphabetic-word fraction, and stopword
    presence, plus the combined pass flag. The batch form of the reference's
    per-record filter stage (RideCleansing.java:68-76 is the same shape over
    rides) applied to LLM corpus curation.

    Determinism: every threshold is an integer cross-multiplication
    (``3*n_words <= sum_chars`` instead of ``sum_chars/n_words >= 3``) so no
    float division exists on either engine; flags ship as INT 0/1.

    Scale shape (100 TB): map-only -- one projection over the corpus scan,
    no shuffle, no UDF; every expression is codegen'd (split/filter/aggregate
    HOFs + comparisons). Composes with curation_pipeline as a pushed-down
    predicate."""
    docs = _widened(docs)
    w = words()
    n_words = F.size(w).cast("bigint")
    sum_len = F.aggregate(w, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x))
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOP_WORDS])
    n_stop = F.size(F.filter(stop_arr, lambda s: F.array_contains(w, s))).cast("int")
    n_alpha = F.size(F.filter(w, lambda x: x.rlike("^[a-z]+$"))).cast("int")
    f_wc = (n_words >= 50) & (n_words <= 100000)
    f_mwl = (n_words > 0) & (sum_len >= 3 * n_words) & (sum_len <= 10 * n_words)
    f_alpha = (n_words > 0) & (n_alpha.cast("bigint") * 10 >= n_words * 8)
    f_stop = n_stop >= 2
    as_int = lambda c: F.when(c, F.lit(1)).otherwise(F.lit(0)).cast("int")
    return docs.select(
        F.col("doc_id"),
        n_words.alias("n_words"),
        sum_len.alias("sum_word_chars"),
        n_stop.alias("n_stop_distinct"),
        n_alpha.alias("n_alpha_words"),
        as_int(f_wc).alias("flag_word_count"),
        as_int(f_mwl).alias("flag_mean_word_len"),
        as_int(f_alpha).alias("flag_alpha_frac"),
        as_int(f_stop).alias("flag_stopwords"),
        as_int(f_wc & f_mwl & f_alpha & f_stop).alias("passes_gopher"),
        # extra_cols passthrough (the shuffle_shard extra_cols rule):
        # composed consumers keep their columns here instead of joining
        # back on id, which would re-evaluate this map-only battery on
        # both sides of a corpus-wide join.
        *[F.col(c) for c in extra_cols],
    )


def gopher_quality_flags_sql() -> str:
    stop_list = ", ".join(f"'{s}'" for s in GOPHER_STOP_WORDS)
    w = words_sql()
    return f"""
WITH base AS (
  SELECT doc_id, {w} AS w FROM documents
),
agg AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_words,
         COALESCE(CAST(list_sum([length(x) for x in w]) AS BIGINT), 0) AS sum_word_chars,
         CAST(len([s for s in [{stop_list}] IF list_contains(w, s)]) AS INT) AS n_stop_distinct,
         CAST(len([x for x in w IF regexp_matches(x, '^[a-z]+$')]) AS INT) AS n_alpha_words
  FROM base
)
SELECT doc_id, n_words, sum_word_chars, n_stop_distinct, n_alpha_words,
       CAST(CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END AS INT)
         AS flag_word_count,
       CAST(CASE WHEN n_words > 0 AND sum_word_chars >= 3 * n_words
                  AND sum_word_chars <= 10 * n_words THEN 1 ELSE 0 END AS INT)
         AS flag_mean_word_len,
       CAST(CASE WHEN n_words > 0 AND CAST(n_alpha_words AS BIGINT) * 10 >= n_words * 8
            THEN 1 ELSE 0 END AS INT) AS flag_alpha_frac,
       CAST(CASE WHEN n_stop_distinct >= 2 THEN 1 ELSE 0 END AS INT) AS flag_stopwords,
       CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
                  AND n_words > 0 AND sum_word_chars >= 3 * n_words
                  AND sum_word_chars <= 10 * n_words
                  AND CAST(n_alpha_words AS BIGINT) * 10 >= n_words * 8
                  AND n_stop_distinct >= 2 THEN 1 ELSE 0 END AS INT) AS passes_gopher
FROM agg
"""


# ---------------------------------------------------------------------------
# Sliding-window chunking (pretraining / RAG sequence prep)
# ---------------------------------------------------------------------------

CHUNK_WORDS = 32  # chunk width, in tokens
CHUNK_STRIDE = 24  # stride between chunk starts (8-token overlap)


def chunk_sliding_windows(
    docs: DataFrame, width: int = CHUNK_WORDS, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Cut each document into overlapping fixed-width token windows (the
    chunking step of context-window packing and RAG indexing): chunk ``k``
    covers tokens ``[k*stride + 1, k*stride + width]``; the final chunk is
    the (possibly shorter) tail, so every token lands in >= 1 chunk.

    Output: one row per chunk with its 1-based start token, token count,
    and an md5-folded content hash (the join key chunk-level dedup or an
    embedding index would use downstream).

    Scale shape (100 TB): map-only -- per-row array expressions plus one
    pipelined explode; no shuffle at all (chunk rows inherit the scan's
    partitioning). The explode factor is ~n_tokens/stride, bounded by each
    doc's own length, never corpus-global state."""
    if not (0 < stride <= width):
        raise ValueError(
            "chunk stride must satisfy 0 < stride <= width, or tokens "
            "between consecutive windows would be silently dropped"
        )
    docs = _widened(docs)
    w = words()
    n = F.size(w)
    n_chunks = F.when(n <= width, F.lit(1)).otherwise(
        F.floor((n - F.lit(width) + F.lit(stride - 1)) / F.lit(stride)).cast("int")
        + F.lit(1)
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - F.lit(1)),
        lambda k: F.struct(
            k.cast("int").alias("chunk_idx"),
            (k * stride + 1).cast("int").alias("start_token"),
            F.size(F.slice(w, k * stride + 1, width)).cast("int").alias("n_tokens"),
            F.concat_ws(" ", F.slice(w, k * stride + 1, width)).alias("chunk"),
        ),
    )
    from ..functions.hashing import md5_long

    return (
        docs.where(n > 0)
        .select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.start_token").alias("start_token"),
            F.col("c.n_tokens").alias("n_tokens"),
            md5_long(F.col("c.chunk")).alias("chunk_hash"),
        )
    )


def chunk_sliding_windows_sql(width: int = CHUNK_WORDS, stride: int = CHUNK_STRIDE) -> str:
    from ..functions.hashing import md5_long_sql

    if not (0 < stride <= width):
        raise ValueError(
            "chunk stride must satisfy 0 < stride <= width, or tokens "
            "between consecutive windows would be silently dropped"
        )
    w = words_sql()
    return f"""
WITH w AS (
  SELECT doc_id, {w} AS ws FROM documents
), n AS (
  SELECT doc_id, ws, len(ws) AS nw,
         CASE WHEN len(ws) <= {width} THEN 1
              ELSE (len(ws) - {width} + {stride - 1}) // {stride} + 1 END AS n_chunks
  FROM w WHERE len(ws) > 0
), chunk AS (
  SELECT doc_id, c.chunk_idx AS chunk_idx, c.start_token AS start_token,
         c.n_tokens AS n_tokens, {md5_long_sql('c.chunk')} AS chunk_hash
  FROM (
    SELECT doc_id,
           unnest([struct_pack(
                     chunk_idx := CAST(k AS INT),
                     start_token := CAST(k * {stride} + 1 AS INT),
                     n_tokens := CAST(len(list_slice(ws, k * {stride} + 1,
                                                     k * {stride} + {width})) AS INT),
                     chunk := array_to_string(list_slice(ws, k * {stride} + 1,
                                                         k * {stride} + {width}), ' '))
                   for k in generate_series(0, n_chunks - 1)]) AS c
    FROM n
  )
)
SELECT doc_id, chunk_idx, start_token, n_tokens, chunk_hash FROM chunk
"""


def source_scorecard(docs: DataFrame) -> DataFrame:
    """Per-source ingestion scorecard -- the dashboard row a curation
    pipeline publishes per upstream feed, composing the existing
    primitives: exact-dup redundancy (docs minus distinct md5 texts),
    Gopher quality pass rate, dominant language (count desc, lang asc
    tie-break), and mean length. One row per source:
    (source, n_docs, n_distinct_texts, dup_ppm, n_pass_gopher,
    gopher_pass_ppm, top_lang, mean_chars_x100) -- every rate an exact
    integer (ppm via BIGINT cross-multiplied integer division), so the
    row set is hash-exact across engines.

    Gated since round 10 (catalog name source_scorecard).

    Scale shape (100 TB): the per-doc frame is one map-only projection
    (the Gopher battery + an md5) joined on id; the scorecard is one
    hash groupBy on source with map-side combine plus a
    vocabulary-bounded (sources x langs) mode table broadcast back.
    Output cardinality = |sources|."""
    from ..functions.hashing import md5_long

    # One corpus pass: the Gopher battery keeps the scorecard's columns
    # via extra_cols (the shuffle_shard passthrough rule) instead of a
    # join-back on id, which would shuffle corpus-vs-corpus and evaluate
    # the per-doc battery on both sides.
    per_doc = gopher_quality_flags(docs, extra_cols=("source", "lang", "n_chars", "text")).select(
        F.col("doc_id"),
        "source",
        "lang",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        md5_long(F.col("text")).alias("th"),
        F.col("passes_gopher"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("th").alias("n_distinct_texts"),
        F.sum("passes_gopher").cast("bigint").alias("n_pass_gopher"),
        F.sum("n_chars").alias("schars"),
    )
    # The mode table needs only (source, lang): build it from the raw
    # docs scan, not per_doc -- the flags join is 1:1 (every doc gets a
    # flag row, map-only) so the cardinality is identical, but Catalyst
    # cannot prune an inner join, and routing through per_doc would
    # evaluate the md5 + Gopher-battery subtree a second time (the
    # multi-consumer rule). This branch prunes to a two-column scan.
    lc = (
        docs.select("source", "lang")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("lang"))
    top = (
        lc.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    return agg.join(F.broadcast(top), "source").select(
        "source",
        "n_docs",
        "n_distinct_texts",
        F.expr("(1000000 * (n_docs - n_distinct_texts)) DIV n_docs").alias(
            "dup_ppm"
        ),
        "n_pass_gopher",
        F.expr("(1000000 * n_pass_gopher) DIV n_docs").alias("gopher_pass_ppm"),
        "top_lang",
        F.expr("(100 * schars) DIV n_docs").alias("mean_chars_x100"),
    )


def source_scorecard_sql() -> str:
    """DuckDB twin of :func:`source_scorecard` (gopher flags CTE-composed;
    `//` = Spark's DIV on these nonnegative counts)."""
    from ..functions.hashing import md5_long_sql

    gopher = gopher_quality_flags_sql()
    th = md5_long_sql("text")
    return f"""
WITH gf AS ({gopher}),
per_doc AS (
  SELECT d.doc_id, d.source, d.lang,
         CAST(d.n_chars AS BIGINT) AS n_chars, {th} AS th,
         gf.passes_gopher
  FROM documents d JOIN gf USING (doc_id)
),
agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT th) AS BIGINT) AS n_distinct_texts,
         CAST(sum(passes_gopher) AS BIGINT) AS n_pass_gopher,
         CAST(sum(n_chars) AS BIGINT) AS schars
  FROM per_doc GROUP BY 1
),
top AS (
  SELECT source, lang AS top_lang FROM (
    SELECT source, lang,
           row_number() OVER (PARTITION BY source
                              ORDER BY count(*) DESC, lang) AS rk
    FROM per_doc GROUP BY source, lang
  ) WHERE rk = 1
)
SELECT a.source, n_docs, n_distinct_texts,
       (1000000 * (n_docs - n_distinct_texts)) // n_docs AS dup_ppm,
       n_pass_gopher,
       (1000000 * n_pass_gopher) // n_docs AS gopher_pass_ppm,
       top_lang,
       (100 * schars) // n_docs AS mean_chars_x100
FROM agg a JOIN top USING (source)
"""

HEAPS_VOCAB_GROWTH_N_CHECKPOINTS = 10


def heaps_vocab_growth(
    docs: DataFrame, n_checkpoints: int = HEAPS_VOCAB_GROWTH_N_CHECKPOINTS
) -> DataFrame:
    """Heaps'-law vocabulary growth curve: cumulative corpus size vs
    cumulative distinct-vocabulary size at ``n_checkpoints`` evenly-spaced
    doc-id checkpoints -- the standard corpus-scaling diagnostic (V =
    K * N^beta): a corpus whose vocabulary stops growing is saturating
    (duplication, templated text); one growing too fast is noisy (OCR
    garbage, unsegmented scripts). Output (checkpoint, docs_cum,
    tokens_cum, vocab_cum), all BIGINT; the curve itself is the output --
    fitting beta is a 10-point driver-side afterthought, deliberately NOT
    folded in (ln/pow are not correctly rounded cross-engine).

    Determinism: corpus order = doc_id order; checkpoint q covers doc_ids
    <= q/n of max(doc_id). A token's first appearance is min(doc_id)
    containing it -- an order-free aggregate, no global row_number.
    Checkpoint assignment is the integer ceil q = (n*id + max - 1) DIV
    max with max floored at 1 (an all-id-0 corpus would divide by zero
    under ANSI), clamped to >= 1 for id 0.

    Scale shape (100 TB): one explode + groupBy(token) shuffle for
    first-appearances (vocabulary-sized output), one map-side per-doc
    token count + groupBy(checkpoint) (n_checkpoints rows); cumulative
    sums run on the n_checkpoints-row frame (bounded single-partition
    window); max(doc_id) is a 1-row broadcast. No global sort, no global
    row numbering -- the checkpoint grid replaces both."""
    from pyspark.sql import Window

    d = _widened(docs).select(F.col("doc_id").alias("id"), words().alias("ws"))
    # 1-row frame consumed by the broadcast under BOTH with_q consumers
    # (per_doc + firsts) -- broadcast builds re-evaluate the subtree per
    # consumer (r2 rule), so without the checkpoint the max(id) corpus
    # aggregate re-runs twice more; localCheckpoint once (1 row)
    mx = d.agg(F.max("id").alias("max_id")).localCheckpoint()
    with_q = d.crossJoin(F.broadcast(mx)).select(
        "id",
        "ws",
        # greatest(max_id, 1): a corpus whose only doc_id is 0 would make
        # the checkpoint ceil divide by zero under ANSI (hypothesis-found)
        F.greatest(
            F.expr(
                f"({n_checkpoints} * id + greatest(max_id, 1) - 1) "
                "DIV greatest(max_id, 1)"
            ),
            F.lit(1),
        )
        .cast("bigint")
        .alias("q"),
    )
    per_doc = with_q.groupBy("q").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs"),
        F.sum(F.size("ws")).cast("bigint").alias("toks"),
    )
    firsts = (
        with_q.select("q", F.explode(F.array_distinct("ws")).alias("w"))
        .groupBy("w")
        .agg(F.min("q").alias("q"))
        .groupBy("q")
        .agg(F.count(F.lit(1)).cast("bigint").alias("new_vocab"))
    )
    grid = (
        with_q.sparkSession.range(1, n_checkpoints + 1)
        .select(F.col("id").alias("q"))
        .join(per_doc, "q", "left")
        .join(firsts, "q", "left")
    )
    # bounded single-partition window: n_checkpoints rows
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    return grid.select(
        F.col("q").alias("checkpoint"),
        F.sum(F.coalesce("docs", F.lit(0))).over(w).alias("docs_cum"),
        F.sum(F.coalesce("toks", F.lit(0))).over(w).alias("tokens_cum"),
        F.sum(F.coalesce("new_vocab", F.lit(0))).over(w).alias("vocab_cum"),
    )


def heaps_vocab_growth_sql() -> str:
    """DuckDB twin of :func:`heaps_vocab_growth`: same checkpoint ceil,
    same min-first-appearance aggregate, same zero-filled cumulative grid
    (`//` = integer division; range() is the literal checkpoint grid)."""
    return f"""
WITH d AS (
  SELECT doc_id AS id, {words_sql()} AS ws FROM documents
),
mx AS (SELECT max(id) AS max_id FROM d),
wq AS (
  SELECT id, ws,
         greatest(({HEAPS_VOCAB_GROWTH_N_CHECKPOINTS} * id + greatest(max_id, 1) - 1) // greatest(max_id, 1), 1) AS q
  FROM d, mx
),
per_doc AS (
  SELECT q, CAST(count(*) AS BIGINT) AS docs, CAST(sum(len(ws)) AS BIGINT) AS toks
  FROM wq GROUP BY 1
),
firsts AS (
  SELECT q, CAST(count(*) AS BIGINT) AS new_vocab FROM (
    SELECT w, min(q) AS q FROM (
      SELECT unnest(list_distinct(ws)) AS w, q FROM wq
    ) GROUP BY 1
  ) GROUP BY 1
),
grid AS (SELECT CAST(range AS BIGINT) AS q FROM range(1, {HEAPS_VOCAB_GROWTH_N_CHECKPOINTS + 1}))
SELECT q AS checkpoint,
       CAST(sum(COALESCE(docs, 0)) OVER win AS BIGINT) AS docs_cum,
       CAST(sum(COALESCE(toks, 0)) OVER win AS BIGINT) AS tokens_cum,
       CAST(sum(COALESCE(new_vocab, 0)) OVER win AS BIGINT) AS vocab_cum
FROM grid LEFT JOIN per_doc USING (q) LEFT JOIN firsts USING (q)
WINDOW win AS (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""

RAKE_KEYWORDS_N_STOP = 5
RAKE_KEYWORDS_K = 20


def rake_keywords(
    docs: DataFrame, n_stop: int = RAKE_KEYWORDS_N_STOP, k: int = RAKE_KEYWORDS_K
) -> DataFrame:
    """RAKE keyword extraction (Rose et al.) with corpus-derived
    statistical stopwords: candidate phrases are the maximal token runs
    between delimiter words, each word scores deg(w)/freq(w) over the
    candidate space (deg = summed length of phrases containing it --
    rewards words that travel in long collocations), and a phrase scores
    the sum of its members' scores. Output = the corpus's top ``k``
    keyphrases: (rank, phrase, n_words, score_ppm).

    Delimiters: classic RAKE uses an English stopword list; this corpus
    (like any specialized corpus) would make that degenerate (no hits ->
    every document one giant phrase), so the delimiter set is the
    corpus's own ``n_stop`` most frequent tokens (ties by token ASC) --
    the statistical-stopword variant from the original paper's
    discussion, self-contained and deterministic on any corpus.

    Determinism: deg and freq are exact integer sums; a word's score is
    floor(1e6 * deg / freq) ppm, a phrase's the integer sum over member
    OCCURRENCES (a repeated word counts twice, per the paper); the final
    rank's total order is (score DESC, phrase ASC). Phrase assembly is
    the sort_array(collect_list(struct)) / string_agg ORDER BY pair
    (session_path_topk precedent).

    Scale shape (100 TB): one explode + vocabulary-sized freq groupBy
    (the stopword cut is a distributed TakeOrdered over the vocabulary
    -- orderBy().limit(n_stop), no single-partition window); phrase ids
    are a per-DOC running sum (parallel across
    docs); deg/freq are w-keyed WINDOW aggregates over the candidate
    frame (the bm25 df-as-window rule -- a groupBy + join-back would
    consume the explode + window chain twice); the global top-k is
    orderBy().limit(k) -- Spark's distributed TakeOrdered, per-partition
    heaps + a k-row merge, never a single-partition sort of all
    phrases -- with ranks assigned on the k-row result."""
    from pyspark.sql import Window

    d = _widened(docs).select(F.col("doc_id").alias("id"), words().alias("ws"))
    toks = d.select("id", F.posexplode("ws").alias("pos", "w"))
    freq_all = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    # stopword cut as a distributed TakeOrdered (orderBy().limit --
    # per-partition heaps + an n_stop-row merge), NOT a row_number over
    # an unpartitioned window: the window form moved the whole
    # vocabulary to one partition for a top-5 cut (the
    # vocab_drift_halves precedent; same (c DESC, w ASC) total order,
    # so the selected set is identical)
    stops = (
        freq_all.orderBy(F.desc("c"), F.asc("w"))
        .limit(n_stop)
        .select("w", F.lit(True).alias("is_stop"))
    )
    marked = toks.join(F.broadcast(stops), "w", "left").select(
        "id",
        "pos",
        "w",
        F.coalesce("is_stop", F.lit(False)).alias("is_stop"),
    )
    wgrp = Window.partitionBy("id").orderBy("pos")
    cand = (
        marked.select(
            "id",
            "pos",
            "w",
            F.sum(F.col("is_stop").cast("int")).over(wgrp).alias("grp"),
            "is_stop",
        )
        .where(~F.col("is_stop"))
        .drop("is_stop")
    )
    wph = Window.partitionBy("id", "grp")
    with_len = cand.select("id", "grp", "pos", "w", F.count(F.lit(1)).over(wph).alias("n"))
    # deg/freq as window aggregates over the SAME candidate frame (the
    # bm25 df-as-window rule): the groupBy(w) + join-back form consumed
    # with_len TWICE, re-running the explode + stopword join + per-doc
    # window chain once per consumer; the w-keyed window pays the same
    # shuffle the groupBy did, in ONE lineage
    ww = Window.partitionBy("w")
    scored = with_len.select(
        "id",
        "grp",
        "pos",
        "w",
        "n",
        F.sum("n").over(ww).alias("_deg"),
        F.count(F.lit(1)).over(ww).alias("_freq"),
    ).selectExpr(
        "id", "grp", "pos", "w", "n", "(1000000 * _deg) DIV _freq AS ws_ppm"
    )
    phrases = (
        scored.groupBy("id", "grp")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
            F.sum("ws_ppm").alias("score_ppm"),
            F.max("n").cast("bigint").alias("n_words"),
        )
        .groupBy("phrase")
        .agg(
            F.max("score_ppm").cast("bigint").alias("score_ppm"),
            F.max("n_words").alias("n_words"),
        )
    )
    topk = phrases.orderBy(F.desc("score_ppm"), F.asc("phrase")).limit(k)
    rk = Window.orderBy(F.desc("score_ppm"), F.asc("phrase"))
    return topk.select(
        F.row_number().over(rk).cast("bigint").alias("rank"),
        "phrase",
        "n_words",
        "score_ppm",
    )


def rake_keywords_sql() -> str:
    """DuckDB twin of :func:`rake_keywords`: same statistical stopwords,
    same integer scoring, string_agg ORDER BY phrase assembly."""
    return f"""
WITH d AS (
  SELECT doc_id AS id, {words_sql()} AS ws FROM documents
),
toks AS (
  SELECT id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w FROM d
),
freq_all AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
stops AS (
  SELECT w FROM (
    SELECT w, row_number() OVER (ORDER BY c DESC, w) AS r FROM freq_all
  ) WHERE r <= {RAKE_KEYWORDS_N_STOP}
),
marked AS (
  SELECT id, pos, w, (w IN (SELECT w FROM stops)) AS is_stop FROM toks
),
cand AS (
  SELECT id, pos, w, grp FROM (
    SELECT id, pos, w, is_stop,
           sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
             OVER (PARTITION BY id ORDER BY pos) AS grp
    FROM marked
  ) WHERE NOT is_stop
),
with_len AS (
  SELECT id, grp, pos, w, count(*) OVER (PARTITION BY id, grp) AS n FROM cand
),
wscore AS (
  SELECT w, (1000000 * CAST(sum(n) AS BIGINT)) // count(*) AS ws_ppm
  FROM with_len GROUP BY 1
),
phrases AS (
  SELECT phrase, CAST(max(score_ppm) AS BIGINT) AS score_ppm,
         CAST(max(n_words) AS BIGINT) AS n_words
  FROM (
    SELECT id, grp, string_agg(w, ' ' ORDER BY pos) AS phrase,
           sum(ws_ppm) AS score_ppm, max(n) AS n_words
    FROM with_len JOIN wscore USING (w)
    GROUP BY id, grp
  ) GROUP BY phrase
)
SELECT CAST(row_number() OVER (ORDER BY score_ppm DESC, phrase) AS BIGINT) AS rank,
       phrase, n_words, score_ppm
FROM phrases
ORDER BY score_ppm DESC, phrase
LIMIT {RAKE_KEYWORDS_K}
"""

TOKENIZER_FERTILITY_GROUP_COLS = ("lang", "source")
TOKENIZER_FERTILITY_N_MERGES = 3


def tokenizer_fertility(docs: DataFrame) -> DataFrame:
    """Tokenizer fertility audit: per corpus segment (lang, source), the
    tokens-per-word and tokens-per-character ratios of the trained BPE
    tokenizer -- the standard multilingual-tokenizer cost metric (a
    segment with fertility 2x pays 2x the sequence length for the same
    text, which is how vocab under-coverage of a language shows up in
    training cost). Composes the gated train -> apply loop: per-doc
    counts from :func:`bpe_encode`, grouped over the segment columns.
    Output (group..., n_docs, n_words, n_tokens, fertility_ppm,
    compression_ppm), ratios as exact integer ppm (guarded DIV -- a
    segment with zero alpha words reports 0).

    GATED ROUND 9 (promoted from the staged backlog).

    Scale shape (100 TB): bpe_encode's work is vocab-bounded (see its
    docstring); the segment join is a column-pruned doc_id -> group
    projection joined on the doc key, and the profile folds with
    map-side partials to a vocabulary-bounded relation."""
    # r14 optimization (guide §2.4): join the per-doc counts LEFT onto the
    # segment frame directly instead of inner-joining bpe_encode's output
    # (which left-joins the same docs table's id frame first) -- seg and
    # the id frame hold the SAME id set, so seg LEFT JOIN counts +
    # coalesce-to-0 is row-identical and one corpus scan + one join
    # cheaper. The coalesce keeps an (unlikely) all-zero-alpha segment's
    # sums at 0 instead of NULL, exactly what the inner-join form produced.
    per = _bpe_encode_counts(docs, TOKENIZER_FERTILITY_N_MERGES)
    seg = docs.select(F.col("doc_id"), *[F.col(c) for c in TOKENIZER_FERTILITY_GROUP_COLS])
    z = F.lit(0).cast("bigint")
    agg = (
        seg.join(per, "doc_id", "left")
        .groupBy(*TOKENIZER_FERTILITY_GROUP_COLS)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.coalesce(F.col("n_words"), z)).cast("bigint").alias("n_words"),
            F.sum(F.coalesce(F.col("n_chars"), z)).cast("bigint").alias("n_chars"),
            F.sum(F.coalesce(F.col("n_tokens"), z)).cast("bigint").alias("n_tokens"),
        )
    )
    return agg.select(
        *TOKENIZER_FERTILITY_GROUP_COLS,
        "n_docs",
        "n_words",
        "n_tokens",
        F.when(
            F.col("n_words") > 0,
            F.expr("(1000000 * n_tokens) DIV n_words"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("fertility_ppm"),
        F.when(
            F.col("n_chars") > 0,
            F.expr("(1000000 * n_tokens) DIV n_chars"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("compression_ppm"),
    )


def tokenizer_fertility_sql() -> str:
    """DuckDB twin of :func:`tokenizer_fertility`: the full bpe_encode
    oracle nested as a CTE (DuckDB allows WITH inside CTE bodies -- the
    ann_recall_at_k / incremental_corpus precedent), joined to the
    segment columns and folded with the same guarded integer ppm."""
    enc = bpe_encode_sql(n_merges=TOKENIZER_FERTILITY_N_MERGES)
    grp = ", ".join(TOKENIZER_FERTILITY_GROUP_COLS)
    grp_d = ", ".join(f"d.{c}" for c in TOKENIZER_FERTILITY_GROUP_COLS)
    return f"""
WITH enc AS ({enc}),
agg AS (
  SELECT {grp_d},
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(e.n_words) AS BIGINT) AS n_words,
         CAST(sum(e.n_chars) AS BIGINT) AS n_chars,
         CAST(sum(e.n_tokens) AS BIGINT) AS n_tokens
  FROM documents d JOIN enc e ON e.doc_id = d.doc_id
  GROUP BY {grp_d}
)
SELECT {grp}, n_docs, n_words, n_tokens,
       CAST(CASE WHEN n_words > 0
            THEN (1000000 * n_tokens) // n_words ELSE 0 END AS BIGINT)
         AS fertility_ppm,
       CAST(CASE WHEN n_chars > 0
            THEN (1000000 * n_tokens) // n_chars ELSE 0 END AS BIGINT)
         AS compression_ppm
FROM agg
"""

FEATURE_HASHING_PROFILE_N_BUCKETS = 16


def feature_hashing_profile(
    docs: DataFrame, n_buckets: int = FEATURE_HASHING_PROFILE_N_BUCKETS
) -> DataFrame:
    """Hashing-trick (feature hashing / HashingVectorizer) collision
    audit: every token maps to bucket = md5(token) % n_buckets with the
    Weinberger et al. sign trick (a second hash bit decides +/-, which
    keeps the hashed inner product unbiased under collisions); the
    profile reports, per bucket, the total occurrence count, the SIGNED
    count sum the vectorizer would actually store, and the distinct
    tokens mapped there (distinct - 1 = collisions) -- the audit run
    before fixing a hash dimension for a 100 TB vectorization job.
    Output (bucket, total_count, signed_sum, distinct_tokens), all
    BIGINT, n_buckets rows.

    Gated since round 13 (catalog name feature_hashing_profile).

    Scale shape (100 TB): tokenize + hash are map-side (widened scan --
    the per-row HOF rule), one hash groupBy to the n_buckets-bounded
    profile; distinct tokens per bucket is the standard two-level
    aggregate (token-level partial first). Zero float ops. The default
    n_buckets (16) sits below this corpus's ~31-token vocabulary ON
    PURPOSE: the audit exists to SHOW collisions and sign cancellation;
    a production dimension would be 2^18+."""
    toks = _widened(docs).select(F.explode(words()).alias("tok"))
    h = md5_long(F.col("tok"))
    keyed = toks.select(F.col("tok"), h.alias("h")).select(
        "tok",
        (F.col("h") % n_buckets).alias("bucket"),
        # sign trick: the next hash bit above the bucket bits (md5_long is
        # nonnegative, so div/% are engine-safe)
        F.when(F.expr(f"(h div {n_buckets}) % 2") == 0, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("s"),
    )
    per_tok = keyed.groupBy("bucket", "tok", "s").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return per_tok.groupBy("bucket").agg(
        F.sum("c").cast("bigint").alias("total_count"),
        F.sum(F.col("s") * F.col("c")).cast("bigint").alias("signed_sum"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_tokens"),
    )


def feature_hashing_profile_sql() -> str:
    """DuckDB twin of :func:`feature_hashing_profile`: same md5 bucket,
    sign bit, and two-level fold."""
    h = md5_long_sql("tok")
    return f"""
WITH toks AS (
  SELECT unnest({words_sql()}) AS tok FROM documents
),
keyed AS (
  SELECT tok, {h} % {FEATURE_HASHING_PROFILE_N_BUCKETS} AS bucket,
         CASE WHEN ({h} // {FEATURE_HASHING_PROFILE_N_BUCKETS}) % 2 = 0 THEN 1 ELSE -1 END AS s
  FROM toks
),
per_tok AS (
  SELECT bucket, tok, s, CAST(count(*) AS BIGINT) AS c
  FROM keyed GROUP BY 1, 2, 3
)
SELECT bucket,
       CAST(sum(c) AS BIGINT) AS total_count,
       CAST(sum(s * c) AS BIGINT) AS signed_sum,
       CAST(count(*) AS BIGINT) AS distinct_tokens
FROM per_tok GROUP BY 1
"""

VOCAB_DRIFT_HALVES_K = 10


def vocab_drift_halves(docs: DataFrame, k: int = VOCAB_DRIFT_HALVES_K) -> DataFrame:
    """Crawl-order vocabulary drift: token occurrence RATES in the first
    half of the corpus (by document id, i.e. crawl order) vs the second
    half, reported for the union of the two halves' top-k tokens -- the
    'did the distribution move under me' check a continuously-ingesting
    corpus runs between snapshots, next to Heaps' growth (volume) and
    centroid drift (embeddings). Output (token, cnt_first, cnt_second,
    rate_first_ppm, rate_second_ppm, delta_ppm), rates as exact integer
    ppm of each half's token volume, delta possibly negative (a plain
    BIGINT subtraction -- no engine-divergent negative division
    anywhere).

    Gated since round 13 (catalog name vocab_drift_halves).

    Scale shape (100 TB): the split point is a 1-row min/max broadcast
    (integer midpoint); per-token half counts come from ONE conditional
    aggregate over the tokenized scan (never two passes); each half's
    top-k is a distributed TakeOrdered (orderBy().limit(k)) over the
    vocab-bounded counts -- no unpartitioned window, no full sort; the
    union (<= 2k rows) broadcasts back onto the counts frame."""
    toks = _widened(docs).select(
        F.col("doc_id").alias("id"), F.explode(words()).alias("tok")
    )
    bounds = docs.agg(
        F.expr("(min(doc_id) + max(doc_id)) DIV 2").alias("mid")
    )
    counted = (
        toks.crossJoin(F.broadcast(bounds))
        .groupBy("tok")
        .agg(
            F.sum(F.when(F.col("id") <= F.col("mid"), 1).otherwise(0))
            .cast("bigint")
            .alias("c1"),
            F.sum(F.when(F.col("id") > F.col("mid"), 1).otherwise(0))
            .cast("bigint")
            .alias("c2"),
        )
        .localCheckpoint()  # vocab-bounded; feeds totals + two top-k + join
    )
    totals = counted.agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    top1 = counted.orderBy(F.desc("c1"), F.asc("tok")).limit(k).select("tok")
    top2 = counted.orderBy(F.desc("c2"), F.asc("tok")).limit(k).select("tok")
    sel = top1.union(top2).distinct()
    return (
        counted.join(F.broadcast(sel), "tok")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("tok").alias("token"),
            F.col("c1").alias("cnt_first"),
            F.col("c2").alias("cnt_second"),
            F.expr("CASE WHEN n1 > 0 THEN (1000000 * c1) DIV n1 ELSE 0 END")
            .cast("bigint")
            .alias("rate_first_ppm"),
            F.expr("CASE WHEN n2 > 0 THEN (1000000 * c2) DIV n2 ELSE 0 END")
            .cast("bigint")
            .alias("rate_second_ppm"),
        )
        .withColumn(
            "delta_ppm",
            (F.col("rate_second_ppm") - F.col("rate_first_ppm")).cast("bigint"),
        )
    )


def vocab_drift_halves_sql() -> str:
    """DuckDB twin of :func:`vocab_drift_halves`: same midpoint split,
    conditional counts, ORDER BY/LIMIT top-k unions, and guarded ppm."""
    w = words_sql()
    return f"""
WITH toks AS (
  SELECT doc_id AS id, unnest({w}) AS tok FROM documents
),
bounds AS (
  SELECT (min(doc_id) + max(doc_id)) // 2 AS mid FROM documents
),
counted AS (
  SELECT tok,
         CAST(sum(CASE WHEN id <= mid THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN id > mid THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM toks, bounds GROUP BY tok
),
totals AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM counted),
sel AS (
  SELECT tok FROM (SELECT tok FROM counted ORDER BY c1 DESC, tok LIMIT {VOCAB_DRIFT_HALVES_K})
  UNION
  SELECT tok FROM (SELECT tok FROM counted ORDER BY c2 DESC, tok LIMIT {VOCAB_DRIFT_HALVES_K})
)
SELECT c.tok AS token, c.c1 AS cnt_first, c.c2 AS cnt_second,
       CAST(CASE WHEN n1 > 0 THEN (1000000 * c1) // n1 ELSE 0 END AS BIGINT)
         AS rate_first_ppm,
       CAST(CASE WHEN n2 > 0 THEN (1000000 * c2) // n2 ELSE 0 END AS BIGINT)
         AS rate_second_ppm,
       CAST(CASE WHEN n2 > 0 THEN (1000000 * c2) // n2 ELSE 0 END
          - CASE WHEN n1 > 0 THEN (1000000 * c1) // n1 ELSE 0 END AS BIGINT)
         AS delta_ppm
FROM counted c JOIN sel USING (tok), totals
"""
